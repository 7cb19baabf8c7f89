package graft.streaming

import java.sql.Timestamp

import org.apache.datasketches.theta.{CompactSketch, SetOperation, Sketches}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.TextOps

/** Streaming ingest operators for training-data pipelines.
  *
  * [[dropDuplicateDocs]]: exact content dedup on a continuous document
  * stream. State is ONE 16-byte fingerprint per distinct document inside
  * the watermark horizon — never the text — and Spark evicts it as the
  * watermark advances, so state is bounded by (ingest rate × horizon),
  * not corpus size. This is the streaming face of
  * [[graft.operators.DedupOps.exactDedup]]: same fingerprint, same
  * keep-first semantics.
  *
  * [[sessionize]]: event-gap sessionization with sketch-carrying custom
  * state (`flatMapGroupsWithState` + event-time timeout). Each user's
  * state holds counters plus a serialized theta sketch of distinct event
  * types — the sketch-as-state pattern: mergeable, bounded (~KB), and the
  * emitted session rows carry re-aggregatable sketch BLOBs downstream.
  */
object StreamingDedup {

  /** Drop documents whose normalized-content fingerprint already appeared
    * within the watermark horizon (keep-first). */
  def dropDuplicateDocs(docs: DataFrame, tsCol: String, textCol: String,
                        watermark: String = "1 hour"): DataFrame =
    docs.withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  case class AdmittedDoc(doc_id: Long, text: String)

  /** LIFETIME streaming dedup with BOUNDED state: one bloom filter per
    * shard instead of one fingerprint per document. `dropDuplicateDocs`
    * is exact but its state grows with (rate × horizon) and dedups only
    * within the watermark window; this variant dedups against everything
    * ever admitted, with state fixed at shards × filter-size forever —
    * the ingest-time analog of [[graft.operators.IncrementalDedup]]'s
    * persisted history filter. The trade: bloom false positives drop a
    * ~fpp fraction of NOVEL documents (a "seen" verdict that wasn't);
    * true duplicates are always dropped (no false negatives). For crawl
    * ingest, losing 1% of novel docs for O(1) memory is the standard
    * production trade; size `maxDistinctPerShard` so corpus/shards stays
    * under it to hold the advertised fpp.
    *
    * Scale shape: fingerprints hash-partition across `shards` keyed
    * states, so the filters spread over executors like any keyed state
    * and the per-batch work per shard is its slice of the batch. No
    * timeout: the state is the product, not a window artifact.
    */
  case class BloomDedupSizing(shards: Int, maxDistinctPerShard: Long)

  /** Capacity headroom applied over caller-estimated corpus sizes — 30%
    * covers both estimate error and (on the sharded streaming geometry)
    * binomial hash imbalance across shards. Shared with the single-blob
    * batch filters in [[graft.operators.IncrementalDedup]] so the two
    * ingest shapes can't drift apart on sizing policy. */
  val CapacityHeadroom = 1.3

  /** Derive (shards, per-shard capacity) from the expected LIFETIME corpus
    * size and target fpp, so the state/fpp trade cannot be misconfigured:
    * exceeding a bloom filter's design capacity silently degrades its fpp
    * (the one guarantee the operator advertises), while oversizing the
    * filter taxes every micro-batch (per-TOUCHED-shard heapify+serialize
    * scales with filter bytes — the r10 1<<20 right-sizing finding).
    *
    * Per-shard capacity comes from the per-shard byte budget via the
    * standard bloom bound m = -n·ln(p)/ln(2)² bits; shard count then
    * covers expectedDocs at that capacity with 30% headroom for hash
    * imbalance (binomial skew across xxhash64-partitioned shards is <<30%
    * at any realistic per-shard count). More shards also means more keyed-
    * state parallelism — they spread across executors like any state. */
  def bloomSizing(expectedDocs: Long, fpp: Double = 0.01,
                  targetShardBytes: Long = 1280L << 10): BloomDedupSizing = {
    // default budget 1.25 MiB/shard ≈ capacity 2^20 at fpp 0.01 — the
    // per-batch-cost sweet spot established by the r10 default change
    require(expectedDocs > 0, s"expectedDocs must be positive, got $expectedDocs")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val ln2sq = math.log(2) * math.log(2)
    val capacity = math.max(1L,
      (targetShardBytes * 8L * ln2sq / -math.log(fpp)).toLong)
    val shards = math.max(1L,
      math.ceil(expectedDocs * CapacityHeadroom / capacity).toLong)
    require(shards <= (1 << 16),
      s"$expectedDocs docs need $shards shards at $targetShardBytes B/shard — " +
        "raise targetShardBytes (state would shatter into too many keys)")
    BloomDedupSizing(shards.toInt, capacity)
  }

  /** [[dropDuplicateDocsBloom]] with the state geometry derived from the
    * expected lifetime corpus size instead of hand-picked shard counts. */
  def dropDuplicateDocsBloomSized(docs: DataFrame, idCol: String, textCol: String,
                                  expectedDocs: Long,
                                  fpp: Double = 0.01): Dataset[AdmittedDoc] = {
    val s = bloomSizing(expectedDocs, fpp)
    dropDuplicateDocsBloom(docs, idCol, textCol, s.shards, s.maxDistinctPerShard, fpp)
  }

  def dropDuplicateDocsBloom(docs: DataFrame, idCol: String, textCol: String,
                             shards: Int = 64,
                             maxDistinctPerShard: Long = 1 << 20,
                             fpp: Double = 0.01): Dataset[AdmittedDoc] = {
    // default capacity: 64 shards × 1M ≈ 67M docs at the advertised fpp,
    // ~1.2 MB serialized per shard — each micro-batch pays one
    // heapify + serialize per TOUCHED shard, so filter size is a real
    // per-batch cost, not just resident state
    val spark = docs.sparkSession
    import spark.implicits._
    val fpCol = TextOps.fingerprint(col(textCol))
    docs.select(
        pmod(xxhash64(fpCol), lit(shards)).cast("int").as("shard"),
        col(idCol).cast("long").as("doc_id"),
        col(textCol).cast("string").as("text"),
        fpCol.as("fp"))
      .as[(Int, Long, String, String)] // (shard, doc_id, text, fp)
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[(Int, Long, String, String)],
         state: GroupState[Array[Byte]]) =>
          val filter =
            if (state.exists) graft.sketch.Bloom.heapify(state.get)
            else graft.sketch.Bloom.create(maxDistinctPerShard, fpp)
          val admitted = rows.flatMap { case (_, docId, text, fp) =>
            val bytes = fp.getBytes("UTF-8")
            if (filter.query(bytes)) None
            else { filter.update(bytes); Some(AdmittedDoc(docId, text)) }
          }.toVector // drain before persisting the updated filter
          state.update(filter.toByteArray)
          admitted.iterator
      }
  }

  case class SessionState(start: Timestamp, last: Timestamp, events: Long,
                          thetaBytes: Array[Byte])
  case class SessionSummary(user_id: Long, session_start: Timestamp,
                            session_end: Timestamp, events: Long,
                            approx_distinct_types: Long,
                            types_sketch: Array[Byte])

  private def summary(userId: Long, s: SessionState): SessionSummary = {
    val est = CompactSketch.wrap(
      org.apache.datasketches.memory.Memory.wrap(s.thetaBytes)).getEstimate
    SessionSummary(userId, s.start, s.last, s.events, math.round(est), s.thetaBytes)
  }

  /** A session being extended within one micro-batch: counters plus a
    * LIVE theta Union, serialized only at a state boundary (batch end or
    * session close). The per-event alternative — fresh sketch, union,
    * serialize for every event — costs a builder + compact + byte copy
    * per event and dominated the replay benchmark; raw `Union.update`
    * makes per-event cost one hash. */
  private final class LiveSession(var start: Timestamp, var last: Timestamp,
                                  var events: Long,
                                  val union: org.apache.datasketches.theta.Union) {
    def close(): SessionState =
      SessionState(start, last, events, union.getResult.toByteArray)
  }

  private def openSession(ts: Timestamp, tpe: String,
                          resume: SessionState = null): LiveSession = {
    val u = SetOperation.builder().buildUnion()
    if (resume != null) {
      u.union(Sketches.wrapCompactSketch(
        org.apache.datasketches.memory.Memory.wrap(resume.thetaBytes)))
      u.update(tpe)
      new LiveSession(resume.start, ts, resume.events + 1, u)
    } else {
      u.update(tpe)
      new LiveSession(ts, ts, 1L, u)
    }
  }

  /** Event-gap sessionization: a user's session closes after `gapMinutes`
    * of silence (enforced via event-time timeout against the watermark).
    * Emits one row per closed session; state per live user is O(1) + a
    * compact theta sketch.
    *
    * @param events streaming DataFrame with (ts TIMESTAMP, user_id LONG,
    *               event_type STRING) columns
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30,
                 watermark: String = "2 hours"): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L

    events.selectExpr("CAST(user_id AS LONG) AS user_id", "ts",
        "CAST(event_type AS STRING) AS event_type")
      .withWatermark("ts", watermark)
      .as[(Long, Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[(Long, Timestamp, String)],
         state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // silence exceeded the gap: close and emit the session
            val out = state.getOption.map(s => summary(userId, s))
            state.remove()
            out.iterator
          } else {
            val batch = rows.toSeq.sortBy(_._2.getTime)
            // resume the stored session lazily: its sketch bytes are only
            // deserialized into the live Union when the first event lands
            var stored = state.getOption.orNull
            var cur: LiveSession = null
            val closed = Seq.newBuilder[SessionSummary]
            batch.foreach { case (_, ts, tpe) =>
              if (cur == null && stored == null)
                cur = openSession(ts, tpe)
              else if (cur == null) {
                // first event of the batch against the stored session
                if (ts.getTime - stored.last.getTime > gapMs) {
                  closed += summary(userId, stored)
                  cur = openSession(ts, tpe)
                } else cur = openSession(ts, tpe, resume = stored)
                stored = null
              } else if (ts.getTime - cur.last.getTime > gapMs) {
                // in-batch gap: close the previous session immediately
                closed += summary(userId, cur.close())
                cur = openSession(ts, tpe)
              } else {
                cur.union.update(tpe)
                cur.last = ts
                cur.events += 1
              }
            }
            if (cur != null) {
              val s = cur.close()
              state.update(s)
              // close when the watermark passes last-event + gap
              state.setTimeoutTimestamp(s.last.getTime + gapMs)
            }
            closed.result().iterator
          }
        })
  }

  /** STREAMING ingest curation — [[graft.operators.Pipeline.curateIncremental]]
    * as a foreachBatch sink: every micro-batch is judged against the
    * seed snapshot PLUS everything previously admitted, and ONE
    * relation per trigger is appended to `path`: the decision rows WITH
    * the kept docs' cleaned text and a `batch_id`. That single append is
    * both the audit log (project the decision columns) and the corpus
    * store (filter `decision = 'kept'`, project id + cleaned text) — so
    * batch N+1's exact/span/near/semantic stages see batch N's
    * admissions as history with no separate store write (r15 verdict #4:
    * the earlier two-artifact layout paid a second parquet write plus a
    * re-read every trigger for the same information). Every stage of
    * `curateIncremental` is eagerly checkpointed, so the stages' history
    * reads of `path` finish before the append job starts. The append job
    * itself reads `path` only when [[replaySuspected]] fires: the batch is
    * then anti-joined against the store's ids, and that batch is the
    * assembly's base relation, so the append scans `path` while writing
    * to it. The append is still correct: the scan lists the store's files
    * when the batch relation is built, before the job writes its new part
    * files, and the anti-join only drops ids that are already stored, so
    * no appended row depends on a row the same job writes.
    *
    * Centroids — and the optional NB quality model (`nbModel`, the
    * [[graft.operators.TextOps.seedCrawlNbFit]] artifact) — are FIXED
    * snapshot artifacts built before the stream starts (the q103
    * stored-geometry discipline), so cell assignment and admission
    * quality never drift mid-stream. State is the store itself; the
    * streaming query holds nothing between triggers. `embeddings` has
    * `vec_id` and `embedding` columns. */
  def curateSink(batches: DataFrame, seedHistory: DataFrame,
                 embeddings: DataFrame, idCol: String, textCol: String,
                 centroids: Array[Array[Double]],
                 path: String,
                 nbModel: Option[graft.operators.TextOps.NbModel] = None,
                 minNbScoreU: Long = 0L,
                 benchmark: Option[DataFrame] = None,
                 benchmarkEmb: Option[DataFrame] = None,
                 contamNgramK: Int = 13,
                 contamCosTau: Double = 0.4,
                 video: Option[DataFrame] = None,
                 videoContainer: graft.operators.VideoOps.VideoContainer =
                   graft.operators.VideoOps.GvidContainer,
                 audio: Option[DataFrame] = None,
                 ruleParams: Option[graft.operators.QualityFilters.RuleParams] = None,
                 piiRedactOutput: Boolean = false):
      org.apache.spark.sql.streaming.StreamingQuery = {
    batches.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        curateBatch(batch.toDF(), id, seedHistory, embeddings, idCol, textCol,
          centroids, path, nbModel, minNbScoreU, benchmark, benchmarkEmb,
          contamNgramK, contamCosTau, video, videoContainer, audio,
          ruleParams, piiRedactOutput)
      }
      .start()
  }

  /** In-JVM high-water mark of batch ids appended to each store path by
    * THIS process (r22): steady-state triggers (fresh query, monotonically
    * advancing batchIds) were documented as "never paying the anti-join",
    * but every trigger over a non-empty store still paid the
    * [[replaySuspected]] footer-stats scan — one full Spark job per
    * micro-batch of pure guard overhead. The sink owns its store (the
    * foreachBatch single-writer contract this file already assumes — a
    * concurrent writer would corrupt the admission history regardless of
    * this guard), so after ONE initializing scan the mark is exact: a
    * trigger with id above everything this JVM has seen or written cannot
    * be a replay, and anything else falls back to the content anti-join
    * exactly as before. A fresh JVM (post-failure restart — the replay
    * case the guard exists for) starts with an empty map and pays the
    * scan, same as the prior shape. */
  private val storeHwm = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** True iff the store may already hold rows at trigger `id` or later —
    * this invocation MAY be a post-failure REPLAY. Spark's exactly-once
    * contract for foreachBatch is "same batchId, same data, caller
    * dedupes": after a driver restart the engine re-invokes the function
    * with the batchId it could not confirm, so an unguarded append
    * double-writes — and because these stores are read back as admission
    * history, the duplicates would poison every later trigger's verdicts,
    * not just the audit log. This check alone cannot distinguish a replay
    * from a FRESH query (new checkpoint) over an existing store, whose
    * batchIds legitimately restart at 0 — so callers treat it as a cheap
    * suspicion trigger (max over one BIGINT column is a parquet
    * footer-stats scan) and confirm by content: anti-join the batch's ids
    * against the store, so replayed rows vanish and genuinely new docs
    * under a recycled batchId still land. Steady-state triggers (fresh,
    * monotonically advancing batchIds) never pay the anti-join, and only
    * a store's first trigger in this JVM pays the scan ([[storeHwm]]). */
  private def replaySuspected(spark: org.apache.spark.sql.SparkSession,
                              path: String, id: Long): Boolean = {
    val key = new java.io.File(path).getAbsolutePath
    Option(storeHwm.get(key)) match {
      case Some(h) => id <= h
      case None =>
        val row = spark.read.parquet(path).agg(max(col("batch_id"))).head()
        val h = if (row.isNullAt(0)) -1L else row.getLong(0)
        storeHwm.put(key, h)
        h >= id
    }
  }

  /** Record a completed append at `id` so later triggers skip the scan. */
  private def noteBatchWritten(path: String, id: Long): Unit = {
    val key = new java.io.File(path).getAbsolutePath
    storeHwm.merge(key, id, (a, b) => if (a >= b) a else b)
    ()
  }

  private def storeNonEmpty(path: String): Boolean = {
    val d = new java.io.File(path)
    d.exists() && Option(d.list()).exists(_.exists(!_.startsWith("_")))
  }

  /** The per-trigger body of [[curateSink]], exposed so the replay guard
    * is testable: invoking it twice at the same `id` must leave the store
    * identical (StreamingSpec pins this). */
  private[graft] def curateBatch(batch: DataFrame, id: Long,
                 seedHistory: DataFrame, embeddings: DataFrame,
                 idCol: String, textCol: String,
                 centroids: Array[Array[Double]], path: String,
                 nbModel: Option[graft.operators.TextOps.NbModel] = None,
                 minNbScoreU: Long = 0L,
                 benchmark: Option[DataFrame] = None,
                 benchmarkEmb: Option[DataFrame] = None,
                 contamNgramK: Int = 13,
                 contamCosTau: Double = 0.4,
                 video: Option[DataFrame] = None,
                 videoContainer: graft.operators.VideoOps.VideoContainer =
                   graft.operators.VideoOps.GvidContainer,
                 audio: Option[DataFrame] = None,
                 ruleParams: Option[graft.operators.QualityFilters.RuleParams] = None,
                 piiRedactOutput: Boolean = false): Unit = {
    val spark = batch.sparkSession
    val b0 = batch.select(col(idCol), col(textCol))
    val hasStore = storeNonEmpty(path)
    val b =
      if (hasStore && replaySuspected(spark, path, id))
        b0.join(spark.read.parquet(path).select(col(idCol)), Seq(idCol), "left_anti")
      else b0
    if (!b.isEmpty) {
      val admitted =
        if (hasStore)
          spark.read.parquet(path).filter(col("decision") === "kept")
            .select(col(idCol), col("cleaned_text").as(textCol))
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], b.schema)
      val history = seedHistory.select(col(idCol), col(textCol))
        .unionByName(admitted)
      // Under PII redaction the store's cleaned_text is MASKED, so
      // fingerprinting it would miss a re-ingested duplicate of an
      // admitted PII-bearing doc (r19 advice). The store persists the
      // pre-redaction fingerprint per kept row; feed those back so the
      // exact-vs-history verdict is invariant under masking. (The span/
      // near cross stages still judge against the released text — masked
      // tokens differ, so those stages are conservative under redaction;
      // exact dedup is the stage the invariant names, and it is exact.)
      val historyFps =
        if (piiRedactOutput && hasStore)
          Some(spark.read.parquet(path).filter(col("decision") === "kept")
            .select(col("unredacted_fp").as("fp")))
        else None
      graft.operators.Pipeline.curateIncremental(
          history, b, embeddings, idCol, textCol,
          centroids = Some(centroids), keepCleanedText = true,
          nbModel = nbModel, minNbScoreU = minNbScoreU,
          benchmark = benchmark, benchmarkEmb = benchmarkEmb,
          contamNgramK = contamNgramK, contamCosTau = contamCosTau,
          video = video, videoContainer = videoContainer, audio = audio,
          ruleParams = ruleParams, piiRedactOutput = piiRedactOutput,
          historyFps = historyFps)
        .withColumn("batch_id", lit(id))
        .write.mode("append").parquet(path)
      noteBatchWritten(path, id)
    }
    ()
  }

  /** Streaming SEMANTIC dedup (`foreachBatch`) against the kept corpus
    * accumulated at `path` — the streaming face of
    * [[graft.operators.KMeansOps.incrementalSemDedup]], closing the
    * streaming loop on the semantic family the way bloom dedup closes it
    * for exact content. Per micro-batch a row is dropped by any
    * same-cluster stored kept row or a smaller-id same-cluster batch
    * mate within `tau`.
    *
    * One relation per trigger (the r16 `curateSink` layout): the verdict
    * rows carry their vectors and a `batch_id`, so a single append is
    * both the audit log (project id/cluster/kept/batch_id) and the
    * kept-corpus store (filter `kept`, project id + vector). The verdict
    * is `localCheckpoint`ed BEFORE the append: its plan reads `path`
    * through the store side, and the checkpoint materializes it so no
    * job reads and writes the same files.
    *
    * Centroids are the pre-trained model artifact
    * ([[graft.operators.KMeansOps.fitSampled]] — at 100 TB you train the
    * quantizer on a bounded sample before the stream starts). State is
    * the store itself: kept vectors × (id + vec) — the curated corpus a
    * production pipeline persists anyway, not engine state; the
    * streaming query holds nothing between triggers. */
  def semDedupSink(batches: DataFrame, idCol: String, vecCol: String,
                   centroids: Array[Array[Double]], tau: Double,
                   path: String):
      org.apache.spark.sql.streaming.StreamingQuery = {
    batches.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        semDedupBatch(batch.toDF(), id, idCol, vecCol, centroids, tau, path)
      }
      .start()
  }

  /** The per-trigger body of [[semDedupSink]], exposed so the replay
    * guard ([[replaySuspected]]) is testable in isolation. */
  private[graft] def semDedupBatch(batch: DataFrame, id: Long,
                                   idCol: String, vecCol: String,
                                   centroids: Array[Array[Double]],
                                   tau: Double, path: String): Unit = {
    val spark = batch.sparkSession
    val b0 = batch.select(col(idCol), col(vecCol))
    val hasStore = storeNonEmpty(path)
    val b =
      if (hasStore && replaySuspected(spark, path, id))
        b0.join(spark.read.parquet(path).select(col("id").as(idCol)),
          Seq(idCol), "left_anti")
      else b0
    if (!b.isEmpty) {
      val store =
        if (hasStore)
          spark.read.parquet(path).filter(col("kept"))
            .select(col("id").as(idCol), col(vecCol))
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], b.schema)
      graft.operators.KMeansOps
        .incrementalSemDedup(store, b, idCol, vecCol, centroids, tau)
        .join(b.select(col(idCol).as("__vid"), col(vecCol)),
          col("id") === col("__vid"))
        .drop("__vid")
        .withColumn("batch_id", lit(id))
        .localCheckpoint(eager = true)
        .write.mode("append").parquet(path)
      noteBatchWritten(path, id)
    }
    ()
  }
}
