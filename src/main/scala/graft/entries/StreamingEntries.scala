package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Structured Streaming queries: bloom dedup, sessionization, windowed sketch
  * aggregation, sketch-table sinks, streaming drift and semantic dedup —
  * each a MemoryStream replay oracle-equivalent to its batch twin.
  *
  * Split from SparkEntry (r15): entries and oracle SQL verbatim, combined
  * by [[SparkEntry.queries]] / [[SparkEntry.oracleSql]]. */
private[graft] trait StreamingEntries extends EntryInfra {

  /** State-store tasks per micro-batch = shuffle partitions at stream
    * start; the replayed slices hold a handful of keys per trigger, so 4
    * halves the fixed per-batch dispatch vs 8 (measured −10..15% on the
    * replay floors; q70 stays at 8 = its bloom shard count so no task
    * serializes two shard filters). */
  private val replayStateParts = 4

  /** The `user_id % 7` events slice replayed in thirds through
    * [[streaming.StreamingSketches.sinkToSketchTable]] (1-hour windows,
    * 2-hour watermark) into a temp dir; `read` of that dir is the result,
    * materialized before the stream stops and the dir is deleted. */
  private def replayIntoSketchTable(spark: SparkSession)(read: String => DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val slice = spark.table("events")
      .filter(col("user_id") % 7 === 0)
      .select(col("ts"), col("user_id").cast("long"), col("event_type"),
        col("value").cast("double"))
      .as[(java.sql.Timestamp, Long, String, Double)]
      .collect().sortBy(_._1.getTime)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Long, String, Double)]
    val dir = java.nio.file.Files.createTempDirectory("graft_sketch_sink").toString
    val query = withShufflePartitions(spark, replayStateParts) {
      streaming.StreamingSketches.sinkToSketchTable(
        mem.toDF().toDF("ts", "user_id", "event_type", "value"), dir,
        window = "1 hour", watermark = "2 hours")
    }
    materializedThen {
      val third = math.max(1, (slice.length + 2) / 3)
      slice.grouped(third).foreach { batch =>
        mem.addData(batch.toSeq); query.processAllAvailable()
      }
      read(dir)
    } {
      query.stop()
      deleteRec(new java.io.File(dir))
    }
  }

  protected def streamingQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- streaming surface, oracle-checked: replay a corpus slice through
    //    the LIFETIME bloom dedup (3 micro-batches), then replay it AGAIN —
    //    cross-batch state must admit exactly the distinct fingerprints on
    //    pass one and nothing on pass two. Equivalence to the batch answer
    //    holds because filters are sized far above the slice (zero false
    //    positives, deterministic for fixed hashes); true duplicates can
    //    never be admitted (no false negatives). MemoryStream replay is a
    //    driver-side test HARNESS for the gate, not the operator's scale
    //    path — production reads Kafka/files with identical keyed state. --
    "q70_streaming_bloom_dedup" -> qd { spark =>
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val slice = spark.table("documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val admitted = streaming.StreamingDedup.dropDuplicateDocsBloom(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        shards = 8, maxDistinctPerShard = 1 << 17)
      val sink = s"q70_admitted_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      // per-trigger cost is state-store tasks (one bloom heapify+serialize
      // per touched shard-partition); 8 keyed shards need nowhere near the
      // session's 32 shuffle partitions — pin the stream's state geometry
      // down for the replay harness (a real deployment sizes it to its
      // executor count)
      val query = withShufflePartitions(spark, 8) {
        admitted.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
      }
      try {
        val half = math.max(1, (slice.length + 1) / 2)
        slice.grouped(half).foreach { batch =>
          mem.addData(batch.toSeq); query.processAllAvailable()
        }
        val passOne = spark.table(sink).count()
        mem.addData(slice.toSeq) // full replay: lifetime state must reject all
        query.processAllAvailable()
        val replayAdmitted = spark.table(sink).count() - passOne
        Seq((slice.length.toLong, passOne, replayAdmitted))
          .toDF("corpus_docs", "admitted_first_pass", "admitted_replay")
      } finally {
        query.stop()
        spark.catalog.dropTempView(sink)
      }
    },

    // -- streaming sessionization, oracle-checked: replay an events slice
    //    chronologically through `sessionize` (event-gap sessions with
    //    sketch-carrying flatMapGroupsWithState state), flush every open
    //    session with watermark-advancing sentinels, and compare against
    //    the batch gap-and-island answer. Exact regime: the theta sketch
    //    in session state (default lg_k) is exact at ≤5 distinct event
    //    types, so approx_distinct_types ≡ count(DISTINCT event_type).
    //    Timestamps compare as epoch microseconds (integer on both
    //    engines — no timestamp-encoding ambiguity in the hash). Batches
    //    are chronological, so every event is ≥ 2h-watermark + gap ahead
    //    of state timeouts (no late-event drops, no stale-timeout traps).
    //    MemoryStream replay is the test HARNESS, not the scale path. ----
    "q74_sessionize" -> qd { spark =>
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val gapMin = 360
      val slice = spark.table("events")
        .filter(col("user_id") % 20 === 0)
        .select(col("ts"), col("user_id").cast("long"), col("event_type"))
        .as[(java.sql.Timestamp, Long, String)].collect().sortBy(_._1.getTime)
      val maxTs = slice.map(_._1.getTime).max
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long, String)]
      val sessions = streaming.StreamingDedup.sessionize(
        mem.toDF().toDF("ts", "user_id", "event_type"), gapMinutes = gapMin)
      val sink = s"q74_sessions_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val query = withShufflePartitions(spark, replayStateParts) {
        sessions.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
      }
      materializedThen {
        val third = math.max(1, (slice.length + 2) / 3)
        slice.grouped(third).foreach { batch =>
          mem.addData(batch.toSeq); query.processAllAvailable()
        }
        // Sentinel user −1 far past every last-event + gap + the 2 h
        // watermark delay: sentinel 1 raises max event time, sentinel 2
        // triggers a batch that sees the advanced watermark, so every
        // real user's event-time timeout fires and its session emits.
        val hour = 3600000L
        Seq(maxTs + gapMin * 60000L + 3 * hour,
            maxTs + 2 * gapMin * 60000L + 9 * hour).foreach { t =>
          mem.addData(Seq((new java.sql.Timestamp(t), -1L, "sentinel")))
          query.processAllAvailable()
        }
        // epoch SECONDS, not micros: the nanos→micros widening in prep()
        // goes through a double division that can land one µs off
        // DuckDB's exact integer truncation; at second granularity the
        // ±1 µs band is invisible (and sessions are ≥ gap apart, so
        // second-truncated starts can't collide within a user)
        spark.table(sink)
          .filter(col("user_id") >= 0)
          .select(col("user_id"),
            col("session_start").cast("long").as("session_start_s"),
            col("session_end").cast("long").as("session_end_s"),
            col("events"), col("approx_distinct_types"))
          .orderBy("user_id", "session_start_s")
      } {
        query.stop()
        spark.catalog.dropTempView(sink)
      }
    },

    // -- streaming windowed sketch aggregation, oracle-checked: replay an
    //    events slice chronologically through StreamingSketches
    //    .windowedProfile (watermarked 1h tumbling windows holding theta +
    //    KLL + frequent-items state, merged incrementally across
    //    micro-batches), flush every window with watermark-advancing
    //    sentinels, and compare per-window distinct users + median value
    //    against the batch grouped answer. Exact regime: the %5 user
    //    slice leaves ≤10 events per hour window, so theta (4096
    //    retained) ≡ count(DISTINCT user_id) and KLL(200) retains every
    //    item — quantile(0.5, inclusive) ≡ min value at cume_dist ≥ 0.5.
    //    Sentinel windows sit ≥3h past the last real event and are
    //    filtered by window start; real windows all close because the
    //    second sentinel's batch observes watermark = sentinel1 − 2h >
    //    every real window end. MemoryStream replay is the test HARNESS;
    //    the operator itself is the 100 TB/day dashboard shape (state ∝
    //    windows × groups × sketch size, not event volume). ------------
    "q79_streaming_windowed" -> qd { spark =>
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val slice = spark.table("events")
        .filter(col("user_id") % 5 === 0)
        .select(col("ts"), col("user_id").cast("long"), col("event_type"),
          col("value").cast("double"))
        .as[(java.sql.Timestamp, Long, String, Double)]
        .collect().sortBy(_._1.getTime)
      val maxTs = slice.map(_._1.getTime).max
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long, String, Double)]
      val prof = streaming.StreamingSketches.windowedProfile(
        mem.toDF().toDF("ts", "user_id", "event_type", "value"))
      val sink = s"q79_windows_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val query = withShufflePartitions(spark, replayStateParts) {
        prof.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
      }
      materializedThen {
        val third = math.max(1, (slice.length + 2) / 3)
        slice.grouped(third).foreach { batch =>
          mem.addData(batch.toSeq); query.processAllAvailable()
        }
        val hour = 3600000L
        // sentinel 1 raises max event time 4h past the last real event;
        // sentinel 2's batch then runs with watermark = sentinel1 − 2h,
        // which exceeds every real window's end → all real windows emit
        Seq(maxTs + 4 * hour, maxTs + 8 * hour).foreach { t =>
          mem.addData(Seq((new java.sql.Timestamp(t), -1L, "sentinel", 0.0)))
          query.processAllAvailable()
        }
        spark.table(sink)
          .select(col("window_start").cast("long").as("window_start_s"),
            col("approx_users"), col("median_value"))
          .filter(col("window_start_s") <= maxTs / 1000L)
          .orderBy("window_start_s")
      } {
        query.stop()
        spark.catalog.dropTempView(sink)
      }
    },

    // -- streaming → lakehouse sketch-table loop, oracle-checked: replay
    //    an events slice through sinkToSketchTable (update-mode windowed
    //    sketches appended to parquet per micro-batch), then roll the
    //    appended rows up through the merge aggregate — duplicate window
    //    rows from successive batch updates must union away (sketch
    //    idempotence), leaving per-window distinct users ≡ the batch
    //    grouped answer (exact regime: per-window distinct users sit
    //    orders of magnitude below theta's 4096 retained). Update mode emits every touched window each batch,
    //    so no watermark sentinels are needed. -------------------------
    "q81_streaming_sketch_sink" -> qd { spark =>
      import org.apache.spark.sql.functions._
      replayIntoSketchTable(spark) { dir =>
        spark.read.parquet(dir)
          .groupBy(col("window_start"))
          .agg(call_function("datasketch_theta", col("users_sketch")).as("merged"))
          .select(col("window_start").cast("long").as("window_start_s"),
            round(call_function("datasketch_theta_estimate", col("merged")))
              .cast("long").as("approx_users"))
          .orderBy("window_start_s")
      }
    },

    // -- STREAMING drift series: the q94 probe closed over the q81
    //    sketch-table sink — replayed stream maintains per-window KLL
    //    rows, drift is a lag probe over the rolled-up sink (sketch
    //    idempotence absorbs update-mode duplicates; the sink IS the
    //    cross-window state). Exact per-pair KS from the batch twin is
    //    hash-checked; the streaming sketch KS is band-checked --------
    "q98_streaming_drift" -> qd { spark =>
      import org.apache.spark.sql.functions._
      replayIntoSketchTable(spark) { dir =>
        val stream = streaming.StreamingSketches.driftFromSketchTable(spark, dir)
          .select(col("window_start").cast("long").as("ws"),
            col("ks").as("ks_stream"), col("eps"))
        val exact = operators.DriftOps.ksSeries(
            spark.table("events").filter(col("user_id") % 7 === 0), "ts", "value")
          .select(col("h").cast("long").as("ws"), col("ks_exact"))
        stream.join(exact, Seq("ws"))
          .select(col("ws").as("window_start_s"),
            floor(col("ks_exact") * 1e6).cast("long").as("ks_exact_u"),
            (abs(col("ks_stream") - col("ks_exact")) <= col("eps")).as("ok"))
          .orderBy("window_start_s")
      }
    },

    // -- STREAMING semantic dedup: 4-batch replay through the foreachBatch
    //    kept-corpus store sink; pre-trained (sampled-fit) centroids; the
    //    final verdicts must equal the sequential batch semantics --------
    "q107_streaming_semdedup" -> qd { spark =>
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      val cent = operators.KMeansOps.fitSampled(emb, "vec_id", "embedding",
        k = 8, iters = 2, sampleHexPrefix = "0")
      val slice = emb.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect()
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])]
      val store = java.nio.file.Files.createTempDirectory("graft_ssd_store_").toString
      val query = streaming.StreamingDedup.semDedupSink(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        cent, tau = 0.35, store)
      materializedThen {
        (0 until 4).foreach { b =>
          mem.addData(slice.filter(_._1 % 4 == b).sortBy(_._1).toSeq)
          query.processAllAvailable()
        }
        spark.read.parquet(store)
          .select(col("id").as("vec_id"), col("batch_id").cast("long").as("batch"),
            col("cluster").cast("long").as("cluster"), col("kept"))
          .orderBy("vec_id")
      } {
        query.stop()
        deleteRec(new java.io.File(store))
      }
    },

    // -- STREAMING ingest curation (q115 as a foreachBatch sink): two
    //    micro-batches judged against seed + previously-ADMITTED docs
    //    (admissions join history with their CLEANED text); centroids are
    //    the fixed seed-snapshot artifact. Replay ≡ the chained batch
    //    oracle. ------------------------------------------------------
    "q118_streaming_curation" -> qdd { (spark, dir) =>
      import spark.implicits._
      import org.apache.spark.sql.functions._
      // bounded replay slice (the q39 convention): every sf0.01 id is
      // < 2000, so the correctness gate sees the full corpus; at bench
      // SFs the harness replays a fixed-size ingest
      val docs = spark.table("documents").filter(col("doc_id") < 2000)
      val emb = spark.table("embeddings")
      val seed = docs.filter(col("doc_id") % 4 === 0).select("doc_id", "text")
      // the fixed quantizer artifact, built once per corpus snapshot
      // (sharedSeedCentroids memo = the fit on the seed slice's vectors)
      val cent = sharedSeedCentroids(spark, dir)
      val slice = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val store = java.nio.file.Files.createTempDirectory("graft_cur_store_").toString
      val query = streaming.StreamingDedup.curateSink(
        mem.toDF().toDF("doc_id", "text"), seed, emb, "doc_id", "text",
        cent, store)
      materializedThen {
        Seq(1, 3).foreach { b =>
          mem.addData(slice.filter(_._1 % 4 == b).sortBy(_._1).toSeq)
          query.processAllAvailable()
        }
        spark.read.parquet(store)
          .select(col("doc_id"), col("batch_id").cast("long").as("batch"),
            col("decision"), col("removed_tokens"), col("n_tokens"),
            col("final_md5"))
          .orderBy("doc_id")
      } {
        query.stop()
        deleteRec(new java.io.File(store))
      }
    },
  )

  protected def streamingOracle: Map[String, String] = Map(
    // streaming lifetime dedup ≡ batch exact dedup on the replayed slice
    // (zero-FP regime: filters sized far above the slice), replay admits 0
    "q70_streaming_bloom_dedup" ->
      """SELECT count(*) AS corpus_docs,
        |       count(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))))
        |         AS admitted_first_pass,
        |       CAST(0 AS BIGINT) AS admitted_replay
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin,

    // streaming event-gap sessions ≡ batch gap-and-island grouping on the
    // replayed slice (exact theta regime: ≤5 distinct event types)
    "q74_sessionize" ->
      """WITH e AS (SELECT user_id, ts, event_type FROM events
        |           WHERE user_id % 20 = 0),
        |m AS (SELECT user_id, ts, event_type,
        |             CASE WHEN lag(ts) OVER w IS NULL
        |                    OR ts - lag(ts) OVER w > INTERVAL 360 MINUTE
        |                  THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |                              ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM m)
        |SELECT user_id,
        |       epoch_us(min(ts)) // 1000000 AS session_start_s,
        |       epoch_us(max(ts)) // 1000000 AS session_end_s,
        |       count(*) AS events,
        |       count(DISTINCT event_type) AS approx_distinct_types
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start_s""".stripMargin,

    // exact regime per hour window: ≤10 events (theta + KLL both exact),
    // so approx_users ≡ count distinct and the inclusive median ≡ the
    // smallest value at cume_dist ≥ 0.5
    "q79_streaming_windowed" ->
      """WITH src AS (SELECT date_trunc('hour', ts) AS h, user_id, value
        |             FROM events WHERE user_id % 5 = 0),
        |u AS (SELECT h, count(DISTINCT user_id) AS approx_users
        |      FROM src GROUP BY h),
        |m AS (SELECT h, min(CASE WHEN cd >= 0.5 THEN value END) AS median_value
        |      FROM (SELECT h, value,
        |                   cume_dist() OVER (PARTITION BY h ORDER BY value) AS cd
        |            FROM src)
        |      GROUP BY h)
        |SELECT epoch_us(u.h) // 1000000 AS window_start_s,
        |       u.approx_users, m.median_value
        |FROM u JOIN m ON u.h = m.h
        |ORDER BY window_start_s""".stripMargin,

    // exact regime per hour window (distinct users ≪ 4096 retained):
    // the rolled-up theta union ≡ count distinct
    "q81_streaming_sketch_sink" ->
      """SELECT epoch_us(date_trunc('hour', ts)) // 1000000 AS window_start_s,
        |       count(DISTINCT user_id) AS approx_users
        |FROM events WHERE user_id % 7 = 0
        |GROUP BY date_trunc('hour', ts)
        |ORDER BY window_start_s""".stripMargin,

    // the q94 exact per-pair KS restricted to the replayed slice; the
    // streaming sketch KS is the literal-true band column
    "q98_streaming_drift" ->
      """WITH e AS (SELECT date_trunc('hour', ts) AS h, value AS v FROM events
        |           WHERE user_id % 7 = 0),
        |hrs AS (SELECT DISTINCT h FROM e),
        |pairs AS (SELECT h, lag(h) OVER (ORDER BY h) AS ph FROM hrs),
        |p AS (SELECT h, ph FROM pairs WHERE ph IS NOT NULL),
        |m AS (SELECT p.h AS h, e.v,
        |             CASE WHEN e.h = p.ph THEN 1 ELSE 0 END AS ia
        |      FROM p JOIN e ON e.h = p.ph OR e.h = p.h),
        |d AS (SELECT h, v, CAST(sum(ia) AS BIGINT) AS da,
        |             CAST(sum(1 - ia) AS BIGINT) AS db FROM m GROUP BY h, v),
        |c AS (SELECT h, v, sum(da) OVER (PARTITION BY h ORDER BY v) AS ca,
        |             sum(db) OVER (PARTITION BY h ORDER BY v) AS cb FROM d),
        |n AS (SELECT h, CAST(sum(da) AS DOUBLE) AS na,
        |             CAST(sum(db) AS DOUBLE) AS nb FROM d GROUP BY h)
        |SELECT epoch_us(c.h) // 1000000 AS window_start_s,
        |       CAST(floor(max(abs(CAST(ca AS DOUBLE) / na
        |                          - CAST(cb AS DOUBLE) / nb)) * 1000000) AS BIGINT)
        |         AS ks_exact_u,
        |       true AS ok
        |FROM c JOIN n USING (h)
        |GROUP BY c.h ORDER BY window_start_s""".stripMargin,

    // sampled-fit centroids, full-corpus assignment, then the sequential
    // 4-batch kept-store semantics unrolled as chained CTEs: batch b is
    // checked against the accumulated KEPT store (any id) and its own
    // smaller-id rows (kept or not — the incremental in-batch rule)
    "q107_streaming_semdedup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |es AS (SELECT * FROM e
        |       WHERE substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v AS cv
        |       FROM es ORDER BY vec_id LIMIT 8),
        |a1 AS (SELECT es.vec_id, es.v, c.cl,
        |              row_number() OVER (PARTITION BY es.vec_id
        |                ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(es.v, c.cv), c.cl) rn
        |       FROM es, c0 c),
        |s1 AS (SELECT vec_id, v, cl FROM a1 WHERE rn = 1),
        |c1 AS (SELECT cl, list(m ORDER BY i) cv FROM
        |        (SELECT cl, i, sum(v[i]) / count(*) m FROM s1, range(1, 65) t(i) GROUP BY cl, i)
        |       GROUP BY cl),
        |a2 AS (SELECT es.vec_id, es.v, c.cl,
        |              row_number() OVER (PARTITION BY es.vec_id
        |                ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(es.v, c.cv), c.cl) rn
        |       FROM es, c1 c),
        |s2 AS (SELECT vec_id, v, cl FROM a2 WHERE rn = 1),
        |c2 AS (SELECT cl, list(m ORDER BY i) cv FROM
        |        (SELECT cl, i, sum(v[i]) / count(*) m FROM s2, range(1, 65) t(i) GROUP BY cl, i)
        |       GROUP BY cl),
        |aa AS (SELECT e.vec_id, e.v, c.cl, e.vec_id % 4 AS b,
        |              row_number() OVER (PARTITION BY e.vec_id
        |                ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) rn
        |       FROM e, c2 c),
        |asg AS (SELECT vec_id, v, cl, b FROM aa WHERE rn = 1),
        |k0 AS (SELECT s.vec_id, s.v, s.cl, s.b,
        |              NOT EXISTS (SELECT 1 FROM asg a
        |                          WHERE a.b = 0 AND a.cl = s.cl AND a.vec_id < s.vec_id
        |                            AND list_cosine_similarity(a.v, s.v) >= 0.35) AS kept
        |       FROM asg s WHERE s.b = 0),
        |t0 AS (SELECT vec_id, v, cl FROM k0 WHERE kept),
        |k1 AS (SELECT s.vec_id, s.v, s.cl, s.b,
        |              NOT (EXISTS (SELECT 1 FROM t0 a WHERE a.cl = s.cl
        |                           AND list_cosine_similarity(a.v, s.v) >= 0.35)
        |                   OR EXISTS (SELECT 1 FROM asg a
        |                              WHERE a.b = 1 AND a.cl = s.cl AND a.vec_id < s.vec_id
        |                                AND list_cosine_similarity(a.v, s.v) >= 0.35)) AS kept
        |       FROM asg s WHERE s.b = 1),
        |t1 AS (SELECT * FROM t0 UNION ALL SELECT vec_id, v, cl FROM k1 WHERE kept),
        |k2 AS (SELECT s.vec_id, s.v, s.cl, s.b,
        |              NOT (EXISTS (SELECT 1 FROM t1 a WHERE a.cl = s.cl
        |                           AND list_cosine_similarity(a.v, s.v) >= 0.35)
        |                   OR EXISTS (SELECT 1 FROM asg a
        |                              WHERE a.b = 2 AND a.cl = s.cl AND a.vec_id < s.vec_id
        |                                AND list_cosine_similarity(a.v, s.v) >= 0.35)) AS kept
        |       FROM asg s WHERE s.b = 2),
        |t2 AS (SELECT * FROM t1 UNION ALL SELECT vec_id, v, cl FROM k2 WHERE kept),
        |k3 AS (SELECT s.vec_id, s.v, s.cl, s.b,
        |              NOT (EXISTS (SELECT 1 FROM t2 a WHERE a.cl = s.cl
        |                           AND list_cosine_similarity(a.v, s.v) >= 0.35)
        |                   OR EXISTS (SELECT 1 FROM asg a
        |                              WHERE a.b = 3 AND a.cl = s.cl AND a.vec_id < s.vec_id
        |                                AND list_cosine_similarity(a.v, s.v) >= 0.35)) AS kept
        |       FROM asg s WHERE s.b = 3),
        |allk AS (SELECT vec_id, b, cl, kept FROM k0
        |         UNION ALL SELECT vec_id, b, cl, kept FROM k1
        |         UNION ALL SELECT vec_id, b, cl, kept FROM k2
        |         UNION ALL SELECT vec_id, b, cl, kept FROM k3)
        |SELECT vec_id, b AS batch, cl AS cluster, kept
        |FROM allk ORDER BY vec_id""".stripMargin,

    // the q115 oracle chain applied twice: batch 0 vs the seed, batch 1
    // vs seed + batch-0 admissions WITH THEIR CLEANED TEXT; centroids
    // fit once on the seed embeddings (the fixed snapshot artifact)
    "q118_streaming_curation" ->
      """WITH seed AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0 AND doc_id < 2000),
        |e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings WHERE vec_id % 4 = 0 AND vec_id < 2000),
        |k0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v AS cv
        |       FROM e ORDER BY vec_id LIMIT 8),
        |ka1 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, k0 c),
        |ks1 AS (SELECT vec_id, v, cl FROM ka1 WHERE rn = 1),
        |kc1 AS (SELECT cl, list(m ORDER BY i) AS cv FROM
        |         (SELECT cl, i, sum(v[i]) / count(*) AS m FROM ks1, range(1, 65) t(i) GROUP BY cl, i)
        |        GROUP BY cl),
        |ka2 AS (SELECT e.vec_id, e.v, c.cl,
        |               row_number() OVER (PARTITION BY e.vec_id
        |                 ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |        FROM e, kc1 c),
        |ks2 AS (SELECT vec_id, v, cl FROM ka2 WHERE rn = 1),
        |kc2 AS (SELECT cl, list(m ORDER BY i) AS cv FROM
        |         (SELECT cl, i, sum(v[i]) / count(*) AS m FROM ks2, range(1, 65) t(i) GROUP BY cl, i)
        |        GROUP BY cl),
        |h0fp AS (SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |        FROM seed),
        |bat0 AS (SELECT doc_id, text,
        |                 md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |          FROM documents WHERE doc_id % 4 = 1 AND doc_id < 2000),
        |exact0 AS (SELECT doc_id FROM bat0 WHERE fp IN (SELECT fp FROM h0fp)),
        |s1_0 AS (SELECT doc_id, text FROM bat0
        |           WHERE doc_id NOT IN (SELECT doc_id FROM exact0)),
        |toks0 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |            FROM (SELECT doc_id, text FROM seed
        |                  UNION ALL SELECT doc_id, text FROM s1_0)
        |            WHERE trim(text) <> ''),
        |g0_0 AS (SELECT doc_id, unnest(range(len(t) - 7)) AS pos,
        |                  unnest(list_transform(range(len(t) - 7),
        |                         i -> array_to_string(t[i + 1 : i + 8], ' '))) AS gr
        |           FROM toks0 WHERE len(t) >= 8),
        |g_0 AS (SELECT doc_id, pos, gr FROM g0_0
        |          QUALIFY count(*) OVER (PARTITION BY gr) <= 1000),
        |m_0 AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
        |                 a.pos - b.pos AS diag
        |          FROM g_0 a JOIN g_0 b ON a.gr = b.gr
        |          WHERE (a.doc_id % 4 = 0)
        |            AND (b.doc_id % 4 = 1)),
        |runs0 AS (SELECT da, db, diag, pa, pb,
        |                   pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa) AS island
        |            FROM m_0),
        |spans0 AS (SELECT db AS doc_id, min(pb) AS b_start,
        |                    max(pa) - min(pa) + 8 AS span_tokens
        |             FROM runs0 GROUP BY da, db, diag, island),
        |cutset0 AS (SELECT DISTINCT doc_id,
        |                     unnest(range(b_start, b_start + span_tokens)) AS cut
        |              FROM spans0 WHERE span_tokens >= 20),
        |btoks0 AS (SELECT doc_id, t FROM toks0 WHERE doc_id % 4 = 1),
        |btok0 AS (SELECT doc_id, unnest(range(len(t))) AS pos, unnest(t) AS w FROM btoks0),
        |keptt0 AS (SELECT btok0.doc_id, btok0.pos, btok0.w
        |             FROM btok0 LEFT JOIN cutset0
        |               ON btok0.doc_id = cutset0.doc_id AND btok0.pos = cutset0.cut
        |             WHERE cutset0.cut IS NULL),
        |cleaned0 AS (SELECT btoks0.doc_id,
        |                      CAST(count(keptt0.pos) AS BIGINT) AS kept_tokens,
        |                      CAST(len(any_value(btoks0.t)) - count(keptt0.pos) AS BIGINT) AS removed_tokens,
        |                      coalesce(string_agg(keptt0.w, ' ' ORDER BY keptt0.pos), '') AS cleaned_text
        |               FROM btoks0 LEFT JOIN keptt0 ON btoks0.doc_id = keptt0.doc_id
        |               GROUP BY btoks0.doc_id),
        |s2_0 AS (SELECT * FROM cleaned0 WHERE kept_tokens > 0),
        |hct0 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ct
        |           FROM seed WHERE trim(text) <> ''),
        |bct0 AS (SELECT doc_id, string_split_regex(trim(cleaned_text), '\s+') AS ct FROM s2_0),
        |hsh0 AS (SELECT doc_id,
        |                  CASE WHEN len(ct) < 3 THEN [array_to_string(ct, ' ')]
        |                       ELSE list_distinct(list_transform(range(1, len(ct) - 1),
        |                         i -> array_to_string(ct[i:i+2], ' '))) END AS s
        |           FROM hct0),
        |bsh0 AS (SELECT doc_id,
        |                  CASE WHEN len(ct) < 3 THEN [array_to_string(ct, ' ')]
        |                       ELSE list_distinct(list_transform(range(1, len(ct) - 1),
        |                         i -> array_to_string(ct[i:i+2], ' '))) END AS s
        |           FROM bct0),
        |hsz0 AS (SELECT doc_id, len(s) AS n FROM hsh0),
        |bsz0 AS (SELECT doc_id, len(s) AS n FROM bsh0),
        |hun0 AS (SELECT doc_id, unnest(s) AS g FROM hsh0),
        |bun0 AS (SELECT doc_id, unnest(s) AS g FROM bsh0),
        |ncand0 AS (SELECT a.doc_id AS ha, b.doc_id AS bb, count(*) AS inter
        |           FROM hun0 a JOIN bun0 b ON a.g = b.g
        |           GROUP BY 1, 2),
        |near0 AS (
        |  SELECT DISTINCT c.bb AS doc_id
        |  FROM ncand0 c JOIN hsz0 ON hsz0.doc_id = c.ha
        |                JOIN bsz0 ON bsz0.doc_id = c.bb
        |  WHERE CAST(c.inter AS DOUBLE) / (hsz0.n + bsz0.n - c.inter) >= 0.9),
        |s3_0 AS (SELECT * FROM s2_0 WHERE doc_id NOT IN (SELECT doc_id FROM near0)),
        |ebt0 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
        |           WHERE vec_id IN (SELECT doc_id FROM s3_0)),
        |ehist0 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
        |             WHERE vec_id IN (SELECT doc_id FROM seed)),
        |kh0 AS (SELECT e.vec_id, e.v, c.cl,
        |                 row_number() OVER (PARTITION BY e.vec_id
        |                   ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |          FROM ehist0 e, kc2 c),
        |khf0 AS (SELECT vec_id, v, cl FROM kh0 WHERE rn = 1),
        |kb0 AS (SELECT e.vec_id, e.v, c.cl,
        |                 row_number() OVER (PARTITION BY e.vec_id
        |                   ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |          FROM ebt0 e, kc2 c),
        |kbf0 AS (SELECT vec_id, v, cl FROM kb0 WHERE rn = 1),
        |sem0 AS (
        |  SELECT s.vec_id AS doc_id FROM kbf0 s
        |  WHERE EXISTS (SELECT 1 FROM khf0 a
        |                WHERE a.cl = s.cl AND list_cosine_similarity(a.v, s.v) >= 0.35)
        |     OR EXISTS (SELECT 1 FROM kbf0 a
        |                WHERE a.cl = s.cl AND a.vec_id < s.vec_id
        |                  AND list_cosine_similarity(a.v, s.v) >= 0.35)),
        |ann0 AS (
        |  SELECT b.doc_id, c.kept_tokens,
        |         CAST(coalesce(c.removed_tokens, 0) AS BIGINT) AS removed_tokens,
        |         c.cleaned_text,
        |         CASE WHEN b.doc_id IN (SELECT doc_id FROM exact0) THEN 'exact_dup'
        |              WHEN c.doc_id IS NULL OR c.kept_tokens = 0 THEN 'empty'
        |              WHEN b.doc_id IN (SELECT doc_id FROM near0) THEN 'near_dup'
        |              WHEN b.doc_id IN (SELECT doc_id FROM sem0) THEN 'sem_dup'
        |              ELSE 'kept' END AS decision
        |  FROM bat0 b LEFT JOIN cleaned0 c USING (doc_id)),
        |admitted0 AS (SELECT a.doc_id, c.cleaned_text AS text
        |              FROM ann0 a JOIN cleaned0 c USING (doc_id)
        |              WHERE a.decision = 'kept'),
        |hist1 AS (SELECT doc_id, text FROM seed UNION ALL SELECT doc_id, text FROM admitted0),
        |h1fp AS (SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |        FROM hist1),
        |bat1 AS (SELECT doc_id, text,
        |                 md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |          FROM documents WHERE doc_id % 4 = 3 AND doc_id < 2000),
        |exact1 AS (SELECT doc_id FROM bat1 WHERE fp IN (SELECT fp FROM h1fp)),
        |s1_1 AS (SELECT doc_id, text FROM bat1
        |           WHERE doc_id NOT IN (SELECT doc_id FROM exact1)),
        |toks1 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |            FROM (SELECT doc_id, text FROM hist1
        |                  UNION ALL SELECT doc_id, text FROM s1_1)
        |            WHERE trim(text) <> ''),
        |g0_1 AS (SELECT doc_id, unnest(range(len(t) - 7)) AS pos,
        |                  unnest(list_transform(range(len(t) - 7),
        |                         i -> array_to_string(t[i + 1 : i + 8], ' '))) AS gr
        |           FROM toks1 WHERE len(t) >= 8),
        |g_1 AS (SELECT doc_id, pos, gr FROM g0_1
        |          QUALIFY count(*) OVER (PARTITION BY gr) <= 1000),
        |m_1 AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
        |                 a.pos - b.pos AS diag
        |          FROM g_1 a JOIN g_1 b ON a.gr = b.gr
        |          WHERE (a.doc_id % 4 <> 3)
        |            AND (b.doc_id % 4 = 3)),
        |runs1 AS (SELECT da, db, diag, pa, pb,
        |                   pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa) AS island
        |            FROM m_1),
        |spans1 AS (SELECT db AS doc_id, min(pb) AS b_start,
        |                    max(pa) - min(pa) + 8 AS span_tokens
        |             FROM runs1 GROUP BY da, db, diag, island),
        |cutset1 AS (SELECT DISTINCT doc_id,
        |                     unnest(range(b_start, b_start + span_tokens)) AS cut
        |              FROM spans1 WHERE span_tokens >= 20),
        |btoks1 AS (SELECT doc_id, t FROM toks1 WHERE doc_id % 4 = 3),
        |btok1 AS (SELECT doc_id, unnest(range(len(t))) AS pos, unnest(t) AS w FROM btoks1),
        |keptt1 AS (SELECT btok1.doc_id, btok1.pos, btok1.w
        |             FROM btok1 LEFT JOIN cutset1
        |               ON btok1.doc_id = cutset1.doc_id AND btok1.pos = cutset1.cut
        |             WHERE cutset1.cut IS NULL),
        |cleaned1 AS (SELECT btoks1.doc_id,
        |                      CAST(count(keptt1.pos) AS BIGINT) AS kept_tokens,
        |                      CAST(len(any_value(btoks1.t)) - count(keptt1.pos) AS BIGINT) AS removed_tokens,
        |                      coalesce(string_agg(keptt1.w, ' ' ORDER BY keptt1.pos), '') AS cleaned_text
        |               FROM btoks1 LEFT JOIN keptt1 ON btoks1.doc_id = keptt1.doc_id
        |               GROUP BY btoks1.doc_id),
        |s2_1 AS (SELECT * FROM cleaned1 WHERE kept_tokens > 0),
        |hct1 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ct
        |           FROM hist1 WHERE trim(text) <> ''),
        |bct1 AS (SELECT doc_id, string_split_regex(trim(cleaned_text), '\s+') AS ct FROM s2_1),
        |hsh1 AS (SELECT doc_id,
        |                  CASE WHEN len(ct) < 3 THEN [array_to_string(ct, ' ')]
        |                       ELSE list_distinct(list_transform(range(1, len(ct) - 1),
        |                         i -> array_to_string(ct[i:i+2], ' '))) END AS s
        |           FROM hct1),
        |bsh1 AS (SELECT doc_id,
        |                  CASE WHEN len(ct) < 3 THEN [array_to_string(ct, ' ')]
        |                       ELSE list_distinct(list_transform(range(1, len(ct) - 1),
        |                         i -> array_to_string(ct[i:i+2], ' '))) END AS s
        |           FROM bct1),
        |hsz1 AS (SELECT doc_id, len(s) AS n FROM hsh1),
        |bsz1 AS (SELECT doc_id, len(s) AS n FROM bsh1),
        |hun1 AS (SELECT doc_id, unnest(s) AS g FROM hsh1),
        |bun1 AS (SELECT doc_id, unnest(s) AS g FROM bsh1),
        |ncand1 AS (SELECT a.doc_id AS ha, b.doc_id AS bb, count(*) AS inter
        |           FROM hun1 a JOIN bun1 b ON a.g = b.g
        |           GROUP BY 1, 2),
        |near1 AS (
        |  SELECT DISTINCT c.bb AS doc_id
        |  FROM ncand1 c JOIN hsz1 ON hsz1.doc_id = c.ha
        |                JOIN bsz1 ON bsz1.doc_id = c.bb
        |  WHERE CAST(c.inter AS DOUBLE) / (hsz1.n + bsz1.n - c.inter) >= 0.9),
        |s3_1 AS (SELECT * FROM s2_1 WHERE doc_id NOT IN (SELECT doc_id FROM near1)),
        |ebt1 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
        |           WHERE vec_id IN (SELECT doc_id FROM s3_1)),
        |ehist1 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
        |             WHERE vec_id IN (SELECT doc_id FROM hist1)),
        |kh1 AS (SELECT e.vec_id, e.v, c.cl,
        |                 row_number() OVER (PARTITION BY e.vec_id
        |                   ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |          FROM ehist1 e, kc2 c),
        |khf1 AS (SELECT vec_id, v, cl FROM kh1 WHERE rn = 1),
        |kb1 AS (SELECT e.vec_id, e.v, c.cl,
        |                 row_number() OVER (PARTITION BY e.vec_id
        |                   ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product(e.v, c.cv), c.cl) AS rn
        |          FROM ebt1 e, kc2 c),
        |kbf1 AS (SELECT vec_id, v, cl FROM kb1 WHERE rn = 1),
        |sem1 AS (
        |  SELECT s.vec_id AS doc_id FROM kbf1 s
        |  WHERE EXISTS (SELECT 1 FROM khf1 a
        |                WHERE a.cl = s.cl AND list_cosine_similarity(a.v, s.v) >= 0.35)
        |     OR EXISTS (SELECT 1 FROM kbf1 a
        |                WHERE a.cl = s.cl AND a.vec_id < s.vec_id
        |                  AND list_cosine_similarity(a.v, s.v) >= 0.35)),
        |ann1 AS (
        |  SELECT b.doc_id, c.kept_tokens,
        |         CAST(coalesce(c.removed_tokens, 0) AS BIGINT) AS removed_tokens,
        |         c.cleaned_text,
        |         CASE WHEN b.doc_id IN (SELECT doc_id FROM exact1) THEN 'exact_dup'
        |              WHEN c.doc_id IS NULL OR c.kept_tokens = 0 THEN 'empty'
        |              WHEN b.doc_id IN (SELECT doc_id FROM near1) THEN 'near_dup'
        |              WHEN b.doc_id IN (SELECT doc_id FROM sem1) THEN 'sem_dup'
        |              ELSE 'kept' END AS decision
        |  FROM bat1 b LEFT JOIN cleaned1 c USING (doc_id))
        |SELECT doc_id, batch, decision, removed_tokens,
        |       CASE WHEN decision = 'kept' THEN kept_tokens END AS n_tokens,
        |       CASE WHEN decision = 'kept' THEN md5(cleaned_text) END AS final_md5
        |FROM (SELECT doc_id, CAST(0 AS BIGINT) AS batch, decision, removed_tokens,
        |             kept_tokens, cleaned_text FROM ann0
        |      UNION ALL
        |      SELECT doc_id, CAST(1 AS BIGINT) AS batch, decision, removed_tokens,
        |             kept_tokens, cleaned_text FROM ann1)
        |ORDER BY doc_id""".stripMargin,
  )
}
