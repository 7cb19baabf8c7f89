package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB regime:
  *
  *  - exact dedup groups on a 128-bit fingerprint (small shuffle rows);
  *  - near-dup detection uses the sparse inverted-index join (doc↔shingle)
  *    so cost is Σ df(shingle)², never O(n²) over documents — with a
  *    document-frequency cap to cut the quadratic head of hot shingles;
  *  - MinHash+LSH reduces candidate generation to an equi-join on
  *    (band, bucket), the classic shuffle-friendly plan: signatures are
  *    one `groupBy(doc)` over exploded shingles, buckets are a hash of r
  *    signature rows, and only bucket-colliding pairs are verified.
  *
  * Everything is DataFrame-native: equi-joins and aggregations Catalyst
  * can reorder, broadcast, and AQE-skew-split.
  */
object DedupOps {

  /** Quality-aware near-dup keep rule — which member of each near-dup
    * cluster survives: not the min-id (the [[Components]] default used
    * by the drop-set pipelines) but the HIGHEST-QUALITY member (by a
    * caller-supplied score relation — e.g. the trained NB classifier's
    * `nb_score_u`), with the lowest id breaking ties. This is the keep
    * rule quality-focused curation actually wants: a near-dup cluster
    * often mixes a clean original with boilerplate-injected copies, and
    * min-id keeps whichever crawled first.
    *
    * Output: one row per doc — (idCol, cluster, kept). Docs in no pair
    * are their own singleton cluster and kept. Docs without a score row
    * (e.g. blank text under the NB scorer) sort LAST inside their
    * cluster, so a scored member always beats an unscored one; an
    * all-unscored cluster falls back to min-id.
    *
    * Scale shape: components come from the pair evidence (pointer-
    * jumping equi-joins); the keep window partitions by CLUSTER over
    * component MEMBERS only — bounded by docs with a near-dup, never a
    * corpus-sized window — and singletons join back with a left join. */
  def qualityKeepClusters(docs: DataFrame, pairs: DataFrame, scores: DataFrame,
                          idCol: String, scoreCol: String = "nb_score_u",
                          aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val id = col(idCol)
    val comp = Components.connectedComponents(pairs, aCol, bCol)
    val members = comp.join(
      scores.select(col(idCol).as("doc"), col(scoreCol).as("__qk_s")),
      Seq("doc"), "left")
    val w = Window.partitionBy("cluster")
      .orderBy(col("__qk_s").desc_nulls_last, col("doc"))
    val decided = members.withColumn("kept", row_number().over(w) === 1)
      .select(col("doc"), col("cluster"), col("kept"))
    docs.select(id.as("doc"))
      .join(decided, Seq("doc"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc")))
      .withColumn("kept", coalesce(col("kept"), lit(true)))
      .withColumnRenamed("doc", idCol)
  }

  /** Exact dedup on normalized content; keeps the lowest id per group.
    *
    * Scale shape: the ranking window sees ONLY (fingerprint, id) pairs —
    * never the document text — so the exchange carries ~48 B/row
    * regardless of document size. The loser ids (typically a small
    * fraction) then anti-join back against the full rows; AQE broadcasts
    * that side when it is small, and when it is not, the fallback
    * shuffle join costs no more than shuffling the text through the
    * window would have. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val drops = dupIds(df, idCol, textCol)
    df.join(drops, col(idCol) === col("__dup_id"), "left_anti")
  }

  /** Ids that lose exact dedup (every row but the lowest id of each
    * normalized-content group). */
  private[operators] def dupIds(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("__fp").orderBy(col("__dup_id"))
    df.select(col(idCol).as("__dup_id"), TextOps.fingerprint(col(textCol)).as("__fp"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select("__dup_id")
  }

  private def rot5(a: Column): Column =
    shiftleft(a, 5).bitwiseOR(shiftrightunsigned(a, 59))

  /** Distinct k-word shingle hash SET per document: (doc, sz, shset).
    *
    * Each token is hashed once (`xxhash64`); a shingle's 64-bit id is the
    * xor-rotate combination of its k token hashes — no per-position string
    * slicing/concatenation, and nothing downstream ever carries text.
    * Entirely map-side: no shuffle, no explode. Delegates to the native
    * [[GraftRuntime.shingleSet]] kernel (see its scaladoc; the equivalent
    * composed higher-order-function formulation, kept in
    * [[shingleSetsArrayOps]], evaluates interpreted and is ~20× slower). */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"shingle size must be >= 1, got $k")
    df.select(col(idCol).as("doc"), Kernel.shingleSet(col(textCol), lit(k)).as("shset"))
      .select(col("doc"), size(col("shset")).as("sz"), col("shset"))
  }

  /** Reference formulation of [[shingleSets]] with pure array ops (kept
    * for the property test pinning the native expression's semantics). */
  private[graft] def shingleSetsArrayOps(df: DataFrame, idCol: String, textCol: String,
                                         k: Int): DataFrame = {
    val th = transform(TextOps.tokens(col(textCol)), t => xxhash64(t))
    val n = size(th)
    def combine(window: Column): Column =
      aggregate(window, lit(0L), (acc, h) => rot5(acc).bitwiseXOR(h))
    val sh = transform(
      sequence(lit(0), greatest(n - k, lit(0))),
      i => combine(slice(th, i + 1, lit(k))))
    df.select(col(idCol).as("doc"),
        array_distinct(when(n >= k, sh).otherwise(array(combine(th)))).as("shset"))
      .select(col("doc"), size(col("shset")).as("sz"), col("shset"))
  }

  /** Distinct k-word shingles per document: (id, shingle-hash). */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    shinglesWithSize(df, idCol, textCol, k).drop("sz")

  /** Exploded form of [[shingleSets]]: each inverted-index row also carries
    * the doc's distinct-shingle count — callers that need |set| sizes
    * (Jaccard) avoid a per-doc aggregation AND the doc-sized join that
    * would otherwise reunite sizes with pair counts (a join that cannot be
    * broadcast at billion-doc scale). */
  def shinglesWithSize(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    shingleSets(df, idCol, textCol, k)
      .select(col("doc"), col("sz"), explode(col("shset")).as("shingle"))

  /** Remove stop-shingles (document frequency > `maxShingleDF`) from
    * shingle SETS and recompute sizes, so every downstream Jaccard is over
    * the capped universe — consistently in numerator AND denominator.
    *
    * The hot list is tiny by construction (≤ total-shingle-mass / cap
    * entries), so it broadcasts as a one-row collected array and the
    * removal is a map-side `array_except`. At 100 TB this cap is what
    * bounds inverted-index self-joins and LSH bucket sizes on boilerplate
    * (headers, license blocks, templated text), whose document frequency
    * otherwise makes candidate generation quadratic in the hottest key. */
  /** Collect the hot-shingle list (document frequency > `maxShingleDF`)
    * for a shingle-set relation — corpus-level metadata a production
    * pipeline computes ONCE per corpus snapshot and reuses across every
    * dedup job over it (same driver-side-materialization precedent as
    * the bloom-join blob and the KLL range bounds: the result is bounded
    * by total-shingle-mass / cap, KB-to-MB sized by construction).
    * Callers pass it back via `knownHot` so q35/q36/q46-style pipelines
    * over one corpus pay the full-shingle-mass aggregation once instead
    * of once per query — the r6 "cap tax". */
  def hotShingles(sets: DataFrame, maxShingleDF: Int): Array[Long] =
    if (maxShingleDF <= 0) Array.empty
    else sets.select(explode(col("shset")).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDF)
      .select("shingle") // primitive collect — no Row boxing (r22)
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()

  /** [[capSets]] with a precomputed hot list: no per-query aggregation,
    * no driver-side count job — an empty list is a pure no-op and a
    * non-empty one a map-side `array_except` against one broadcast row. */
  private[operators] def capSetsKnown(sets: DataFrame, hot: Array[Long]): DataFrame =
    if (hot.isEmpty) sets
    else {
      val spark = sets.sparkSession
      import spark.implicits._
      val hotArr = Seq(hot).toDF("__hot")
      sets.crossJoin(broadcast(hotArr))
        .withColumn("shset", array_except(col("shset"), col("__hot")))
        .withColumn("sz", size(col("shset")))
        .drop("__hot")
    }

  private[operators] def capSets(sets: DataFrame, maxShingleDF: Int,
                                 knownHot: Option[Array[Long]] = None): DataFrame =
    if (maxShingleDF <= 0) sets
    else if (knownHot.isDefined) capSetsKnown(sets, knownHot.get)
    else {
      // ONE aggregation job, collected straight to the driver (r21): the
      // hot list is bounded by total-shingle-mass / cap — KB-to-MB by
      // construction, the same documented pull as [[hotShingles]]. The
      // former cache+count+broadcast-agg shape paid a count job AND left
      // the aggregation embedded in the removal plan, so every capSets
      // call without `knownHot` cost two hot-mass passes plus a pinned
      // cache (measured: 0.88 s / 5 jobs of the q132 timed sample were
      // this count). The collect is capped at the broadcast-strategy
      // limit + 1 rows, so "small enough to broadcast" is decided
      // without materializing an unbounded array on the driver — and it
      // collects PRIMITIVE longs (r22, verdict #5): a boxed Row is
      // several× the payload of the raw long, so the worst-case 4M-row
      // pull now allocates one long array instead of 4M GenericRows.
      val hotAgg = sets.select(explode(col("shset")).as("shingle"))
        .groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxShingleDF)
        .select("shingle")
      val limit = 4 * 1000 * 1000
      val hotArr = hotAgg.limit(limit + 1)
        .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
      if (hotArr.isEmpty) sets // common case: no boilerplate → no-op
      else if (hotArr.length <= limit)
        // small hot list → broadcast one collected array, map-side except
        capSetsKnown(sets, hotArr)
      else {
        // boilerplate so pervasive the hot list itself outgrows a
        // broadcast: shuffle-based removal — explode, anti-join the hot
        // relation, re-assemble sets. Docs whose every shingle is hot
        // drop out entirely (both consumers discard empty sets anyway).
        sets.select(col("doc"), explode(col("shset")).as("shingle"))
          .join(hotAgg, Seq("shingle"), "left_anti")
          .groupBy("doc").agg(collect_list(col("shingle")).as("shset"))
          .select(col("doc"), size(col("shset")).as("sz"), col("shset"))
      }
    }

  /** Cache lifecycle for the pair detectors (jaccardPairs /
    * weightedJaccardPairs / minhashLshPairs): each caches its
    * most-derived-from relation because 3-5 downstream consumers re-derive
    * from it, and a LAZY result cannot know when its last action has run —
    * so by default the cache stays pinned for the session (MEMORY_AND_DISK,
    * memory-evictable under pressure; repeated calls compound). Callers
    * that want clean teardown pass `eager = true`: the pair set — small by
    * construction, only threshold survivors — is materialized via
    * localCheckpoint and every input cache is released before returning. */
  private def finishPairs(result: DataFrame, eager: Boolean,
                          caches: DataFrame*): DataFrame =
    if (!eager) result
    else {
      val out = result.localCheckpoint(eager = true)
      caches.foreach(_.unpersist(blocking = false))
      out
    }

  /** Exact n-gram Jaccard similar pairs via inverted-index join.
    *
    * @param maxShingleDF drop shingles appearing in more than this many
    *        docs (stop-shingles) before indexing; sizes are recomputed so
    *        Jaccard is over the capped universe. 0 disables — but the
    *        default is ON, because this cap is the only thing standing
    *        between the self-join and a quadratic blowup on boilerplate
    *        at 100 TB.
    * @param eager materialize now and release input caches (see
    *        [[finishPairs]]); default lazy.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int, threshold: Double, maxShingleDF: Int = 1000,
                   knownHot: Option[Array[Long]] = None,
                   eager: Boolean = false): DataFrame = {
    // Materialize the shingle sets once — the hot-shingle aggregation,
    // the capped index, and the self-join sides would otherwise each
    // recompute shingle generation (the expensive tokenize+hash
    // transform). One cache at the most-derived-from point; everything
    // downstream (except, explode) re-derives cheaply from it. At
    // cluster scale this persist (or a checkpoint) is what bounds the
    // pipeline to one pass over the text.
    val base = shingleSets(df, idCol, textCol, k).cache()
    val filtered = capSets(base, maxShingleDF, knownHot)
      .select(col("doc"), col("sz"), explode(col("shset")).as("shingle"))
    val pairs =
    // Set sizes ride along with every index row, so the whole computation
    // is ONE equi-join + ONE aggregation — no doc-sized side table to
    // reunite with pair counts (that join can't broadcast at billion-doc
    // scale). The size-ratio predicate is the standard similarity-join
    // prune: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so mismatched-length
    // pairs drop before the groupBy shuffle.
    filtered.as("a")
      .join(filtered.as("b"), col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc") &&
        col("a.sz") * lit(threshold) <= col("b.sz") && col("b.sz") * lit(threshold) <= col("a.sz"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count("*").as("common"),
        first(col("a.sz")).as("sz_a"), first(col("b.sz")).as("sz_b"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    finishPairs(pairs, eager, base)
  }

  /** Exact WEIGHTED (multiset / TF) Jaccard similar pairs via the same
    * inverted-index join as [[jaccardPairs]], over word term frequencies
    * instead of distinct shingles:
    *
    *   J_w(A,B) = Σ_t min(tf_A(t), tf_B(t)) / Σ_t max(tf_A(t), tf_B(t))
    *            = minsum / (tot_A + tot_B − minsum)
    *
    * The set form treats "spam spam spam" and "spam" as identical; the
    * weighted form scores repetition-heavy boilerplate honestly, which is
    * what containment-style curation rules want. Same scale shape as the
    * set version: the join carries (doc, tot, term-hash, tf) rows — never
    * text — cost Σ df(term)², with a document-frequency cap on hot terms
    * (stopwords are exactly the terms the cap removes first). The
    * size-ratio prune generalizes: minsum ≤ min(tot) and the denominator
    * ≥ max(tot), so J_w ≤ min(tot)/max(tot) — mismatched-mass pairs drop
    * before the pair aggregation.
    *
    * The hot-term removal is a plain left-anti equi-join (AQE broadcasts
    * the hot relation while it is small; past broadcast size it stays a
    * shuffle join — no driver-side pull in either regime).
    */
  def weightedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                           threshold: Double, maxTermDF: Int = 1000,
                           eager: Boolean = false): DataFrame = {
    // (doc, term-hash, tf) straight from the native one-pass termRuns
    // scan — the tf aggregation happens INSIDE the row, so no token
    // instance ever reaches an exchange (the r14 rewrite: the composed
    // explode+groupBy formulation shuffled every token occurrence and
    // floored 6× over baseline). Terms hash to 8-byte keys; note
    // termRuns lowercases, so similarity is case-insensitive.
    // Cached at the most-derived-from point (the jaccardPairs precedent):
    // the hot-term aggregation, the anti-join probe, the tot aggregation,
    // and BOTH self-join sides all re-derive from these rows — uncached,
    // each consumer re-runs the text scan (measured 3× the query floor).
    val tf0 = df.select(col(idCol).cast("long").as("doc"),
        explode(Kernel.termRuns(col(textCol))).as("e"))
      .select(col("doc"), xxhash64(col("e.term")).as("term"), col("e.tf").as("tf"))
      .cache()
    val tfs =
      if (maxTermDF <= 0) tf0
      else {
        val hot = tf0.groupBy("term").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxTermDF).select("term")
        tf0.join(hot, Seq("term"), "left_anti")
      }
    // per-doc mass over the capped universe, reunited by a doc-keyed
    // join: AQE broadcasts the doc-sized tot relation while it fits and
    // falls back to a shuffle join when it does not
    val tots = tfs.groupBy("doc").agg(sum("tf").as("tot"))
    val index = tfs.join(tots, "doc")
      .select(col("doc"), col("tot"), col("term"), col("tf"))
    val pairs = index.as("a")
      .join(index.as("b"), col("a.term") === col("b.term") && col("a.doc") < col("b.doc") &&
        col("a.tot") * lit(threshold) <= col("b.tot") &&
        col("b.tot") * lit(threshold) <= col("a.tot"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(sum(least(col("a.tf"), col("b.tf"))).as("minsum"),
        first(col("a.tot")).as("tot_a"), first(col("b.tot")).as("tot_b"))
      .withColumn("wjaccard",
        col("minsum").cast("double") /
          (col("tot_a") + col("tot_b") - col("minsum")).cast("double"))
      .filter(col("wjaccard") >= threshold)
      .select("doc_a", "doc_b", "wjaccard")
    finishPairs(pairs, eager, tf0)
  }

  /** MinHash signatures from shingle SETS: for each of `numHashes` seeded
    * hash functions, the min over the doc's shingle hashes. Entirely
    * map-side, NO shuffle, one fused loop ([[GraftRuntime.minhashSig]]). */
  def minhashSignatures(sets: DataFrame, numHashes: Int): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    val sig = Kernel.minhashSig(col("shset"), lit(numHashes))
    sets.select(col("doc"), sig.as("sig"))
      .select(col("doc") +:
        (0 until numHashes).map(i => element_at(col("sig"), i + 1).as(s"h$i")): _*)
  }

  /** Reference formulation of [[minhashSignatures]] (property-test pin). */
  private[graft] def minhashSignaturesArrayOps(sets: DataFrame, numHashes: Int): DataFrame = {
    val hashes = (0 until numHashes).map { i =>
      array_min(transform(col("shset"), s => xxhash64(s, lit(i)))).as(s"h$i")
    }
    sets.select(col("doc") +: hashes: _*)
  }

  /** MinHash + LSH near-dup candidate pairs, verified by exact Jaccard.
    *
    * Bands of r = numHashes/bands rows; candidates collide on any
    * (band, hash-of-band-rows) key; candidates are then verified with the
    * exact inverted-index Jaccard (so no false positives; recall is the
    * standard 1-(1-J^r)^b curve).
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int, threshold: Double,
                      numHashes: Int = 64, bands: Int = 16,
                      maxShingleDF: Int = 1000,
                      knownHot: Option[Array[Long]] = None,
                      eager: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val base = shingleSets(df, idCol, textCol, k).cache()
    // Docs whose every shingle is a stop-shingle carry no signal in the
    // capped universe; drop them before banding (their minhash signatures
    // would otherwise all collide into one degenerate LSH bucket). Not
    // cached again: the signature and the two verify joins re-derive from
    // the base cache with only a cheap filter (+ array_except when hot
    // shingles exist).
    val sets = capSets(base, maxShingleDF, knownHot).filter(size(col("shset")) > 0)
    val sig = minhashSignatures(sets, numHashes)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        hash((b * r until (b + 1) * r).map(i => col(s"h$i")): _*).as("bucket"))
    }
    val buckets = sig.select(col("doc"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc"), col("bb.band"), col("bb.bucket"))
    val cands = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    // Exact verification on candidates only, straight from the shingle
    // SETS: two candidate joins reunite each pair with its two arrays
    // and `array_intersect` counts the overlap — no exploded inverted
    // index (doc×shingles rows) scanned twice, no pair groupBy.
    // NO forced broadcast: on a clean corpus the candidate set is tiny
    // and AQE broadcasts it at runtime from observed shuffle stats, but
    // on a web-scale crawl near-dup fractions of 30–50% are normal and a
    // forced hint would OOM the driver where the shuffle join just works.
    // Let the optimizer pick per-run instead of hard-coding an
    // assumption the data can violate.
    val withA = cands
      .join(sets.as("sa"), col("doc_a") === col("sa.doc"))
      .select(col("doc_a"), col("doc_b"), col("sa.sz").as("sz_a"), col("sa.shset").as("set_a"))
    val pairs = withA
      .join(sets.as("sb"), col("doc_b") === col("sb.doc"))
      .withColumn("common", size(array_intersect(col("set_a"), col("sb.shset"))))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("sz_a") + col("sb.sz") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    finishPairs(pairs, eager, base)
  }

  /** Cross-corpus MinHash+LSH near-dup pairs: every (left, right) pair
    * with shingle-Jaccard ≥ threshold — the FUZZY face of incremental
    * ingest dedup ([[IncrementalDedup]] is the exact face): band the NEW
    * batch's signatures against the stored corpus's and drop/flag
    * collisions. The history side's shingle sets, signatures, and band
    * buckets are snapshot-stable artifacts a deployment materializes
    * once per corpus version; the per-batch cost is then the batch's
    * own signatures plus equi-joins into the stored relations — never a
    * batch × history scan. Both sides are capped against ONE hot list
    * (pass the corpus list via `knownHot`, or it is derived from the
    * union) so Jaccard is measured over the same shingle universe. */
  def crossMinhashPairs(left: DataFrame, right: DataFrame,
                        idCol: String, textCol: String,
                        k: Int, threshold: Double,
                        numHashes: Int = 64, bands: Int = 16,
                        maxShingleDF: Int = 1000,
                        knownHot: Option[Array[Long]] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val lBase = shingleSets(left, idCol, textCol, k).cache()
    val rBase = shingleSets(right, idCol, textCol, k).cache()
    val hot = knownHot.getOrElse(
      if (maxShingleDF <= 0) Array.empty[Long]
      else hotShingles(lBase.unionByName(rBase), maxShingleDF))
    def capped(s: DataFrame) = capSetsKnown(s, hot).filter(size(col("shset")) > 0)
    val lSets = capped(lBase)
    val rSets = capped(rBase)
    def buckets(sets: DataFrame) = {
      val sig = minhashSignatures(sets, numHashes)
      val bandCols = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          hash((b * r until (b + 1) * r).map(i => col(s"h$i")): _*).as("bucket"))
      }
      sig.select(col("doc"), explode(array(bandCols: _*)).as("bb"))
        .select(col("doc"), col("bb.band"), col("bb.bucket"))
    }
    val cands = buckets(lSets).as("a")
      .join(buckets(rSets).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    // exact verification on candidates only (see minhashLshPairs for why
    // the candidate joins carry NO forced broadcast)
    val withA = cands
      .join(lSets.as("sa"), col("doc_a") === col("sa.doc"))
      .select(col("doc_a"), col("doc_b"), col("sa.sz").as("sz_a"), col("sa.shset").as("set_a"))
    withA
      .join(rSets.as("sb"), col("doc_b") === col("sb.doc"))
      .withColumn("common", size(array_intersect(col("set_a"), col("sb.shset"))))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("sz_a") + col("sb.sz") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** 64-bit SimHash over tokens: bit j of the result is the sign of
    * Σ_tokens (bit j of xxhash64(token) ? +1 : -1). Delegates to the
    * native [[GraftRuntime.simhash64]] kernel (single byte-scan per row;
    * see its scaladoc for why this beats the composed array-ops
    * formulation). */
  def simhash(text: Column): Column = Kernel.simhash64(text)

  /** Reference formulation of [[simhash]] with pure array ops (kept for
    * the property test that pins the native expression's semantics). */
  private[graft] def simhashArrayOps(text: Column): Column = {
    val tokHashes = transform(TextOps.tokens(text), t => xxhash64(t))
    val votes = aggregate(
      tokHashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)), (a, j) =>
        a + when(call_function("shiftright", h, j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)), (v, j) =>
        when(v > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist.
    * Banding: split the 64-bit signature into `maxDist+1` chunks — by
    * pigeonhole any pair within maxDist collides on at least one chunk, so
    * recall is exact while candidate generation stays an equi-join. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame =
    simhashPairsFromSigs(
      df.select(col(idCol).as("doc"), simhash(col(textCol)).as("sig")), maxDist)

  /** CROSS-relation variant of [[simhashPairsFromSigs]]: Hamming-≤
    * maxDist pairs BETWEEN two (doc, sig) relations (no id ordering —
    * id spaces are the caller's contract, the [[SpanDedup.crossSpans]]
    * convention). Same banded equi-join, same exact pigeonhole recall;
    * the ingest-time shape: per-batch cost is the batch's bands joined
    * into the (persistable) history band relation. Returns
    * (doc_a, doc_b, dist) with doc_a from `left`. */
  def simhashCrossPairsFromSigs(left: DataFrame, right: DataFrame,
                                maxDist: Int = 3): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    def banded(df: DataFrame): DataFrame = {
      val bandCols = (0 until chunks).map { c =>
        struct(lit(c).as("band"),
          shiftright(col("sig"), c * width)
            .bitwiseAND(lit((1L << width) - 1)).as("chunk"))
      }
      df.select(col("doc"), col("sig"), explode(array(bandCols: _*)).as("bb"))
        .select(col("doc"), col("sig"), col("bb.band"), col("bb.chunk"))
    }
    banded(left).as("a")
      .join(banded(right).as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        hamming(col("a.sig"), col("b.sig")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Banded Hamming-≤ maxDist pairs over a precomputed (doc, sig)
    * signature relation — the join core of [[simhashPairs]], reusable
    * with any 64-bit signature scheme. Exact recall (pigeonhole),
    * candidate generation stays a shuffle-friendly equi-join. */
  def simhashPairsFromSigs(sigs: DataFrame, maxDist: Int = 3): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    val bandCols = (0 until chunks).map { c =>
      struct(lit(c).as("band"),
        shiftright(col("sig"), c * width)
          .bitwiseAND(lit((1L << width) - 1)).as("chunk"))
    }
    val buckets = sigs.select(col("doc"), col("sig"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc"), col("sig"), col("bb.band"), col("bb.chunk"))
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        hamming(col("a.sig"), col("b.sig")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Engine-portable 64-bit token hash: the first 16 hex digits of
    * md5(token). Any ANSI engine with md5() reproduces it bit-for-bit —
    * this is what lets the SimHash pipeline be verified end-to-end by an
    * external SQL oracle (DuckDB: `('0x'||substr(md5(t),1,16))::UBIGINT`),
    * where xxhash64 signatures would be engine-local. Built from
    * codegen'd built-ins only (md5/substring/conv/shiftleft). */
  def md5TokenHash64(t: Column): Column =
    shiftleft(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(md5(t), 9, 8), 16, 10).cast("long"))

  /** SimHash signatures over [[md5TokenHash64]], one (doc, sig) row per
    * non-blank document. Shape: explode tokens → 64 codegen'd conditional
    * sums in ONE hash aggregation (no higher-order interpreted loop) →
    * fold the per-bit votes into the signature long. The aggregation is
    * map-side partial like any sum, so token rows never shuffle — only
    * 64 longs per doc do. */
  def simhashSigsPortable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol).as("doc"), explode(TextOps.tokens(col(textCol))).as("t"))
      .select(col("doc"), md5TokenHash64(col("t")).as("h"))
    val votes = (0 until 64).map { j =>
      sum(when(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v$j")
    }
    toks.groupBy("doc").agg(votes.head, votes.tail: _*)
      .select(col("doc"),
        (0 until 64).map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("sig"))
  }
}
