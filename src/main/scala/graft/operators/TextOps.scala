package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * All of these are pure `Column` compositions over Spark built-ins — they
  * stay inside whole-stage codegen, push down through scans, and need no
  * UDFs, so they run at full Tungsten speed on a 1000-executor cluster.
  */
object TextOps {

  /** Whitespace tokenization; empty/blank text → empty array. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** One-scan token statistics (native [[GraftRuntime.tokenStats]]); the
    * shared input for tokenCount/stopwordRatio/qualityScore/langId so a
    * row is tokenized once, not once per metric. */
  def tokenStats(text: Column): Column = Kernel.tokenStats(text)

  /** Token count (whitespace tokenizer). */
  def tokenCount(text: Column): Column = tokenStats(text).getField("n_tokens")

  /** BPE-ish subword count: word-piece regex splits on word boundaries and
    * digit runs; a cheap proxy for tokenizer cost estimation at corpus
    * scale. */
  def subwordCount(text: Column): Column =
    size(filter(split(lower(text), "[^a-z0-9]+|(?<=[a-z])(?=[0-9])"), t => length(t) > 0))

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column): Column = {
    val st = tokenStats(text)
    val n = st.getField("n_tokens").cast("double")
    when(n === 0, lit(0.0)).otherwise(st.getField("stop").cast("double") / n)
  }

  /** Deterministic quality score in [0,1]:
    * 0.6·min(1, tokens/256) + 0.2·stopword-ratio + 0.2·mean-token-length/8.
    * The formula is intentionally SQL-expressible so an exact oracle exists.
    */
  def qualityScore(text: Column): Column = {
    val st = tokenStats(text)
    val n = st.getField("n_tokens").cast("double")
    val lenScore = least(lit(1.0), n / lit(256.0))
    val stopRatio = when(n === 0, lit(0.0))
      .otherwise(st.getField("stop").cast("double") / n)
    val meanTokLen =
      when(n === 0, lit(0.0)).otherwise(st.getField("n_chars").cast("double") / n)
    lit(0.6) * lenScore + lit(0.2) * stopRatio +
      lit(0.2) * least(lit(1.0), meanTokLen / lit(8.0))
  }

  /** Language-ID: argmax of per-language marker-word hits (markers in
    * [[TokenStats.markers]]); 'und' when nothing hits; ties break toward
    * earlier languages (en > es > de > fr). Deterministic and tiny by
    * design; real pipelines would swap in a trained model — the operator
    * shape (scored argmax over token-set overlaps in one scan) is the
    * point. */
  def langId(text: Column): Column = {
    val st = tokenStats(text)
    val (en, es, de, fr) = (st.getField("en"), st.getField("es"),
      st.getField("de"), st.getField("fr"))
    when(greatest(en, es, de, fr) === 0, lit("und"))
      .when(fr > greatest(en, es, de), lit("fr"))
      .when(de > greatest(en, es), lit("de"))
      .when(es > en, lit("es"))
      .otherwise(lit("en"))
  }

  /** Canonical document fingerprint: md5 of lowercased,
    * whitespace-collapsed text. Used for exact dedup at corpus scale —
    * grouping on a 128-bit digest instead of the full text keeps shuffle
    * rows small at 100 TB. */
  def fingerprint(text: Column): Column =
    md5(encode(normText(text), "UTF-8"))

  /** 64-bit rolling content hash over tokens:
    * h ← rotl(h, 5) XOR xxhash64(t_i). Order-sensitive (unlike the md5
    * fingerprint, permuted docs differ) and overflow-free under ANSI mode
    * (a polynomial mod-2^64 hash would trip ANSI's multiply check).
    * Built from `aggregate` over the token array — still codegen'd. */
  def rollingHash(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) =>
      shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59)).bitwiseXOR(xxhash64(t)))

  /** Whitespace-collapsed lowercase text — the shared normalization of
    * [[fingerprint]], exposed for n-gram models. */
  def normText(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  /** Character trigrams of the normalized text (empty for texts shorter
    * than 3 chars). Normalization runs ONCE as the native expression's
    * argument; windows are zero-copy slices (see
    * [[GraftRuntime.charWindows]] for why the composed transform+substr
    * formulation — kept in [[charTrigramsArrayOps]] as the property-test
    * pin — is O(len²)). */
  def charTrigrams(text: Column): Column = Kernel.charWindows(normText(text), lit(3))

  /** Reference formulation of [[charTrigrams]] with pure built-ins
    * (property-test pin for the native expression). */
  private[graft] def charTrigramsArrayOps(text: Column): Column = {
    val t = normText(text)
    when(length(t) >= 3,
      transform(sequence(lit(1), length(t) - 2), i => t.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))
  }

  /** Char-trigram language-model quality score (the CCNet/Gopher-style
    * rare-n-gram filter): train add-one-smoothed unigram-over-trigrams
    * probabilities on a REFERENCE slice, score every document by its
    * average negative log-probability — gibberish, boilerplate-free
    * noise, and out-of-domain text all surface as high scores in one
    * number.
    *
    * Scale shape: the model is a BOUNDED driver pull — distinct
    * trigrams of the normalized charset, ≤ |charset|³ and in practice a
    * few thousand rows (same lifecycle as the corpus hot-shingle list:
    * derive once per reference snapshot, reuse across scoring jobs) —
    * re-broadcast as a LocalRelation, so scoring is one explode + one
    * broadcast hash join + one doc-level aggregate; no shuffle carries
    * text. The score is emitted µ-quantized (`floor(score·10⁶)`) so the
    * cross-engine oracle compares integers, not last-ulp ln() bits.
    *
    * @return one row per doc: (idCol, n_tri, lm_score_u) */
  def trigramLmScores(reference: DataFrame, docs: DataFrame,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val modelRows = reference
      .select(explode(charTrigrams(col(textCol))).as("tri"))
      .groupBy("tri").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val nTot = modelRows.map(_._2).sum
    val vocab = modelRows.length + 1L // +1 = unseen bucket
    val denom = (nTot + vocab).toDouble
    val unseen = math.log(1.0 / denom)
    val model = broadcast(modelRows.toSeq.toDF("tri", "c"))
    docs.select(col(idCol), explode(charTrigrams(col(textCol))).as("tri"))
      .join(model, Seq("tri"), "left")
      .withColumn("lp", coalesce(log((col("c") + lit(1.0)) / lit(denom)), lit(unseen)))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tri"),
        floor(-avg(col("lp")) * lit(1e6)).cast("long").as("lm_score_u"))
  }

  /** CCNet-style PERPLEXITY BUCKETS: score every document with the
    * reference-trained trigram LM ([[trigramLmScores]]) and partition the
    * corpus into `head` / `middle` / `tail` by EXACT score quantiles —
    * the standard curation recipe (Wenzek et al.: keep head+middle,
    * resample or drop the tail; the buckets are also the strata a
    * data-recipe mixes with different weights).
    *
    * Quantile thresholds are corpus-EXACT, not approximate: the k-th
    * smallest µ-quantized score via the two-level prefix-scan rank
    * (k₁ = max(1, ⌊headFrac·n⌋), k₂ = max(k₁, n − ⌊tailFrac·n⌋)), pulled
    * as two longs. Bucket assignment is by VALUE against those
    * thresholds, so ties land deterministically in the lower bucket on
    * every engine.
    *
    * @return one row per non-blank doc: (idCol, n_tri, lm_score_u,
    *         bucket) — lower score = more reference-like = `head`. */
  def perplexityBuckets(reference: DataFrame, docs: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        headFrac: Double = 1.0 / 3, tailFrac: Double = 1.0 / 3): DataFrame = {
    require(headFrac > 0 && tailFrac > 0 && headFrac + tailFrac < 1.0,
      s"fractions must be positive and sum below 1, got ($headFrac, $tailFrac)")
    val scored = trigramLmScores(reference, docs, idCol, textCol)
      .localCheckpoint(eager = true)
    val n = scored.count()
    require(n > 0, "cannot bucket an empty corpus")
    val k1 = math.max(1L, math.floor(headFrac * n).toLong)
    val k2 = math.max(k1, n - math.floor(tailFrac * n).toLong)
    val cuts = rankByScore(scored.select(col(idCol), col("lm_score_u")),
        col("lm_score_u"), col(idCol))
      .filter(col("__grk") === k1 || col("__grk") === k2)
      .select(col("__grk"), col("lm_score_u"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val t1 = cuts(k1)
    val t2 = cuts.getOrElse(k2, t1)
    scored.withColumn("bucket",
      when(col("lm_score_u") <= t1, "head")
        .when(col("lm_score_u") <= t2, "middle")
        .otherwise("tail"))
  }

  /** Engine-portable trigram feature bucket: the first 8 md5 hex digits
    * (a 32-bit value) mod `buckets` — DuckDB reproduces it as
    * `('0x'||substr(md5(tri),1,8))::UBIGINT % buckets`. Computed
    * driver-side on DISTINCT trigrams only (bounded by charset³): the
    * scoring pass never hashes a trigram instance. */
  private def triBucketLocal(tri: String, buckets: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(tri.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    v % buckets
  }

  /** DSIR-style importance weights (Data Selection via Importance
    * Resampling): per-document average log-likelihood RATIO between a
    * target-domain model and the raw-corpus model, both add-one-smoothed
    * unigram models over a HASHED char-trigram feature space of
    * `buckets` buckets — the fixed-size feature hashing that makes DSIR
    * tractable at corpus scale. Positive weight = looks more like the
    * target than the background; resample/filter on it.
    *
    * Scale shape (the q83 model-pull precedent, tightened): each model
    * is a ≤`buckets`-row aggregate — bounded by construction regardless
    * of corpus size — collected once and re-broadcast as a LocalRelation
    * joined on the bucket id. Scoring is one pass over the docs'
    * trigrams: broadcast join + map-side partial average; trigram rows
    * never shuffle, only (doc, partial-sum) rows do.
    *
    * Weights are emitted micro-quantized (`floor(w · 1e6)` as a long) so
    * an external SQL oracle can match them integer-exactly. */
  def dsirWeights(target: DataFrame, docs: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text",
                  buckets: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Distinct-trigram counts (≤ charset³ rows, the q83 bounded pull);
    // md5 bucketing happens ONCE per distinct trigram on the driver, so
    // the corpus passes pay string aggregation only — no per-instance
    // hashing anywhere.
    def triCounts(df: DataFrame): Map[String, Long] =
      df.select(explode(charTrigrams(col(textCol))).as("tri"))
        .groupBy("tri").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tTri = triCounts(target)
    val rTri = triCounts(docs)
    def toBuckets(m: Map[String, Long]): Map[Long, Long] =
      m.groupMapReduce { case (tri, _) => triBucketLocal(tri, buckets) }(_._2)(_ + _)
    val tCounts = toBuckets(tTri)
    val rCounts = toBuckets(rTri)
    val tDenom = (tCounts.values.sum + buckets).toDouble
    val rDenom = (rCounts.values.sum + buckets).toDouble
    def bucketLr(b: Long): Double =
      math.log((tCounts.getOrElse(b, 0L) + 1.0) / tDenom) -
        math.log((rCounts.getOrElse(b, 0L) + 1.0) / rDenom)
    // Broadcast tri → lr(bucket(tri)) for every trigram the scoring pass
    // can produce (scoring input ⊆ docs by construction, so the map
    // covers every instance; the scoring join is a string equi-join that
    // AQE keeps broadcast).
    val lrRows = (tTri.keySet ++ rTri.keySet).toSeq
      .map(tri => (tri, bucketLr(triBucketLocal(tri, buckets))))
    val model = broadcast(lrRows.toDF("tri", "lr"))
    docs.select(col(idCol), explode(charTrigrams(col(textCol))).as("tri"))
      .join(model, Seq("tri"), "left")
      .withColumn("lr", coalesce(col("lr"), lit(math.log(rDenom / tDenom))))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tri"),
        floor(avg(col("lr")) * lit(1e6)).cast("long").as("dsir_weight_u"))
  }

  /** Word-level features of the normalized text: unigrams ++ bigrams
    * (space-joined). The discriminative-classifier counterpart of
    * [[charTrigrams]] — word n-grams carry the topical/register signal a
    * seed-vs-crawl classifier separates on, where char trigrams mostly
    * carry orthography. */
  private[graft] def wordFeatures(text: Column): Column = {
    val toks = split(normText(text), " ")
    val bi = when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
    concat(toks, bi)
  }

  /** Engine-portable hashed feature bucket, computed IN the plan (codegen'd
    * built-ins): first 8 md5 hex digits as a 32-bit value, mod `buckets`.
    * DuckDB reproduces it as `('0x'||substr(md5(g),1,8))::UBIGINT % B` —
    * the same definitional hash as [[triBucketLocal]], but evaluated
    * distributed because word-ngram vocabularies (unlike charset³-bounded
    * trigram sets) are NOT driver-collectable at corpus scale. */
  private def featBucket(g: Column, buckets: Int): Column =
    conv(substring(md5(g.cast("binary")), 1, 8), 16, 10).cast("long") % buckets

  /** A trained seed-vs-crawl NB model — µ-quantized per-bucket LLRs plus
    * the doc-count prior and the unseen-bucket default, all BIGINTs.
    * KB-sized (≤ `buckets` pairs) by construction: a corpus-snapshot
    * artifact a deployment fits once ([[seedCrawlNbFit]]) and ships to
    * every scoring job ([[nbScore]]) — the [[SnapshotStore]] lifecycle
    * ([[nbModelToRows]]/[[nbModelFromRows]] give it a 2-long-column
    * storage shape). */
  final case class NbModel(buckets: Int, priorU: Long, defaultU: Long,
                           lrU: Seq[(Long, Long)]) extends Serializable

  /** Serialize an [[NbModel]] to (k, v) long pairs: reserved keys −1
    * (priorU), −2 (defaultU), −3 (buckets) — bucket ids are ≥ 0, so the
    * namespaces cannot collide. */
  def nbModelToRows(m: NbModel): Seq[(Long, Long)] =
    Seq((-1L, m.priorU), (-2L, m.defaultU), (-3L, m.buckets.toLong)) ++ m.lrU

  def nbModelFromRows(rows: Seq[(Long, Long)]): NbModel = {
    val meta = rows.filter(_._1 < 0).toMap
    NbModel(meta(-3L).toInt, meta(-1L), meta(-2L),
      rows.filter(_._1 >= 0).sortBy(_._1))
  }

  /** Fit the seed-vs-crawl Naive-Bayes model (see [[seedCrawlNbScores]]
    * for the math and determinism contract). Each class model is a
    * bucket-grain aggregate — ≤`buckets` rows regardless of corpus size
    * (feature hashing runs distributed inside the plan; no vocabulary is
    * ever collected) — pulled once. */
  def seedCrawlNbFit(seed: DataFrame, crawl: DataFrame,
                     textCol: String = "text", buckets: Int = 4096): NbModel = {
    // ONE tagged union, ONE job: a per-doc sentinel element rides the
    // same explode as the features, so the bucket histogram AND the
    // doc-count priors come out of a single (class, bucket)-keyed
    // aggregation -- the sentinel lands at bucket -1 (never a feature
    // bucket), and the former separate doc-count scan (a full second
    // parquet read + job per fit, ~8 fixed-cost jobs across the q122
    // pipeline) disappears. Counts are identical by construction: same
    // rows, same keys.
    // r19: the feature stream is the fused [[GraftRuntime.nbFeatBuckets]] kernel.
    // The composed explode(wordFeatures) -> md5 -> conv chain ran its
    // higher-order lambdas INTERPRETED (HOFs never enter whole-stage
    // codegen) and dominated the pass -- 2.2 s of q119's 2.7 s at
    // sf0.1; retained as [[seedCrawlNbFitComposed]], the spec parity pin.
    fitFromCounts(tagBuckets(seed, crawl, textCol,
      t => NbDocScore.featBucketsCol(t, buckets)), buckets)
  }

  /** The pre-r19 composed fit (explode(wordFeatures) -> md5-prefix
    * bucket in the plan) -- the executable parity reference for
    * [[GraftRuntime.nbFeatBuckets]]: the fused fit must emit the identical model
    * (spec-pinned, multibyte corpora included). */
  private[graft] def seedCrawlNbFitComposed(seed: DataFrame, crawl: DataFrame,
                                            textCol: String = "text",
                                            buckets: Int = 4096): NbModel = {
    val sentinel = " __nb_doc__"
    val bc = taggedUnion(seed, crawl, textCol)
      .select(col("__cls"),
        explode(concat(array(lit(sentinel)), wordFeatures(col(textCol)))).as("g"))
      .groupBy(col("__cls"),
        when(col("g") === sentinel, lit(-1L))
          .otherwise(featBucket(col("g"), buckets)).as("b"))
      .agg(count(lit(1)).as("c"))
      .collect().toSeq.map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    fitFromCounts(bc, buckets)
  }

  private def taggedUnion(seed: DataFrame, crawl: DataFrame,
                          textCol: String): DataFrame = {
    def nonBlankTagged(df: DataFrame, cls: Int): DataFrame =
      df.filter(trim(col(textCol)) =!= "")
        .select(lit(cls).as("__cls"), col(textCol))
    nonBlankTagged(seed, 0).unionByName(nonBlankTagged(crawl, 1))
  }

  /** (class, bucket, count) aggregation of the fused fit: sentinel -1
    * prepended to each doc's LONG bucket array, one distributed job,
    * bounded (<= 2*buckets + 2 rows) collect. */
  private def tagBuckets(seed: DataFrame, crawl: DataFrame, textCol: String,
                         bucketsOf: Column => Column): Seq[(Int, Long, Long)] =
    taggedUnion(seed, crawl, textCol)
      .select(col("__cls"),
        explode(concat(array(lit(-1L)), bucketsOf(col(textCol)))).as("b"))
      .groupBy(col("__cls"), col("b"))
      .agg(count(lit(1)).as("c"))
      .collect().toSeq.map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))

  private def fitFromCounts(bc: Seq[(Int, Long, Long)], buckets: Int): NbModel = {
    val sCounts = bc.filter(r => r._1 == 0 && r._2 >= 0L)
      .map(r => r._2 -> r._3).toMap
    val rCounts = bc.filter(r => r._1 == 1 && r._2 >= 0L)
      .map(r => r._2 -> r._3).toMap
    val sDenom = (sCounts.values.sum + buckets).toDouble
    val rDenom = (rCounts.values.sum + buckets).toDouble
    // doc-count prior (blank docs carry no features and train nothing)
    val nd = bc.filter(_._2 == -1L).map(r => r._1 -> r._3).toMap
    val nSeed = nd.getOrElse(0, 0L)
    val nCrawl = nd.getOrElse(1, 0L)
    require(nSeed > 0 && nCrawl > 0,
      s"both training slices must be non-empty (seed=$nSeed, crawl=$nCrawl)")
    val priorU = math.floor(math.log(nSeed.toDouble / nCrawl) * 1e6).toLong
    // the quantized model: lr_u per bucket seen in training; a bucket
    // unseen in BOTH classes falls to the same formula at c=0 (the
    // scoring coalesce default) -- identical to the oracle's all-buckets
    // derivation
    def lrU(sc: Long, rc: Long): Long =
      math.floor((math.log((sc + 1.0) / sDenom) -
        math.log((rc + 1.0) / rDenom)) * 1e6).toLong
    NbModel(buckets, priorU, lrU(0L, 0L),
      (sCounts.keySet ++ rCounts.keySet).toSeq.sorted
        .map(b => (b, lrU(sCounts.getOrElse(b, 0L), rCounts.getOrElse(b, 0L)))))
  }

  /** Score documents with a trained [[NbModel]]: one pass — explode
    * features → hash → broadcast join on the LONG bucket id → per-doc
    * integer sum with map-side partials. Nothing but (doc, bucket) pairs
    * ever shuffles.
    *
    * @return one row per non-blank doc: (idCol, n_feat, nb_score_u,
    *         seed_like) */
  def nbScore(model: NbModel, docs: DataFrame,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.filter(trim(col(textCol)) =!= "")
      .select(col(idCol), NbDocScore.scoreCol(col(textCol), model).as("__nb"))
      .select(col(idCol), col("__nb.n_feat").as("n_feat"),
        col("__nb.nb_score_u").as("nb_score_u"))
      .withColumn("seed_like", col("nb_score_u") > 0L)

  /** The pre-r17 composed scoring plan (explode → md5 bucket →
    * broadcast-join the lr table → per-doc integer sum) — kept as the
    * parity oracle for [[NbDocScore.scoreCol]]: the fused kernel must
    * reproduce it row-for-row (spec-pinned). The composed shape paid
    * ~2·tokens exploded rows, a join probe per feature, and a hash
    * aggregate per scoring pass; the fused expression is one map. */
  private[graft] def nbScoreComposed(model: NbModel, docs: DataFrame,
                                     idCol: String = "doc_id",
                                     textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lr = broadcast(model.lrU.toDF("b", "lr_u"))
    docs.filter(trim(col(textCol)) =!= "")
      .select(col(idCol), explode(wordFeatures(col(textCol))).as("g"))
      .select(col(idCol), featBucket(col("g"), model.buckets).as("b"))
      .join(lr, Seq("b"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_feat"),
        (lit(model.priorU) + sum(coalesce(col("lr_u"), lit(model.defaultU))))
          .as("nb_score_u"))
      .withColumn("seed_like", col("nb_score_u") > 0L)
  }

  /** Global ascending rank over (`scoreCol`, `idc`) — the scale-safe
    * two-level prefix scan ([[Sharding.tokenShards]]'s shape): range
    * partition on the sort key, local `row_number`, P-row offset
    * broadcast. Never a global single-task window. Output = input
    * columns + `__grk` (1-based). */
  private[operators] def rankByScore(scored: DataFrame, scoreCol: org.apache.spark.sql.Column,
                                     idc: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranged = scored.repartitionByRange(scoreCol, idc)
      .withColumn("__pid", spark_partition_id())
    val local = ranged.withColumn("__lrk", row_number().over(
      Window.partitionBy("__pid").orderBy(scoreCol, idc)))
    val offsets = local.groupBy("__pid").agg(count(lit(1)).as("__pn"))
      .withColumn("__off", coalesce(
        sum("__pn").over(Window.orderBy("__pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__pid", "__off")
    local.join(broadcast(offsets), "__pid")
      .withColumn("__grk", col("__lrk") + col("__off"))
      .drop("__pid", "__lrk", "__off")
  }

  /** Exact `frac`-quantile of a corpus's NB scores — the snapshot-
    * calibration artifact for an ingest-time quality gate: a deployment
    * scores the ADMITTED corpus once per snapshot, stores the k-th
    * smallest score (k = max(1, ⌊frac·n⌋)), and every later batch is
    * judged against that FIXED integer threshold (`minNbScoreU` =
    * this + 1 drops exactly the below-quantile class), so admission
    * quality is anchored to the snapshot, not to batch composition.
    * One scoring pass + the two-level rank; the pull is a single long. */
  def nbScoreQuantile(model: NbModel, docs: DataFrame, frac: Double,
                      idCol: String = "doc_id", textCol: String = "text"): Long = {
    require(frac > 0.0 && frac < 1.0, s"frac must be in (0,1), got $frac")
    val scored = nbScore(model, docs, idCol, textCol)
      .select(col(idCol), col("nb_score_u")).localCheckpoint(eager = true)
    val n = scored.count()
    require(n > 0, "cannot calibrate a quantile on an empty corpus")
    val k = math.max(1L, math.floor(frac * n).toLong)
    rankByScore(scored, col("nb_score_u"), col(idCol))
      .filter(col("__grk") === k).select("nb_score_u").head().getLong(0)
  }

  /** A trained multiclass language-ID model — the [[NbModel]] discipline
    * generalized to C classes over hashed CHAR-TRIGRAM buckets (character
    * n-grams carry the orthographic signal language ID separates on,
    * where the seed/crawl classifier's word n-grams carry topic):
    * µ-quantized per-(class, bucket) log-probabilities plus per-class
    * doc-count priors, all BIGINTs, so a document's per-class score is
    * prior + an exact INTEGER sum — hash-identical across engines and
    * partition orders. `lpU(c)` covers ALL `buckets` buckets (training-
    * unseen buckets carry the add-one c=0 value), so scoring is a single
    * inner join. KB-sized (C × buckets longs) by construction — the
    * [[SnapshotStore]] artifact lifecycle via [[langNbModelToRows]]. */
  final case class LangNbModel(buckets: Int, langs: Seq[String],
                               priorsU: Seq[Long],
                               lpU: Seq[Array[Long]]) extends Serializable {
    require(langs.nonEmpty && langs == langs.sorted,
      s"langs must be non-empty and sorted, got $langs")
    require(priorsU.length == langs.length && lpU.length == langs.length,
      "per-class arrays must align with langs")
  }

  /** Serialize a [[LangNbModel]] to (lang, k, v) rows: k = −1 carries the
    * class prior, k = −2 the bucket count (repeated per class — bucket
    * ids are ≥ 0, so namespaces cannot collide), k ∈ [0, buckets) the
    * per-bucket log-probs. */
  def langNbModelToRows(m: LangNbModel): Seq[(String, Long, Long)] =
    m.langs.indices.flatMap { i =>
      Seq((m.langs(i), -1L, m.priorsU(i)), (m.langs(i), -2L, m.buckets.toLong)) ++
        m.lpU(i).zipWithIndex.map { case (v, b) => (m.langs(i), b.toLong, v) }
    }

  def langNbModelFromRows(rows: Seq[(String, Long, Long)]): LangNbModel = {
    val langs = rows.map(_._1).distinct.sorted
    val byLang = rows.groupBy(_._1)
    val buckets = rows.collectFirst { case (_, -2L, v) => v.toInt }
      .getOrElse(sys.error("missing bucket-count row (k = -2)"))
    LangNbModel(buckets, langs,
      langs.map(l => byLang(l).collectFirst { case (_, -1L, v) => v }
        .getOrElse(sys.error(s"missing prior row for $l"))),
      langs.map { l =>
        val a = new Array[Long](buckets)
        byLang(l).foreach { case (_, k, v) => if (k >= 0) a(k.toInt) = v }
        a
      })
  }

  /** Fit the multiclass language-ID NB model on a LABELED slice: per
    * class c, add-one-smoothed bucket log-probs
    * ln((count(c, b) + 1) / (total(c) + buckets)) and doc-count prior
    * ln(n_c / n_total), each µ-quantized (`floor(x·10⁶)`). A class's
    * docs are those with ≥ 1 trigram (a blank or 2-char doc trains
    * nothing and counts toward no prior — mirroring the scoring join,
    * which emits no row for it).
    *
    * Scale shape: bucket hashing runs distributed IN the plan
    * ([[featBucket]] over [[charTrigrams]] — codegen'd built-ins); the
    * pulls are one ≤ C·buckets-row aggregate and one C-row doc count,
    * both bounded by construction regardless of corpus size. */
  def langNbFit(labeled: DataFrame, langCol: String = "lang",
                textCol: String = "text", buckets: Int = 1024): LangNbModel = {
    val withTri = labeled.filter(length(normText(col(textCol))) >= 3)
    val nd = withTri.groupBy(col(langCol).as("l")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(nd.nonEmpty, "training slice has no trigram-bearing documents")
    val langs = nd.keySet.toSeq.sorted
    val nTot = nd.values.sum.toDouble
    // fused [[GraftRuntime.triBuckets]] stream (the nbFeatBuckets rationale: the
    // composed explode(charTrigrams) → md5 → conv chain pays per-trigram
    // string materialization + hex parsing; the spec pins parity)
    val cc = withTri
      .select(col(langCol).as("l"),
        explode(NbDocScore.triBucketsCol(col(textCol), buckets)).as("b"))
      .groupBy(col("l"), col("b"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1).toInt) -> r.getLong(2)).toMap
    val totals = cc.groupMapReduce(_._1._1)(_._2)(_ + _)
    LangNbModel(buckets, langs,
      langs.map(l => math.floor(math.log(nd(l) / nTot) * 1e6).toLong),
      langs.map { l =>
        val d = (totals.getOrElse(l, 0L) + buckets).toDouble
        Array.tabulate(buckets)(b =>
          math.floor(math.log((cc.getOrElse((l, b), 0L) + 1.0) / d) * 1e6).toLong)
      })
  }

  /** Score documents with a trained [[LangNbModel]] and pick the argmax
    * class: one pass — explode trigrams → hash → broadcast inner join on
    * the (bucket → per-class log-prob) rows → per-(doc, class) integer
    * sum with map-side partials → per-doc argmax (ties break toward the
    * lexicographically smaller language — deterministic across engines).
    * Documents with no trigram emit no row (they carry no evidence; the
    * pipeline's lang gate passes them through to die as `empty` later).
    *
    * @return one row per trigram-bearing doc:
    *         (idCol, n_tri, pred_lang, score_u) */
  def langNbPredict(model: LangNbModel, docs: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val c = model.langs.length
    val rows = for {
      li <- 0 until c
      b <- 0 until model.buckets
    } yield (b.toLong, li, model.lpU(li)(b))
    val m = broadcast(rows.toDF("b", "li", "lp_u"))
    val priors = typedLit(model.priorsU)
    val langsLit = typedLit(model.langs)
    docs
      .select(col(idCol),
        explode(NbDocScore.triBucketsCol(col(textCol), model.buckets)).as("b"))
      .join(m, Seq("b"))
      .groupBy(col(idCol), col("li"))
      .agg(count(lit(1)).as("n_tri"), sum(col("lp_u")).as("lsum"))
      .select(col(idCol), col("n_tri"), col("li"),
        (col("lsum") + element_at(priors, col("li") + 1)).as("s"))
      .groupBy(col(idCol))
      .agg(max(col("n_tri")).as("n_tri"),
        max(struct(col("s"), (lit(c) - col("li")).as("inv"))).as("m"))
      .select(col(idCol), col("n_tri"),
        element_at(langsLit, lit(c) - col("m.inv") + 1).as("pred_lang"),
        col("m.s").as("score_u"))
  }

  /** Trained seed-vs-crawl quality classifier (the CCNet/fastText-style
    * discriminative curation stage): a multinomial Naive-Bayes model over
    * hashed word uni+bigram features, trained on a curated SEED slice vs a
    * raw-CRAWL sample, scoring every document by its class log-odds
    *
    *   score = ln(Nseed/Ncrawl) + Σ_g [ ln P(bucket(g)|seed) − ln P(bucket(g)|crawl) ]
    *
    * with add-one smoothing over the `buckets`-bucket feature space.
    * `seed_like` (score > 0) is the classifier decision; the score itself
    * is the filter/resampling signal (cf. CCNet's perplexity buckets).
    *
    * Determinism contract: the model's per-bucket log-likelihood ratios
    * are published MICRO-QUANTIZED (`floor(lr·10⁶)` as BIGINT), so a doc
    * score is prior_u + an exact INTEGER sum — hash-identical across
    * engines and partition orders by construction. (q83/q87 average ~1e-13
    * float noise away; a per-doc SUM of hundreds of doubles would amplify
    * it past the µ-quantization boundary, so this operator quantizes the
    * model, not the result.)
    *
    * Fit-then-score convenience over [[seedCrawlNbFit]] + [[nbScore]];
    * deployments that score many batches fit once and store the model
    * (the [[SnapshotStore]] lifecycle, wired into
    * [[Pipeline.curateIncremental]] via its `nbModel` parameter). */
  def seedCrawlNbScores(seed: DataFrame, crawl: DataFrame, docs: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        buckets: Int = 4096): DataFrame =
    nbScore(seedCrawlNbFit(seed, crawl, textCol, buckets), docs, idCol, textCol)
}
