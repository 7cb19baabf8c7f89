package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-statistics scoring for training-data curation: BM25 relevance
  * against a bounded query-term set, full-vocabulary TF-IDF salient-term
  * extraction, and per-document token-distribution entropy (a gibberish /
  * boilerplate signal: natural prose sits in a mid-entropy band, random
  * noise high, template spam low).
  *
  * Scale shape, in the order the 100 TB audit cares about:
  *   - Per-document term frequencies never shuffle token instances: the
  *     (term, tf) pairs are built map-side by the native [[GraftRuntime.termRuns]]
  *     kernel (one sorted-run scan, O(n log n) per doc, whole-stage
  *     codegen'd) — the explode carries one row per DISTINCT term per
  *     doc, not one per token.
  *   - BM25's document-frequency pass aggregates only tokens that match
  *     the bounded query set (filter BEFORE explode), so the shuffle is
  *     |Q| counters wide; the resulting per-term IDF table is a driver
  *     literal (bounded by |Q|, documented) and the scoring pass is a
  *     single map-side projection + top-k (`TakeOrderedAndProject`).
  *   - TF-IDF's vocabulary join is a plain equi-join keyed on the term:
  *     vocabulary-sized right side (≪ corpus; AQE broadcasts it when it
  *     fits, splits it when it doesn't) — never an all-pairs shape.
  */
object TfIdf {

  /** Whitespace tokens, lowercased — the engine-portable tokenizer shared
    * with the DuckDB oracles (`string_split_regex(lower(trim(x)),'\s+')`). */
  def lowerTokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(lower(trim(text)), "\\s+"))

  /** Per-document (term, tf) pairs as `array<struct<term,tf>>` in sorted
    * term order, computed WITHOUT a shuffle by the native
    * [[GraftRuntime.termRuns]] kernel (one lowercase → tokenize → sort →
    * run-length scan per document, whole-stage codegen'd). */
  def termRuns(text: Column): Column = Kernel.termRuns(text)

  /** Composed reference formulation of [[termRuns]] over a pre-split
    * token array — run boundaries from a filtered index sequence. Its
    * interpreted evaluation inlines `sort_array` into the boundary
    * lambda (re-sorts per element), so it exists only as the parity
    * oracle for the native expression (DriftTfIdfSpec). */
  private[graft] def termCountsArrayOps(toks: Column): Column = {
    val s = sort_array(toks)
    val n = size(s)
    // 0-based indices where a new run of equal tokens starts
    val starts = filter(sequence(lit(0), n - 1),
      i => (i === 0) || element_at(s, i + 1) =!= element_at(s, i))
    val ends = concat(slice(starts, lit(2), greatest(size(starts) - 1, lit(0))), array(n))
    val pairs = zip_with(starts, ends, (a, b) =>
      struct(element_at(s, a + 1).as("term"), (b - a).cast("long").as("tf")))
    when(n === 0, array().cast("array<struct<term:string,tf:bigint>>"))
      .otherwise(pairs)
  }

  /** Shannon entropy (nats) of a document's token distribution, map-side
    * in ONE pass over the [[termRuns]] runs: a fused (n, Σ tf·ln tf)
    * accumulator, finished as H = ln(n) − Σ tf·ln(tf) / n. NULL for
    * empty documents. The algebraic form and the sorted-term addend
    * order match the oracle SQL exactly. */
  def tokenEntropy(text: Column): Column =
    aggregate(termRuns(text),
      struct(lit(0L).as("n"), lit(0.0d).as("s")),
      (acc, x) => {
        val tf = x.getField("tf")
        struct((acc.getField("n") + tf).as("n"),
          (acc.getField("s") + tf.cast("double") * log(tf.cast("double"))).as("s"))
      },
      acc => {
        val n = acc.getField("n").cast("double")
        when(acc.getField("n") === 0, lit(null).cast("double"))
          .otherwise(log(n) - acc.getField("s") / n)
      })

  /** BM25 document scores against a fixed query-term set; top `topK` docs
    * by (score desc, id asc). Output: (id, n_tokens, score_u) with the
    * score floored at 1e-6 grain (the engine-portable double convention).
    *
    * Two bounded driver pulls, both documented: the 1-row corpus stats
    * (N, avgdl) and the |Q|-row document-frequency table that becomes the
    * IDF literal array. Everything else is map-side + one top-k. */
  def bm25(docs: DataFrame, idCol: String, textCol: String, query: Seq[String],
           k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): DataFrame = {
    require(query.nonEmpty, "bm25 needs at least one query term")
    require(query.size <= 1024,
      s"bm25 query-term set is a broadcast-bounded literal; got ${query.size} terms (max 1024)")
    val qTerms = query.map(_.toLowerCase)
    val base = docs.select(col(idCol).as("id"), lowerTokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
      .filter(col("dl") > 0)
    // 1-row corpus stats: exact integer sums so both engines derive the
    // identical IEEE avgdl (sum(bigint)/count, not a float running mean)
    val stats = base.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl").cast("long")).cast("double") / count(lit(1))).as("avgdl")).head()
    val nDocs = stats.getLong(0)
    if (nDocs == 0) // empty corpus: empty result of the output schema
      return base.select(col("id"), lit(0L).as("n_tokens"), lit(0L).as("score_u"))
    val avgdl = stats.getDouble(1)
    // |Q|-bounded DF pass: filter to query terms BEFORE exploding
    val qArr = array(qTerms.map(lit): _*)
    val dfMap = base
      .select(explode(array_intersect(array_distinct(col("toks")), qArr)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val idf = qTerms.map { t =>
      val df = dfMap.getOrElse(t, 0L).toDouble
      math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
    }
    // map-side scoring: tf per query term via array filter, then a left
    // fold in query order (same addend order as the oracle's explicit sum)
    val tfArr = transform(qArr, q => size(filter(col("toks"), t => t === q)).cast("double"))
    val idfArr = array(idf.map(lit): _*)
    val contrib = zip_with(tfArr, idfArr, (tf, w) =>
      w * (tf * (k1 + 1.0)) / (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
    val score = aggregate(contrib, lit(0.0d), (acc, x) => acc + x)
    base.select(col("id"), col("dl").cast("long").as("n_tokens"), score.as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("id"))
      .limit(topK)
      .select(col("id"), col("n_tokens"),
        floor(col("score") * 1e6).cast("long").as("score_u"))
  }

  /** Per-document most-salient term by TF-IDF weight (w = tf · ln(N/df)).
    * Output: (id, top_term, tf, w_u). The vocabulary's DF table comes from
    * the same (id, term, tf) relation (already one row per distinct term
    * per doc, so DF is a plain count), and joins back on the term key. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("id"), termRuns(col(textCol)).as("tc"))
      .filter(size(col("tc")) > 0)
    val pairs = base
      .select(col("id"), explode(col("tc")).as("tc"))
      .select(col("id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
    val dfTable = pairs.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = base.agg(count(lit(1)).as("n_docs")) // 1 row
    val w = col("tf").cast("double") * log(col("n_docs").cast("double") / col("df").cast("double"))
    val rn = row_number().over(
      Window.partitionBy("id").orderBy(col("w").desc, col("term")))
    pairs.join(dfTable, "term") // vocab-sized side: AQE broadcast or split
      .crossJoin(broadcast(nDocs)) // 1-row corpus size
      .withColumn("w", w)
      .withColumn("rn", rn)
      .filter(col("rn") === 1)
      .select(col("id"), col("term").as("top_term"), col("tf"),
        floor(col("w") * 1e6).cast("long").as("w_u"))
  }
}
