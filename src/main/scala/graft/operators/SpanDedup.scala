package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicated-span detection across documents — the
  * suffix-array-style "exact substring dedup" of training-data curation
  * (find every maximal run of ≥ minSpan tokens shared verbatim between two
  * documents), re-expressed as a shuffle-friendly Spark plan:
  *
  *  1. positional k-gram hashes per document ([[GraftRuntime.gramHashes]] —
  *     one byte-scan, map-side, whole-stage codegen'd);
  *  2. ONE shuffle groups the gram mass by gram id into per-gram
  *     occurrence lists via the size-bounded [[BoundedOccListAgg]];
  *     grams occurring more than `maxGramOccurrences` times
  *     (boilerplate: headers, license blocks) tombstone to a 1-bit
  *     overflow during collection — map-side, before the exchange —
  *     so no buffer ever materializes a hot gram's O(df) list: the
  *     same quadratic-head protection as the Jaccard inverted index,
  *     and the only thing standing between pair expansion and an
  *     O(df²) blowup on hot grams at 100 TB;
  *  3. in-group expansion yields cross-document positional matches
  *     (doc_a < doc_b);
  *  4. matches on one alignment share a diagonal (pos_a − pos_b);
  *     consecutive positions within a diagonal are grouped with the
  *     classic islands trick (pos − row_number), and each island is one
  *     maximal duplicated span of `islandLen + k − 1` tokens.
  *
  * Nothing after step 1 carries text: both shuffles move (doc, pos,
  * 8-byte gram id) rows only. The diagonal window partitions by
  * (doc_a, doc_b, diagonal) — groups are bounded by the shorter
  * document's length, never by corpus size, so no skewed window task.
  */
object SpanDedup {

  /** Positional gram relation: (doc, pos, g) — one row per k-gram start
    * position. Docs with fewer than k tokens contribute nothing. */
  def gramRelation(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"gram size must be >= 1, got $k")
    df.select(col(idCol).as("doc"), Kernel.gramHashes(col(textCol), lit(k)).as("ga"))
      .select(col("doc"), posexplode(col("ga")))
      .select(col("doc"), col("pos").cast("long").as("pos"), col("col").as("g"))
  }

  /** Reference formulation of the positional gram array with pure array
    * ops (kept for the property test pinning [[GraftRuntime.gramHashes]] semantics). */
  private[graft] def gramHashesArrayOps(text: Column, k: Int): Column = {
    val th = transform(TextOps.tokens(text), t => xxhash64(t))
    val n = size(th)
    val fold = (window: Column) =>
      aggregate(window, lit(0L),
        (acc, h) => shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59)).bitwiseXOR(h))
    when(n < k, array().cast("array<long>"))
      .otherwise(transform(sequence(lit(0), n - k), i => fold(slice(th, i + 1, lit(k)))))
  }

  /** Positional matches via the inverted index: ONE shuffle of the gram
    * mass groups every occurrence of a gram onto one reducer as a
    * (doc, pos) list; the occurrence cap (boilerplate exclusion AND the
    * only thing standing between pair expansion and an O(df²) blowup on
    * hot grams at 100 TB) is enforced DURING collection by
    * [[BoundedOccListAgg]] — a hot gram's buffer tombstones to one bit
    * the moment it passes the cap, map-side, so no aggregation buffer
    * (and no shuffle partial) ever holds more than cap pairs. No
    * separate count pass, no hot-list anti-join, no join exchange
    * (measured: 0.88 → 0.56 s for sf0.1 detection vs the former
    * count + anti-join + self-join shape). Surviving groups are ≤ cap
    * structs (≤ ~16 KB at the default 1000), and in-group expansion
    * emits the same ≤ df² pair stream a gram-keyed join reducer would
    * have produced. List order is collect-order (nondeterministic); the
    * PAIR SET is not, and everything downstream is order-insensitive. */
  private def selfMatches(grams: DataFrame, cap: Int): DataFrame =
    grams.groupBy("g")
      .agg(BoundedOccListAgg.boundedOccList(cap, col("doc"), col("pos")).as("occ"))
      .filter(col("occ").isNotNull && size(col("occ")) >= 2)
      .select(explode(col("occ")).as("a"), col("occ"))
      .select(col("a"), explode(col("occ")).as("b"))
      .filter(col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("da"), col("b.doc").as("db"),
        col("a.pos").as("pa"), col("b.pos").as("pb"),
        (col("a.pos") - col("b.pos")).as("diag"))

  /** [[selfMatches]] between two gram relations: one pass collects each
    * side's occurrences into its own list (`collect_list` skips the
    * other side's null slot), the cap governs the UNION mass — bounding
    * df_left(g) × df_right(g) on grams hot in either corpus — and
    * expansion is left × right (equal ids NOT excluded: id spaces are
    * the caller's contract, see [[crossSpans]]).
    *
    * Measured alternative, rejected: pre-semi-joining the left mass to
    * the right side's distinct gram set helps only when that set
    * BROADCASTS (a truly small benchmark); at comparable corpus sizes
    * it is an extra full shuffle (sf1 balanced: 1.95 s with the semi vs
    * 1.34 s without). A deployment decontaminating a 100 TB corpus
    * against a small eval suite should pre-filter with
    * `gl.join(broadcast(gr.select("g").distinct()), Seq("g"),
    * "left_semi")` before calling — pair set and cap semantics are
    * unaffected, since grams absent from either side never pair. */
  private def crossMatches(gl: DataFrame, gr: DataFrame, cap: Int): DataFrame =
    gl.withColumn("side", lit(0)).unionByName(gr.withColumn("side", lit(1)))
      .groupBy("g")
      // each side's list is individually cap-bounded during collection
      // (a side alone past the cap implies the union is too); the sum
      // filter below then applies the documented UNION-mass cap exactly
      .agg(
        BoundedOccListAgg.boundedOccList(cap,
          when(col("side") === 0, col("doc")),
          when(col("side") === 0, col("pos"))).as("occa"),
        BoundedOccListAgg.boundedOccList(cap,
          when(col("side") === 1, col("doc")),
          when(col("side") === 1, col("pos"))).as("occb"))
      .filter(col("occa").isNotNull && col("occb").isNotNull &&
        size(col("occa")) >= 1 && size(col("occb")) >= 1 &&
        (lit(cap <= 0) || size(col("occa")) + size(col("occb")) <= cap))
      .select(explode(col("occa")).as("a"), col("occb"))
      .select(col("a"), explode(col("occb")).as("b"))
      .select(col("a.doc").as("da"), col("b.doc").as("db"),
        col("a.pos").as("pa"), col("b.pos").as("pb"),
        (col("a.pos") - col("b.pos")).as("diag"))

  /** The diagonal-islands core: positional matches (da, db, pa, pb) on
    * one alignment share `diag = pa − pb`; consecutive pa within a
    * diagonal group into maximal runs, each a span of
    * `runLen + k − 1` tokens. */
  private def islandSpans(m: DataFrame, k: Int, minSpan: Int): DataFrame = {
    val w = Window.partitionBy("da", "db", "diag").orderBy("pa")
    m.withColumn("island", col("pa") - row_number().over(w))
      .groupBy("da", "db", "diag", "island")
      .agg(min("pa").as("a_start"), min("pb").as("b_start"),
        (max("pa") - min("pa") + lit(k.toLong)).as("span_tokens"))
      .filter(col("span_tokens") >= minSpan)
  }

  /** Maximal cross-document duplicated spans of ≥ `minSpan` tokens.
    *
    * Returns (doc_a, doc_b, a_start, b_start, span_tokens), doc_a < doc_b,
    * positions 0-based token offsets. Grams occurring more than
    * `maxGramOccurrences` times corpus-wide are excluded before the
    * self-join (a span crossing an excluded gram splits — the documented
    * cap trade-off, identical to the inverted-index DF cap). */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, minSpan: Int = 20,
                      maxGramOccurrences: Int = 1000): DataFrame =
    duplicatedSpansFromGrams(gramRelation(df, idCol, textCol, k), k,
      minSpan, maxGramOccurrences)

  /** The span machinery over ANY positional symbol relation — (doc,
    * pos, g) rows in, maximal aligned runs out. `k` is the symbol
    * window width the relation was built with (text k-grams: spans are
    * `runLen + k − 1` tokens; single-symbol relations like per-frame
    * perceptual hashes pass k = 1 so a span IS its run length). This is
    * what lets the exact-substring dedup core drive other modalities:
    * [[VideoOps.videoDupSegments]] feeds frame-hash rows through it to
    * find shared video SEGMENTS. */
  def duplicatedSpansFromGrams(grams: DataFrame, k: Int, minSpan: Int,
                               maxGramOccurrences: Int): DataFrame = {
    val m = selfMatches(grams, maxGramOccurrences)
    islandSpans(m, k, minSpan)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("a_start"), col("b_start"), col("span_tokens"))
  }

  /** Maximal verbatim spans shared BETWEEN two corpora — sequence-level
    * contamination detection: where k-gram membership (q59-style
    * decontamination) flags documents sharing ANY gram with the
    * benchmark, this reports the aligned runs themselves, catching long
    * partial overlaps and quantifying their extent. Id spaces must be
    * disjoint or overlap is reported for equal ids too (no self-pair
    * exclusion across relations).
    *
    * Returns (left_id, right_id, left_start, right_start, span_tokens).
    * The occurrence cap is computed over the UNION of both gram masses,
    * bounding the df_left(g) × df_right(g) quadratic head on grams hot
    * in either corpus. */
  def crossSpans(left: DataFrame, right: DataFrame,
                 idCol: String, textCol: String,
                 k: Int = 8, minSpan: Int = 20,
                 maxGramOccurrences: Int = 1000): DataFrame =
    crossSpansFromGrams(
      gramRelation(left, idCol, textCol, k),
      gramRelation(right, idCol, textCol, k), k, minSpan, maxGramOccurrences)

  /** [[crossSpans]] over pre-built positional symbol relations — the
    * cross-corpus twin of [[duplicatedSpansFromGrams]], for modalities
    * whose symbols are not text k-grams: [[VideoOps]] feeds per-frame
    * perceptual hashes (k = 1) through it so an ingest batch's videos
    * can be judged for shared segments against an immutable history
    * side without re-mining history-vs-history pairs (per-batch cost =
    * batch grams joined into the history gram relation, never
    * batch × history). Same cap-over-union contract as [[crossSpans]]. */
  def crossSpansFromGrams(gl: DataFrame, gr: DataFrame, k: Int, minSpan: Int,
                          maxGramOccurrences: Int): DataFrame = {
    val m = crossMatches(gl, gr, maxGramOccurrences)
    islandSpans(m, k, minSpan)
      .select(col("da").as("left_id"), col("db").as("right_id"),
        col("a_start").as("left_start"), col("b_start").as("right_start"),
        col("span_tokens"))
  }

  /** Documents with duplicated spans REMOVED — the second half of exact
    * substring dedup: for every span [[duplicatedSpans]] reports, the
    * copy in the HIGHER-id document (the pair's b side) is cut and the
    * lower-id copy kept, so one copy of every duplicated run survives
    * corpus-wide. A document hit by several partners loses the UNION of
    * its b-side token ranges.
    *
    * Returns (idCol, kept_tokens, removed_tokens, cleaned_text), one row
    * per non-blank document (untouched documents pass through whole,
    * single-space re-joined).
    *
    * Scale shape: span detection shuffles gram ids only; the cut list
    * groups to one interval-array row per AFFECTED document (bounded by
    * doc length / minSpan intervals), so the reassembly join is the q84
    * losers-join — AQE-broadcastable on a mostly-clean corpus, text
    * rebuilt map-side over the scan with an `exists` over intervals. */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 8, minSpan: Int = 20,
                            maxGramOccurrences: Int = 1000): DataFrame =
    applyCuts(df, idCol, textCol,
      duplicatedSpans(df, idCol, textCol, k, minSpan, maxGramOccurrences)
        .select(col("doc_b"), col("b_start"), col("span_tokens")))

  /** CROSS-corpus span removal — the ingest-contamination form of
    * [[removeDuplicatedSpans]]: every ≥ `minSpan`-token run a `batch`
    * document shares verbatim with ANY `history` document is cut from
    * the batch copy (history is immutable — the admitted corpus keeps
    * its text). Returns the [[removeDuplicatedSpans]] shape over batch
    * rows. Same scale shape as [[crossSpans]]: per-batch cost = batch
    * grams + equi-joins into history's gram relation, cap over the
    * union. */
  def removeCrossSpans(history: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String,
                       k: Int = 8, minSpan: Int = 20,
                       maxGramOccurrences: Int = 1000): DataFrame =
    applyCuts(batch, idCol, textCol,
      crossSpans(history, batch, idCol, textCol, k, minSpan, maxGramOccurrences)
        .select(col("right_id").as("doc_b"), col("right_start").as("b_start"),
          col("span_tokens")))

  /** Shared reassembly: cut `spans` (doc_b, b_start, span_tokens) out of
    * `df` and re-emit (idCol, kept_tokens, removed_tokens, cleaned_text),
    * one row per non-blank document. The cut list groups to one
    * interval-array row per AFFECTED document (bounded by doc length /
    * minSpan), so the join is losers-only and the text rebuild is
    * map-side over the scan. */
  private def applyCuts(df: DataFrame, idCol: String, textCol: String,
                        spans: DataFrame): DataFrame = {
    val cuts = spans
      .groupBy(col("doc_b").as("doc"))
      .agg(collect_list(struct(col("b_start"), col("span_tokens"))).as("cuts"))
    val base = df.filter(trim(col(textCol)) =!= "")
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("toks"))
    base.join(cuts, base(idCol) === cuts("doc"), "left")
      .withColumn("keep",
        when(col("cuts").isNull, sequence(lit(0L), size(col("toks")).cast("long") - 1L))
          .otherwise(filter(
            sequence(lit(0L), size(col("toks")).cast("long") - 1L),
            i => !exists(col("cuts"),
              c => i >= c("b_start") && i < c("b_start") + c("span_tokens")))))
      .select(
        col(idCol),
        size(col("keep")).cast("long").as("kept_tokens"),
        (size(col("toks")) - size(col("keep"))).cast("long").as("removed_tokens"),
        array_join(
          transform(col("keep"), i => element_at(col("toks"), (i + 1L).cast("int"))),
          " ").as("cleaned_text"))
  }
}
