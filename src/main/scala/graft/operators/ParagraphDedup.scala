package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Paragraph-level (chunk-level) dedup with document reassembly — the
  * CCNet / RefinedWeb curation stage: split every document into
  * paragraph units, drop each unit that already occurred earlier in the
  * corpus (global first-occurrence wins), and re-emit the document with
  * only its surviving units. On corpora without newline structure the
  * unit is a fixed window of `chunkWords` whitespace tokens — same
  * semantics, same plan.
  *
  * Scale shape (the q34 pattern, extended to sub-document grain):
  *
  *  - the ranking window sees (128-bit md5, doc, chunk-index) rows only —
  *    chunk text is hashed map-side and never enters an exchange;
  *  - only LOSERS (typically a small fraction of chunk mass) flow into
  *    the reassembly join, grouped to one row per affected document, so
  *    AQE broadcasts that side on a mostly-clean corpus and the document
  *    text itself never shuffles — reassembly is a map over the scan;
  *  - md5 (not a 64-bit hash) keys the dedup decision: at 10¹²-chunk
  *    scale a 64-bit key expects thousands of birthday collisions, each
  *    silently deleting a unique paragraph; 128 bits puts the expected
  *    count at ~10⁻¹⁴.
  */
object ParagraphDedup {

  /** Per-document chunk array: fixed windows of `chunkWords` whitespace
    * tokens, single-space re-joined (the trailing chunk may be short).
    * Blank documents produce an empty array. Native
    * [[GraftRuntime.wordChunks]] —
    * the composed transform+slice formulation (kept in
    * [[chunkArrayOps]] as the property pin) re-splits the text once per
    * chunk when the lambda evaluates interpreted. */
  private[graft] def chunkArray(text: Column, chunkWords: Int): Column = {
    require(chunkWords >= 1, s"gram size must be >= 1, got $chunkWords")
    Kernel.wordChunks(text, lit(chunkWords))
  }

  /** Reference formulation of [[chunkArray]] (property-test pin). */
  private[graft] def chunkArrayOps(text: Column, chunkWords: Int): Column = {
    val words = split(trim(text), "\\s+")
    val nc = ceil(size(words) / lit(chunkWords.toDouble)).cast("int")
    when(trim(text) === "", array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nc - 1),
        i => array_join(slice(words, i * chunkWords + 1, lit(chunkWords)), " ")))
  }

  /** (doc, cidx, chunk-md5) positional chunk relation — the only thing
    * the dedup decision ever shuffles. */
  private[graft] def chunkHashes(df: DataFrame, idCol: String, textCol: String,
                                     chunkWords: Int): DataFrame =
    df.select(col(idCol).as("doc"), chunkArray(col(textCol), chunkWords).as("chunks"))
      .select(col("doc"), posexplode(col("chunks")))
      .select(col("doc"), col("pos").as("cidx"), md5(encode(col("col"), "UTF-8")).as("h"))

  /** Losing chunk occurrences — every (doc, cidx) whose chunk content
    * already occurred at a smaller (doc, cidx). */
  private[graft] def chunkDrops(df: DataFrame, idCol: String, textCol: String,
                                    chunkWords: Int): DataFrame = {
    val w = Window.partitionBy("h").orderBy("doc", "cidx")
    chunkHashes(df, idCol, textCol, chunkWords)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .select("doc", "cidx")
  }

  /** Documents with duplicate paragraphs removed (first occurrence wins,
    * corpus-global, ordered by (doc id, position)).
    *
    * Returns (idCol, kept_chunks, dropped_chunks, cleaned_text) — one row
    * per non-blank input document, text rebuilt from surviving chunks in
    * original order. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     chunkWords: Int = 10): DataFrame = {
    val nonBlank = df.filter(trim(col(textCol)) =!= "")
    val drops = chunkDrops(nonBlank, idCol, textCol, chunkWords)
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(col("cidx"))).as("dropped"))
    val base = nonBlank.select(col(idCol),
      chunkArray(col(textCol), chunkWords).as("chunks"))
    base.join(drops, base(idCol) === drops("doc"), "left")
      .withColumn("keep",
        when(col("dropped").isNull, sequence(lit(0), size(col("chunks")) - 1))
          .otherwise(array_except(sequence(lit(0), size(col("chunks")) - 1), col("dropped"))))
      .select(
        col(idCol),
        size(col("keep")).cast("long").as("kept_chunks"),
        (size(col("chunks")) - size(col("keep"))).cast("long").as("dropped_chunks"),
        array_join(transform(col("keep"), i => element_at(col("chunks"), i + 1)), " ")
          .as("cleaned_text"))
  }
}
