package graft.operators

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The struct and word sets of [[GraftRuntime.tokenStats]]:
  * `struct(n_tokens, n_chars, stop, en, es, de, fr)` where `stop` counts
  * [[stopwords]] hits and the language fields count the per-language
  * marker-word hits used by the language-ID heuristic. */
object TokenStats {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("stop", IntegerType, nullable = false),
    StructField("en", IntegerType, nullable = false),
    StructField("es", IntegerType, nullable = false),
    StructField("de", IntegerType, nullable = false),
    StructField("fr", IntegerType, nullable = false)))

  /** Must stay in sync with TextOps.stopwords / TextOps.langMarkers. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"))

  private def toSet(ws: Seq[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](ws.size * 2)
    ws.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
  private[operators] val stopSet = toSet(stopwords)
  private[operators] val enSet = toSet(markers("en"))
  private[operators] val esSet = toSet(markers("es"))
  private[operators] val deSet = toSet(markers("de"))
  private[operators] val frSet = toSet(markers("fr"))
}
