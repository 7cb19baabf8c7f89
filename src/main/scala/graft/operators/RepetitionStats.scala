package graft.operators

import org.apache.spark.sql.types._

/** The struct of [[GraftRuntime.repetitionStats]]:
  * `struct(tokens, dup_tokens, bigrams, dup_bigrams)`. */
object RepetitionStats {
  val schema: StructType = StructType(Seq(
    StructField("tokens", IntegerType, nullable = false),
    StructField("dup_tokens", IntegerType, nullable = false),
    StructField("bigrams", IntegerType, nullable = false),
    StructField("dup_bigrams", IntegerType, nullable = false)))
}
