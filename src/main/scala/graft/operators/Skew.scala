package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions._

/** Skew-salted sketch aggregation.
  *
  * A straight `GROUP BY key` sends every row of a hot key to one reducer.
  * Because sketches are mergeable monoids, the classic salting rewrite is
  * *exactly* correct for them (not just approximately, as it would be for
  * e.g. averages computed naively): aggregate on (key, salt) to spread a
  * hot key over `salts` reducers, then merge the partial sketches per key.
  * The second stage moves only sketch blobs — KB per (key, salt) — so the
  * hot key's second-stage cost is `salts × sketch-size`, not its row
  * count. At 100 TB this (or AQE skew-split, which handles joins but not
  * single-key aggregation fan-in) is what keeps a power-law key
  * distribution from serializing the job on one executor.
  */
object Skew {

  /** Distinct-count per key via salted theta sketches; identical output
    * to the unsalted aggregation (theta merge is deterministic on the
    * value set, so salting is invisible in the result). */
  def saltedDistinct(df: DataFrame, keyCol: String, valueCol: String,
                     salts: Int = 16, lgK: Int = 12): DataFrame = {
    require(salts >= 1)
    graft.Registration.register(df.sparkSession)
    df.groupBy(col(keyCol), pmod(xxhash64(col(valueCol)), lit(salts)).as("__salt"))
      .agg(datasketch_theta(lgK, col(valueCol)).as("__partial"))
      .groupBy(col(keyCol))
      .agg(datasketch_theta(lgK, col("__partial")).as("sketch"))
      .select(col(keyCol),
        round(datasketch_theta_estimate(col("sketch"))).cast("long").as("approx_distinct"),
        col("sketch"))
  }
}
