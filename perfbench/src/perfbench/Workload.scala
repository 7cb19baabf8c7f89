package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Row, SparkSession}

/** One benchmark workload: two op kinds, run alternately by one closed-loop
  * client. */
trait Workload {
  /** The two op kinds; their median latencies are `a_p50_ms` and `b_p50_ms`. */
  def kinds: (String, String)

  /** Generates the inputs and builds the stored tables. Repeatable: each
    * call replaces what the last one built. */
  def prepare(): Unit

  /** Computes the exact answers the checks compare with; once, after the
    * last `prepare`, and not part of set-up time. */
  def oracle(): Unit = ()

  /** Untimed ops of both kinds, until JIT, codegen and caches settle. */
  def warm(tr: Tracer): Unit

  /** Untimed bookkeeping before op `i`. */
  def before(kind: String, i: Int): Unit = ()

  /** One timed op. Returns its correctness check, which runs after the
    * timed loop: None when the op's output is correct, else the reason. */
  def op(kind: String, i: Int, tr: Tracer): () => Option[String]

  /** The end-to-end size the op latencies are quoted at. */
  def describe: String

  def close(): Unit = ()
}

object Workload {
  val names: Seq[String] = Seq("sketch_ingest", "curate")

  def apply(name: String, spark: SparkSession, seed: Long, work: Path): Workload = name match {
    case "sketch_ingest" => new Ingest(spark, seed)
    case "curate"        => new Curate(spark, seed, work)
    case other           => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Runs one SQL query: `sql.bind` spans parsing and analysis, which
    * `spark.sql` does eagerly; `sql.execute` spans the whole call. */
  def query(spark: SparkSession, tr: Tracer, sql: String): Array[Row] =
    tr.span("sql.execute")(tr.span("sql.bind")(spark.sql(sql)).collect())
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toArray
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
