package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.sketch.FreqScalar
import org.apache.spark.sql.catalyst.expressions.BoundReference

/** sketch_ingest: the build path. Each op is one SQL job that builds all
  * eight sketch families over the cached generated rows, then probes them.
  *  - `narrow`: 64 Zipf-skewed groups; update-bound.
  *  - `wide`: 20K uniform groups, past the 2048-group sort fallback of the
  *    object hash aggregate; buffer create, serialize and merge dominate. */
final class Ingest(spark: SparkSession, seed: Long) extends Workload {
  import Ingest._

  val kinds = ("narrow", "wide")
  def describe = s"${Shape.rows} rows, ${Shape.narrowGroups} narrow / ${Shape.wideGroups} wide groups"

  private var rows: DataFrame = _
  private var exactNarrow: Map[Int, Row] = Map.empty
  private var topItems: Map[Int, Seq[(Long, Long)]] = Map.empty
  private var exactWide: Row = _

  def prepare(): Unit = {
    if (rows != null) rows.unpersist(blocking = true)
    val g = new Gen.IngestGen(seed, Shape)
    val rdd = spark.sparkContext.range(0, Shape.rows, 1, Partitions).map { i =>
      val r = g(i)
      Row(r.gNarrow, r.gWide, r.u, r.x, r.item)
    }
    rows = spark.createDataFrame(rdd, Schema).persist(StorageLevel.MEMORY_ONLY)
    rows.count()
    rows.createOrReplaceTempView("ingest_rows")
  }

  /** Exact answers, from plain Spark. */
  override def oracle(): Unit = {
    exactNarrow = spark.sql(
      s"""SELECT g_narrow, count(*) n, count(DISTINCT u) d, min(x) lo, max(x) hi,
         |  ${Probes.map(p => s"avg(CAST(x <= $p AS DOUBLE))").mkString(", ")}
         |FROM ingest_rows GROUP BY g_narrow""".stripMargin)
      .collect().map(r => r.getInt(0) -> r).toMap
    topItems = spark.sql(
      """SELECT g_narrow, item, c FROM (
        |  SELECT g_narrow, item, count(*) c,
        |         row_number() OVER (PARTITION BY g_narrow ORDER BY count(*) DESC, item) rn
        |  FROM ingest_rows GROUP BY g_narrow, item) WHERE rn <= 5""".stripMargin)
      .collect().groupBy(_.getInt(0)).map { case (k, rs) => k -> rs.map(r => (r.getLong(1), r.getLong(2))).toSeq }
    exactWide = spark.sql(
      """SELECT count(*), sum(d) FROM (
        |  SELECT g_wide, count(DISTINCT u) d FROM ingest_rows GROUP BY g_wide)""".stripMargin).head()
  }

  def warm(tr: Tracer): Unit = (0 until 3).foreach { _ =>
    op(kinds._1, -1, tr)(); op(kinds._2, -1, tr)()
  }

  def op(kind: String, i: Int, tr: Tracer): () => Option[String] = kind match {
    case "narrow" =>
      val res = Workload.query(spark, tr, NarrowSql)
      () => checkNarrow(res)
    case "wide" =>
      val res = Workload.query(spark, tr, WideSql)
      () => checkWide(res.head)
  }

  private def checkNarrow(res: Array[Row]): Option[String] = {
    val errs = Seq.newBuilder[String]
    if (res.length != exactNarrow.size) errs += s"${res.length} groups, expected ${exactNarrow.size}"
    // distinct counts: the sum of the library's 3-sigma bounds must hold the
    // summed exact counts (per-group 3-sigma checks would fail by chance)
    Seq(("hll", 1), ("cpc", 3), ("theta", 5)).foreach { case (f, c) =>
      val lo = res.map(_.getDouble(c)).sum
      val hi = res.map(_.getDouble(c + 1)).sum
      val ex = exactNarrow.values.map(_.getLong(2).toDouble).sum
      if (ex < lo || ex > hi) errs += s"$f: exact $ex outside [$lo, $hi]"
    }
    // ranks on the largest groups, within the library's rank error
    val largest = res.sortBy(r => -exactNarrow(r.getInt(0)).getLong(1)).take(8).map(_.getInt(0)).toSet
    res.foreach { r =>
      val g = r.getInt(0)
      val ex = exactNarrow(g)
      val n = ex.getLong(1)
      Seq(("kll", 7), ("quantiles", 12)).foreach { case (f, c) =>
        if (r.getLong(c) != n) errs += s"$f n ${r.getLong(c)} != $n in group $g"
        if (largest(g)) Probes.indices.foreach { j =>
          val err = math.abs(r.getDouble(c + 1 + j) - ex.getDouble(5 + j))
          if (err > r.getDouble(c + 4)) errs += s"$f rank error $err > ${r.getDouble(c + 4)} in group $g"
        }
      }
      if (r.getLong(17) != n) errs += s"req n ${r.getLong(17)} != $n in group $g"
      if (r.getFloat(18) != ex.getDouble(3).toFloat || r.getFloat(19) != ex.getDouble(4).toFloat)
        errs += s"req min/max ${r.getFloat(18)}/${r.getFloat(19)} in group $g"
      if (r.getLong(20) != n) errs += s"tdigest weight ${r.getLong(20)} != $n in group $g"
      // frequent items: the deterministic bounds hold the exact top counts
      val fi = r.getAs[Array[Byte]](21)
      topItems(g).foreach { case (item, c) =>
        val lo = FreqScalar("lower_bound", FiArgs).compute(Array(fi, item)).asInstanceOf[Long]
        val hi = FreqScalar("upper_bound", FiArgs).compute(Array(fi, item)).asInstanceOf[Long]
        if (c < lo || c > hi) errs += s"fi item $item count $c outside [$lo, $hi] in group $g"
      }
    }
    errs.result().headOption
  }

  private def checkWide(r: Row): Option[String] = {
    val errs = Seq.newBuilder[String]
    if (r.getLong(0) != exactWide.getLong(0)) errs += s"${r.getLong(0)} groups, expected ${exactWide.getLong(0)}"
    val ex = exactWide.getLong(1).toDouble
    Seq(("hll", 1), ("cpc", 3), ("theta", 5)).foreach { case (f, c) =>
      if (ex < r.getDouble(c) || ex > r.getDouble(c + 1))
        errs += s"$f: exact $ex outside [${r.getDouble(c)}, ${r.getDouble(c + 1)}]"
    }
    Seq("kll", "quantiles", "req", "tdigest", "fi").zipWithIndex.foreach { case (f, j) =>
      if (r.getLong(7 + j) != Shape.rows) errs += s"$f total ${r.getLong(7 + j)} != ${Shape.rows}"
    }
    errs.result().headOption
  }
}

object Ingest {
  val Shape = Gen.IngestShape(rows = 1000000L, narrowGroups = 64, wideGroups = 20000,
    users = 500000L, items = 20000)
  val Partitions = 4
  val Probes: Seq[Double] = Seq(50.0, 100.0, 300.0)

  val Schema = StructType(Seq(
    StructField("g_narrow", IntegerType, nullable = false),
    StructField("g_wide", IntegerType, nullable = false),
    StructField("u", LongType, nullable = false),
    StructField("x", DoubleType, nullable = false),
    StructField("item", LongType, nullable = false)))

  private val FiArgs = Seq(BoundReference(0, BinaryType, true), BoundReference(1, LongType, true))

  private def build(group: String) =
    s"""SELECT $group AS g, datasketch_hll(12, u) hll, datasketch_cpc(11, u) cpc,
       |  datasketch_theta(12, u) th, datasketch_kll(200, x) kll, datasketch_quantiles(128, x) q,
       |  datasketch_req(12, x) req, datasketch_tdigest(100, x) td, datasketch_frequent_items(10, item) fi
       |FROM ingest_rows GROUP BY $group""".stripMargin

  private def ranks(family: String, col: String) =
    Probes.map(p => s"datasketch_${family}_rank($col, $p, true)").mkString(", ")

  /** Columns: g, hll lb/ub (1,2), cpc (3,4), theta (5,6), kll n (7) ranks
    * (8-10) eps (11), quantiles n (12) ranks (13-15) eps (16), req n/min/max
    * (17-19), tdigest weight (20), fi blob (21). */
  val NarrowSql: String =
    s"""SELECT g,
       |  datasketch_hll_lower_bound(hll, 3), datasketch_hll_upper_bound(hll, 3),
       |  datasketch_cpc_lower_bound(cpc, 3), datasketch_cpc_upper_bound(cpc, 3),
       |  datasketch_theta_lower_bound(th, 3), datasketch_theta_upper_bound(th, 3),
       |  datasketch_kll_n(kll), ${ranks("kll", "kll")}, datasketch_kll_normalized_rank_error(kll, false),
       |  datasketch_quantiles_n(q), ${ranks("quantiles", "q")},
       |  datasketch_quantiles_normalized_rank_error(q, false),
       |  datasketch_req_n(req), datasketch_req_min_item(req), datasketch_req_max_item(req),
       |  CAST(datasketch_tdigest_total_weight(td) AS BIGINT), fi
       |FROM (${build("g_narrow")})""".stripMargin

  /** Columns: groups, hll/cpc/theta summed bounds (1-6), summed n of kll,
    * quantiles, req, tdigest and frequent items (7-11). */
  val WideSql: String =
    s"""SELECT count(*),
       |  sum(datasketch_hll_lower_bound(hll, 3)), sum(datasketch_hll_upper_bound(hll, 3)),
       |  sum(datasketch_cpc_lower_bound(cpc, 3)), sum(datasketch_cpc_upper_bound(cpc, 3)),
       |  sum(datasketch_theta_lower_bound(th, 3)), sum(datasketch_theta_upper_bound(th, 3)),
       |  sum(datasketch_kll_n(kll)), sum(datasketch_quantiles_n(q)), sum(datasketch_req_n(req)),
       |  CAST(sum(datasketch_tdigest_total_weight(td)) AS BIGINT),
       |  sum(datasketch_frequent_items_total_weight(fi))
       |FROM (${build("g_wide")})""".stripMargin
}
