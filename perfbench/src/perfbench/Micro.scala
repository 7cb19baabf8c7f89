package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

import graft.sketch._
import graft.sketch.Kit.ElemType

/** Per-family micro-timings of the `graft.sketch` layer, taken by calling
  * the aggregates' `update`/`serialize`/`deserialize`/`merge`/`eval` and the
  * scalars' `compute` directly on sketch_ingest's generated rows.
  *
  * The guard: a family's timings count only after every buffer's
  * `eval(deserialize(serialize(buf)))` probes equal to `eval(buf)`, so a
  * faster but lossy serialization shows up as a failure, not a speed-up. */
object Micro {
  private val bin = BoundReference(0, BinaryType, nullable = true)
  private def ref(i: Int, t: DataType) = BoundReference(i, t, nullable = true)
  private val u = ref(0, LongType)
  private val x = ref(1, DoubleType)
  private val item = ref(2, LongType)

  /** One sketch family: its aggregate over one input column and the scalar
    * probes used for the guard (the first is the one timed). */
  sealed abstract class Family {
    type B
    def label: String
    def agg: TypedImperativeAggregate[B]
    def probes: Seq[Array[Byte] => Any]
  }
  private def family[T](l: String, a: TypedImperativeAggregate[T], p: Seq[Array[Byte] => Any]): Family =
    new Family { type B = T; val label = l; val agg = a; val probes = p }

  private def count(f: String) = Seq[Array[Byte] => Any](
    b => CountScalar(f, "estimate", Seq(bin)).compute(Array(b)),
    b => CountScalar(f, "lower_bound", Seq(bin, ref(1, IntegerType))).compute(Array(b, 2)),
    b => CountScalar(f, "upper_bound", Seq(bin, ref(1, IntegerType))).compute(Array(b, 2)))
  private def quant(f: String, elem: ElemType) = {
    val withIncl = f != "tdigest"
    def args(b: Array[Byte], v: Double): Array[Any] = if (withIncl) Array(b, v, true) else Array(b, v)
    val kids = if (withIncl) Seq(bin, ref(1, DoubleType), ref(2, BooleanType)) else Seq(bin, ref(1, DoubleType))
    val ranks = Seq(100.0, 50.0, 300.0).map(v =>
      (b: Array[Byte]) => QuantScalar(f, "rank", elem, kids).compute(args(b, v)))
    // TDigest has no n/min/max probes; its total weight and median stand in
    val shape =
      if (withIncl) Seq("n", "min_item", "max_item").map(fn =>
        (b: Array[Byte]) => QuantScalar(f, fn, elem, Seq(bin)).compute(Array(b)))
      else Seq[Array[Byte] => Any](
        b => QuantScalar(f, "total_weight", elem, Seq(bin)).compute(Array(b)),
        b => QuantScalar(f, "quantile", elem, kids).compute(args(b, 0.5)))
    ranks ++ shape
  }

  /** The eight families, labelled explicitly (never from name substrings). */
  val families: Seq[Family] = Seq(
    family("hll", HllBuildAgg(12, u), count("hll")),
    family("cpc", CpcBuildAgg(11, u), count("cpc")),
    family("theta", ThetaAgg(12, u), Seq[Array[Byte] => Any](
      b => ThetaScalar("estimate", Seq(bin)).compute(Array(b)),
      b => ThetaScalar("num_retained", Seq(bin)).compute(Array(b)),
      b => ThetaScalar("get_theta", Seq(bin)).compute(Array(b)))),
    family("kll", KllAgg(200, x, ElemType.Dbl), quant("kll", ElemType.Dbl)),
    family("quantiles", QuantilesAgg(128, x, ElemType.Dbl), quant("quantiles", ElemType.Dbl)),
    family("req", ReqAgg(12, x), quant("req", ElemType.Flt)),
    family("tdigest", TDigestAgg(100, x), quant("tdigest", ElemType.Dbl)),
    family("fi", FreqItemsAgg(10, item), Seq[Array[Byte] => Any](
      b => FreqScalar("estimate", Seq(bin, item)).compute(Array(b, 0L)),
      b => FreqScalar("upper_bound", Seq(bin, item)).compute(Array(b, 1L)),
      b => FreqScalar("lower_bound", Seq(bin, item)).compute(Array(b, 2L)),
      b => FreqScalar("total_weight", Seq(bin)).compute(Array(b)),
      b => FreqScalar("num_active", Seq(bin)).compute(Array(b)))))

  def sample(seed: Long, shape: Gen.IngestShape, n: Int): Array[InternalRow] = {
    val g = new Gen.IngestGen(seed, shape)
    Array.tabulate[InternalRow](n) { i =>
      val r = g(i)
      new GenericInternalRow(Array[Any](r.u, r.x, r.item))
    }
  }

  private val Buffers = 64

  /** eval(deserialize(serialize(buf))) probes equal to eval(buf), for every buffer. */
  def guard(f: Family, rows: Array[InternalRow]): Boolean = {
    val bufs = build(f, rows)
    bufs.forall { b =>
      val live = f.agg.eval(b)
      val trip = f.agg.eval(f.agg.deserialize(f.agg.serialize(b)))
      (live, trip) match {
        case (l: Array[Byte], t: Array[Byte]) => f.probes.forall(p => p(l) == p(t))
        case (l, t)                          => l == t
      }
    }
  }

  private def build(f: Family, rows: Array[InternalRow]): Array[f.B] = {
    val bufs = Array.fill[Any](Buffers)(f.agg.createAggregationBuffer()).asInstanceOf[Array[f.B]]
    var i = 0
    while (i < rows.length) { bufs(i % Buffers) = f.agg.update(bufs(i % Buffers), rows(i)); i += 1 }
    bufs
  }

  /** ns per call of each layer step; median of `rounds` after one warm round. */
  def time(f: Family, rows: Array[InternalRow], rounds: Int): Map[String, Double] = {
    def once(): Map[String, Double] = {
      var t = System.nanoTime()
      def lap(): Double = { val n = System.nanoTime(); val d = (n - t).toDouble; t = n; d }
      val bufs = build(f, rows)
      val update = lap() / rows.length
      val blobs = bufs.map(b => f.agg.serialize(b))
      val ser = lap() / Buffers
      val des = blobs.toIndexedSeq.map(b => f.agg.deserialize(b))
      val deser = lap() / Buffers
      var acc = des(0)
      var k = 1
      while (k < Buffers) { acc = f.agg.merge(acc, des(k)); k += 1 }
      val merge = lap() / (Buffers - 1)
      // 64 distinct blobs cycle through the 32-entry deserialization memo,
      // so every timed probe pays its deserialization, as a query that
      // probes many distinct stored blobs does
      val evals = bufs.map(b => f.agg.eval(b).asInstanceOf[Array[Byte]])
      lap()
      evals.foreach(b => f.probes.head(b))
      val probe = lap() / Buffers
      Map("update_ns" -> update, "serialize_ns" -> ser, "deserialize_ns" -> deser,
        "merge_ns" -> merge, "probe_ns" -> probe, "blob_bytes" -> blobs.map(_.length.toDouble).sum / Buffers)
    }
    once()
    val runs = Seq.fill(rounds)(once())
    runs.head.keys.map(k => k -> Stats.median(runs.map(_(k)))).toMap
  }
}
