package graft.sketch

import scala.annotation.switch

import org.apache.datasketches.tuple.arrayofdoubles._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import Kit._

/** Tuple sketches (ArrayOfDoubles) — beyond-reference: a theta sketch
  * whose retained keys each CARRY an array of summed double values.
  *
  * One sketch answers "how many distinct keys, and what do their metrics
  * add up to" — distinct users AND their total spend, distinct documents
  * AND their token counts — in a single bounded-size, mergeable BLOB.
  * Set algebra extends to the values: intersecting two periods' sketches
  * yields the repeat keys with their combined metrics; that is the
  * segment-overlap-with-metrics query that normally needs a self-join of
  * two distinct-aggregations at 100 TB.
  *
  * Update semantics follow the library: updating an existing key sums the
  * value vector into the key's entry; estimates of per-column totals
  * divide retained sums by theta (exact when not in estimation mode).
  */
object TupleAod {
  def sumCombiner: ArrayOfDoublesCombiner = new ArrayOfDoublesCombiner {
    override def combine(a: Array[Double], b: Array[Double]): Array[Double] = {
      val out = new Array[Double](a.length)
      var i = 0
      while (i < a.length) { out(i) = a(i) + b(i); i += 1 }
      out
    }
  }

  def heapify(bytes: Array[Byte]): ArrayOfDoublesSketch =
    deser("Tuple", bytes)(ArrayOfDoublesSketch.heapify(mem(bytes)))
}

/** `datasketch_aod(lg_k, num_values, key, v1, ..., vnum_values)` — build.
  * lg_k and num_values are bind-time constants (erased). NULL key or any
  * NULL value skips the row. Empty input → NULL (like the counting
  * families' build aggregates).
  *
  * Buffer note: a compact AOD blob heapifies to a read-only sketch, so a
  * buffer that has crossed a serialize/deserialize boundary (the
  * ObjectHashAggregate sort-based fallback path) can no longer take raw
  * key/value updates. The buffer therefore carries BOTH a live updatable
  * sketch (raw updates land here) and an absorbed read-only part
  * (deserialize/merge land here); finalize unions the two.
  */
case class AodBuildAgg(
    lgK: Int,
    numValues: Int,
    override val children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends SketchAggBase[AodBuildAgg.Buf] {

  import AodBuildAgg.Buf

  override def child: Expression = children.head

  override def prettyName: String = "datasketch_aod"
  override def createAggregationBuffer(): Buf = new Buf(null, null)

  /** The key's lane, chosen once from its type. A string key goes to the
    * library's String overload, which hashes the UTF-8 of the decoded
    * string (an invalid byte sequence decodes to U+FFFD first). */
  @transient private lazy val lane: Int = Partial.laneOf(child.dataType) match {
    case Partial.BytesLane if child.dataType.isInstanceOf[StringType] => AodBuildAgg.StringLane
    case l => l
  }

  /** Collapse the two buffer halves into one sketch (null = no input). */
  private def result(buf: Buf): ArrayOfDoublesSketch =
    if (buf.merged == null) buf.upd
    else if (buf.upd == null || buf.upd.isEmpty) buf.merged
    else {
      val u = new ArrayOfDoublesSetOperationBuilder()
        .setNominalEntries(1 << lgK).setNumberOfValues(numValues).buildUnion()
      u.union(buf.upd); u.union(buf.merged)
      u.getResult
    }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val key = children.head.eval(input)
    if (key == null) return buf
    val vals = new Array[Double](numValues)
    var i = 0
    while (i < numValues) {
      val v = children(i + 1).eval(input)
      if (v == null) return buf
      vals(i) = v.asInstanceOf[Number].doubleValue()
      i += 1
    }
    if (buf.upd == null)
      buf.upd = new ArrayOfDoublesUpdatableSketchBuilder()
        .setNominalEntries(1 << lgK).setNumberOfValues(numValues).build()
    val sk = buf.upd
    (lane: @switch) match {
      case Partial.LongLane   => sk.update(Partial.longOf(key), vals)
      case Partial.DoubleLane => sk.update(Partial.doubleOf(key), vals)
      case AodBuildAgg.StringLane => sk.update(key.toString, vals)
      case Partial.BytesLane  => sk.update(key.asInstanceOf[Array[Byte]], vals)
      case _                  => unsupported(key)
    }
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    val o = result(other)
    if (o == null || o.isEmpty) return buf
    val mine = result(buf)
    buf.upd = null
    buf.merged =
      if (mine == null || mine.isEmpty) o
      else {
        val u = new ArrayOfDoublesSetOperationBuilder()
          .setNominalEntries(1 << lgK).setNumberOfValues(numValues).buildUnion()
        u.union(mine); u.union(o)
        u.getResult
      }
    buf
  }

  override def eval(buf: Buf): Any = {
    val r = result(buf)
    if (r == null || r.isEmpty) null else r.compact().toByteArray
  }
  override def serialize(buf: Buf): Array[Byte] = {
    val r = result(buf)
    if (r == null) Array.emptyByteArray else r.compact().toByteArray
  }
  override def deserialize(bytes: Array[Byte]): Buf =
    if (bytes.isEmpty) new Buf(null, null)
    else new Buf(null, TupleAod.heapify(bytes))
  override def withNewMutableAggBufferOffset(o: Int): AodBuildAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): AodBuildAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(children = c)
}

object AodBuildAgg {
  final class Buf(var upd: ArrayOfDoublesUpdatableSketch, var merged: ArrayOfDoublesSketch)

  /** The string keys' lane, next to [[Partial]]'s long, double and bytes lanes. */
  final val StringLane = 4
}

/** `datasketch_aod_union(lg_k, sk)` — merge tuple sketch BLOBs (two-level
  * rollups); number of values comes from the first non-null input. */
case class AodUnionAgg(
    lgK: Int,
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends SketchAggBase[AodUnionAgg.Buf] {

  import AodUnionAgg.Buf

  override def prettyName: String = "datasketch_aod_union"
  override def createAggregationBuffer(): Buf = new Buf(null)

  private def absorb(buf: Buf, sk: ArrayOfDoublesSketch): Buf = {
    if (buf.u == null)
      buf.u = new ArrayOfDoublesSetOperationBuilder()
        .setNominalEntries(1 << lgK).setNumberOfValues(sk.getNumValues).buildUnion()
    buf.u.union(sk)
    buf
  }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v == null) buf
    else absorb(buf, TupleAod.heapify(v.asInstanceOf[Array[Byte]]))
  }
  override def merge(buf: Buf, other: Buf): Buf =
    if (other.u == null) buf else absorb(buf, other.u.getResult)
  override def eval(buf: Buf): Any =
    if (buf.u == null) null else buf.u.getResult.toByteArray
  override def serialize(buf: Buf): Array[Byte] =
    if (buf.u == null) Array.emptyByteArray else buf.u.getResult.toByteArray
  override def deserialize(bytes: Array[Byte]): Buf =
    if (bytes.isEmpty) new Buf(null)
    else absorb(new Buf(null), TupleAod.heapify(bytes))
  override def withNewMutableAggBufferOffset(o: Int): AodUnionAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): AodUnionAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

object AodUnionAgg {
  final class Buf(var u: ArrayOfDoublesUnion)
}

/** Tuple scalar probes, including value-aware set algebra (`intersect`
  * sums the value vectors of common keys; `a_not_b` keeps A's values). */
case class TupleScalar(fn: String, children: Seq[Expression]) extends SketchScalar {

  override def prettyName: String = s"datasketch_aod_$fn"

  override def dataType: DataType = fn match {
    case "estimate" | "theta" | "lower_bound" | "upper_bound" => DoubleType
    case "is_empty" | "is_estimation_mode"                    => BooleanType
    case "num_retained" | "num_values"                        => IntegerType
    case "sum_estimate" => ArrayType(DoubleType, containsNull = false)
    case "intersect" | "a_not_b" => BinaryType
    case "describe" => StringType
    case other => throw new IllegalStateException(s"unknown aod scalar $other")
  }

  override def compute(args: Array[Any]): Any = {
    val sk = TupleAod.heapify(args(0).asInstanceOf[Array[Byte]])
    fn match {
      case "estimate" => sk.getEstimate
      case "theta" => sk.getTheta
      case "lower_bound" => sk.getLowerBound(args(1).asInstanceOf[Number].intValue())
      case "upper_bound" => sk.getUpperBound(args(1).asInstanceOf[Number].intValue())
      case "is_empty" => sk.isEmpty
      case "is_estimation_mode" => sk.isEstimationMode
      case "num_retained" => sk.getRetainedEntries
      case "num_values" => sk.getNumValues
      case "describe" => UTF8String.fromString(sk.toString)
      case "sum_estimate" =>
        // per-column sums of retained entries, scaled to the full stream
        // by 1/theta (unbiased; exact when theta == 1)
        val sums = new Array[Double](sk.getNumValues)
        val it = sk.iterator()
        while (it.next()) {
          val vs = it.getValues
          var i = 0
          while (i < vs.length) { sums(i) += vs(i); i += 1 }
        }
        val theta = sk.getTheta
        new GenericArrayData(sums.map(_ / theta))
      case "intersect" =>
        val other = TupleAod.heapify(args(1).asInstanceOf[Array[Byte]])
        val ix = new ArrayOfDoublesSetOperationBuilder()
          .setNumberOfValues(sk.getNumValues).buildIntersection()
        ix.intersect(sk, TupleAod.sumCombiner)
        ix.intersect(other, TupleAod.sumCombiner)
        ix.getResult.toByteArray
      case "a_not_b" =>
        val other = TupleAod.heapify(args(1).asInstanceOf[Array[Byte]])
        val ab = new ArrayOfDoublesSetOperationBuilder()
          .setNumberOfValues(sk.getNumValues).buildAnotB()
        ab.update(sk, other)
        ab.getResult.toByteArray
      case other => throw new IllegalStateException(s"unknown aod scalar $other")
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}
