package graft.sketch

import org.apache.datasketches.filters.bloomfilter.{BloomFilter, BloomFilterBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import Kit._

/** Bloom-filter membership sketch — beyond-reference (the DuckDB extension
  * has no filter family), built on datasketches-java's
  * `filters.bloomfilter.BloomFilter`, following the same sketch-as-value
  * design as the 8 reference families: build with an aggregate, ship/store
  * the serialized BLOB, probe with scalars.
  *
  * The 100 TB use case is join pruning: build a filter over the
  * (pre-filtered) dimension side's join keys — KBs to low MBs for millions
  * of keys — broadcast the single-row BLOB, and drop fact rows that cannot
  * join BEFORE the fact-side shuffle. Bloom filters never produce false
  * negatives, so `fact WHERE might_contain(f, k) JOIN dim` ≡ `fact JOIN
  * dim` exactly, at a fraction of the shuffle volume (the same idea as
  * Spark's internal runtime row-level filtering, exposed here as a
  * storable, mergeable sketch value; see [[graft.operators.BloomPrune]]).
  *
  * Typed hashing caveat: the underlying filter hashes longs, doubles, and
  * strings differently. Build and probe dispatch identically from the Spark
  * type (integrals → long, float/double → double, string/binary → bytes),
  * so probes agree with builds as long as both sides use the same SQL type
  * — the same contract as the reference's per-type overloads.
  */
object Bloom {
  /** Fixed hash seed: partial filters built on different executors must be
    * union-compatible, and results must be stable across runs. */
  val Seed = 9001L

  def create(maxDistinct: Long, fpp: Double): BloomFilter =
    BloomFilterBuilder.createByAccuracy(maxDistinct, fpp, Seed)

  /** Zero-copy read view of a serialized filter (no heapify allocation) —
    * per-row probes wrap the same bytes in O(1). */
  def wrap(bytes: Array[Byte]): BloomFilter =
    deser("Bloom", bytes)(BloomFilter.wrap(mem(bytes)))

  /** Updatable on-heap copy of a serialized filter (for stateful
    * operators that keep inserting into a restored filter). */
  def heapify(bytes: Array[Byte]): BloomFilter =
    deser("Bloom", bytes)(BloomFilter.heapify(mem(bytes)))

  /** Per-thread last-blob memo. The join-pruning shape probes ONE filter
    * (a scalar-subquery/broadcast literal, i.e. the same `Array[Byte]`
    * instance on every row of a task) millions of times — reference
    * equality makes the repeat wrap free without any cache-invalidation
    * concern. Different blob instance → plain re-wrap (still O(1)). */
  private val lastWrap = new ThreadLocal[(Array[Byte], BloomFilter)]

  private def cached(bytes: Array[Byte]): BloomFilter = {
    val memo = lastWrap.get()
    if (memo != null && (memo._1 eq bytes)) memo._2
    else {
      val f = wrap(bytes)
      lastWrap.set((bytes, f))
      f
    }
  }

  // Static entry points for generated code (one per hash-type lane).
  def queryLong(blob: Array[Byte], v: Long): Boolean = cached(blob).query(v)
  def queryDouble(blob: Array[Byte], v: Double): Boolean = cached(blob).query(v)
  def queryString(blob: Array[Byte], v: UTF8String): Boolean = cached(blob).query(v.getBytes)
  def queryBytes(blob: Array[Byte], v: Array[Byte]): Boolean = cached(blob).query(v)

  /** Feed one non-null Spark value into a filter with type-stable hashing. */
  def update(f: BloomFilter, v: Any): Unit = v match {
    case l: Long        => f.update(l)
    case i: Int         => f.update(i.toLong)
    case s: Short       => f.update(s.toLong)
    case b: Byte        => f.update(b.toLong)
    case d: Double      => f.update(d)
    case fl: Float      => f.update(fl.toDouble)
    case s: UTF8String  => f.update(s.getBytes)
    case b: Array[Byte] => f.update(b)
    case other => throw new IllegalArgumentException(
      s"datasketch_bloom: unsupported input value type ${other.getClass.getName}")
  }

  def query(f: BloomFilter, v: Any): Boolean = v match {
    case l: Long        => f.query(l)
    case i: Int         => f.query(i.toLong)
    case s: Short       => f.query(s.toLong)
    case b: Byte        => f.query(b.toLong)
    case d: Double      => f.query(d)
    case fl: Float      => f.query(fl.toDouble)
    case s: UTF8String  => f.query(s.getBytes)
    case b: Array[Byte] => f.query(b)
    case other => throw new IllegalArgumentException(
      s"datasketch_bloom_might_contain: unsupported probe type ${other.getClass.getName}")
  }
}

/** `datasketch_bloom(max_distinct, fpp, v)` — build a Bloom filter sized
  * for `max_distinct` items at false-positive rate `fpp`. Both parameters
  * bind-time constants (erased, like every family's K). Empty input yields
  * the empty filter (membership "definitely absent" for everything), not
  * NULL — the useful identity for join pruning.
  */
case class BloomBuildAgg(
    maxDistinct: Long,
    fpp: Double,
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends SketchAggBase[BloomFilter] {

  override def prettyName: String = "datasketch_bloom"
  override def createAggregationBuffer(): BloomFilter = Bloom.create(maxDistinct, fpp)

  override def update(buf: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) Bloom.update(buf, v)
    buf
  }
  override def merge(buf: BloomFilter, other: BloomFilter): BloomFilter = {
    buf.union(other); buf
  }
  override def eval(buf: BloomFilter): Any = buf.toByteArray
  override def serialize(buf: BloomFilter): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.heapify(mem(bytes))
  override def withNewMutableAggBufferOffset(o: Int): BloomBuildAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomBuildAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

/** `datasketch_bloom_union(sk)` — merge filter BLOBs (two-level rollups:
  * per-partition filters unioned to one). Configuration (bits, hashes,
  * seed) comes from the first non-null input; incompatible filters raise.
  * Buffer is a holder so the config needn't be re-declared at merge time.
  */
case class BloomUnionAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends SketchAggBase[BloomUnionAgg.Buf] {

  import BloomUnionAgg.Buf

  override def prettyName: String = "datasketch_bloom_union"
  override def createAggregationBuffer(): Buf = new Buf(null)

  private def absorb(buf: Buf, f: BloomFilter): Buf = {
    if (buf.f == null) buf.f = f
    else {
      if (!buf.f.isCompatible(f))
        throw new IllegalArgumentException(
          "datasketch_bloom_union: incompatible filters (differing size/hashes/seed)")
      buf.f.union(f)
    }
    buf
  }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v == null) buf
    else absorb(buf, BloomFilter.heapify(mem(v.asInstanceOf[Array[Byte]])))
  }
  override def merge(buf: Buf, other: Buf): Buf =
    if (other.f == null) buf else absorb(buf, other.f)
  override def eval(buf: Buf): Any = if (buf.f == null) null else buf.f.toByteArray
  override def serialize(buf: Buf): Array[Byte] =
    if (buf.f == null) Array.emptyByteArray else buf.f.toByteArray
  override def deserialize(bytes: Array[Byte]): Buf =
    if (bytes.isEmpty) new Buf(null) else new Buf(BloomFilter.heapify(mem(bytes)))
  override def withNewMutableAggBufferOffset(o: Int): BloomUnionAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomUnionAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

object BloomUnionAgg {
  final class Buf(var f: BloomFilter)
}

/** `datasketch_bloom_might_contain(sk, v)` — the hot-path probe, fully
  * codegen'd: a static call into the per-type [[Bloom]] query lanes keeps
  * the enclosing scan filter inside whole-stage codegen (the same
  * discipline as the five native text/vector expressions). */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "datasketch_bloom_might_contain"
  override def dataType: DataType = BooleanType

  /** (runtime lane suffix, probe cast) chosen from the probe's type. */
  private lazy val lane: String = right.dataType match {
    case LongType | IntegerType | ShortType | ByteType => "Long"
    case DoubleType | FloatType                        => "Double"
    case StringType                                    => "String"
    case BinaryType                                    => "Bytes"
    case other => throw new GraftBloomTypeException(
      s"datasketch_bloom_might_contain: unsupported probe type ${other.simpleString}")
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType != BinaryType)
      return org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName: first argument must be a bloom filter BLOB")
    try { lane; org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess }
    catch { case e: GraftBloomTypeException =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(e.getMessage) }
  }

  /** A literal filter renders as its size. Spark prints a binary literal
    * as full hex, and every plan description (explain, each adaptive
    * plan update, the SQL executions the status store keeps) holds the
    * plan string, so a 1.26 MB filter would cost 2.5 MB of text per copy.
    * `simpleString`, which plan nodes print their conditions with,
    * delegates here. */
  override def toString: String = {
    val filter = left match {
      case Literal(b: Array[Byte], BinaryType) => s"<${b.length} bytes>"
      case other => other.toString
    }
    s"$prettyName($filter, $right)"
  }

  override protected def nullSafeEval(blob: Any, v: Any): Any = {
    val b = blob.asInstanceOf[Array[Byte]]
    lane match {
      case "Long"   => Bloom.queryLong(b, v.asInstanceOf[Number].longValue())
      case "Double" => Bloom.queryDouble(b, v.asInstanceOf[Number].doubleValue())
      case "String" => Bloom.queryString(b, v.asInstanceOf[UTF8String])
      case "Bytes"  => Bloom.queryBytes(b, v.asInstanceOf[Array[Byte]])
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cast = lane match {
      case "Long" => "(long) "
      case "Double" => "(double) "
      case _ => ""
    }
    defineCodeGen(ctx, ev, (b, v) => s"graft.sketch.Bloom.query$lane($b, $cast$v)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

private[sketch] class GraftBloomTypeException(msg: String) extends IllegalArgumentException(msg)

/** Bloom metadata probes (`is_empty`, `bits_used`, `capacity`,
  * `num_hashes`, `fill_percentage`, `describe`) — cold-path scalars on the
  * same interpreted pattern as the reference families' metadata functions.
  */
case class BloomScalar(fn: String, children: Seq[Expression]) extends SketchScalar {

  override def prettyName: String = s"datasketch_bloom_$fn"

  override def dataType: DataType = fn match {
    case "is_empty"        => BooleanType
    case "bits_used" | "capacity" => LongType
    case "num_hashes"      => IntegerType
    case "fill_percentage" => DoubleType
    case "describe"        => StringType
    case other => throw new IllegalStateException(s"unknown bloom scalar $other")
  }

  override def compute(args: Array[Any]): Any = {
    val f = Bloom.wrap(args(0).asInstanceOf[Array[Byte]])
    fn match {
      case "is_empty"        => f.isEmpty
      case "bits_used"       => f.getBitsUsed
      case "capacity"        => f.getCapacity
      case "num_hashes"      => f.getNumHashes.toInt
      case "fill_percentage" => f.getFillPercentage
      case "describe"        => UTF8String.fromString(f.toString)
      case other => throw new IllegalStateException(s"unknown bloom scalar $other")
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}
