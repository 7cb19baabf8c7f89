package graft.sketch

import scala.annotation.switch

import org.apache.datasketches.cpc.{CpcSketch, CpcUnion}
import org.apache.datasketches.frequencies
import org.apache.datasketches.hll
import org.apache.datasketches.kll._
import org.apache.datasketches.quantiles.{DoublesSketch, DoublesUnion, ItemsSketch => ClassicItemsSketch, ItemsUnion => ClassicItemsUnion}
import org.apache.datasketches.req.ReqSketch
import org.apache.datasketches.tdigest.TDigestDouble
import org.apache.datasketches.theta
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

import Kit._

/** Sketch-building / sketch-merging aggregate functions.
  *
  * Each is a [[TypedImperativeAggregate]]. The blob-merging aggregates'
  * buffer is the live datasketches-java object, shipped in the sketch's own
  * byte format. The raw-input build aggregates ([[PartialBuildAgg]]) keep a
  * small group's values raw instead and ship them in a graft-private form;
  * every BLOB they emit is still the sketch's own format, the bytes the
  * reference engine would store (SURVEY.md §1.4, §3.2). All aggregates skip
  * NULL inputs (reference `IgnoreNull()==true`, `src/generated.cpp:749`) and
  * are order-insensitive (registered NOT_ORDER_DEPENDENT in the reference).
  *
  * The K / lg_k parameter is bound at plan time by [[graft.Registration]]
  * (mirror of the reference's bind-time constant fold + argument erasure,
  * `src/generated.cpp:50-94`), so it is a constructor `Int`, not a child.
  */
abstract class SketchAggBase[T] extends TypedImperativeAggregate[T] {
  def child: Expression
  override def children: Seq[Expression] = child :: Nil
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  protected final def unsupported(v: Any): Nothing = throw new IllegalArgumentException(
    s"$prettyName: unsupported input value type ${v.getClass.getName}")

  /** Numeric-only families reject string/binary raw input (mirror of the
    * reference, which simply has no such overloads registered). */
  protected final def unsup(): Unit = throw new IllegalArgumentException(
    s"$prettyName: non-numeric input not supported")
}

/** A raw-input build aggregate over a two-state [[Partial]] buffer: raw
  * values up to [[Partial.Capacity]], then the library sketch `S`.
  *
  * A buffer that crosses the capacity replays its values in arrival order,
  * so it is exactly the sketch a direct build makes, and a group with one
  * raw partial emits the same bytes as a one-buffer build. A raw partial merges by
  * replaying its values; a library-format partial merges through the
  * family's sketch merge. `eval` builds from the values, so emitted BLOBs
  * are always library format. The input lane is chosen once from
  * `child.dataType`; a sketch-mode update is one `child.eval` and one
  * family `put`. A family's BINARY (sketch-merge) input takes no lane and
  * goes to the sketch from the first row.
  */
abstract class PartialBuildAgg[S <: AnyRef] extends SketchAggBase[Partial[S]] {
  import Partial._

  @transient private lazy val lane: Int = laneOf(child.dataType)

  /** The raw lane of an input type ([[Partial.laneOf]]); families narrow it. */
  protected def laneOf(dt: DataType): Int = Partial.laneOf(dt)

  /** The long and double lanes only: strings and sketch BLOBs go to [[putOther]]. */
  protected final def numericLaneOf(dt: DataType): Int = Partial.laneOf(dt) match {
    case BytesLane => NoLane
    case l         => l
  }

  protected def newSketch(): S
  protected def putLong(s: S, l: Long): Unit
  protected def putDouble(s: S, d: Double): Unit
  /** A string's UTF-8 bytes ([[Partial.keyBytes]]) or a binary value. */
  protected def putBytes(s: S, b: Array[Byte]): Unit = unsup()
  /** A value outside the raw lanes: a sketch BLOB to merge, or a type the
    * family rejects (or, for Frequent Items, stringifies). */
  protected def putOther(s: S, v: Any): Unit = unsupported(v)
  protected def mergeSketch(s: S, other: S): S
  /** The emitted BLOB (or NULL) of a sketch. */
  protected def result(s: S): Any
  /** The library-format partial of a sketch, and its inverse. */
  protected def sketchBytes(s: S): Array[Byte]
  protected def fromSketchBytes(bytes: Array[Byte]): S

  override def createAggregationBuffer(): Partial[S] = new Partial[S]

  override def update(buf: Partial[S], input: InternalRow): Partial[S] = {
    val v = child.eval(input)
    if (v != null) {
      val sk = buf.sketch
      (lane: @switch) match {
        case LongLane =>
          val l = longOf(v)
          if (sk != null) putLong(sk, l)
          else if (buf.n < Capacity) buf.addLong(l)
          else putLong(promote(buf), l)
        case DoubleLane =>
          val d = doubleOf(v)
          if (sk != null) putDouble(sk, d)
          else if (buf.n < Capacity) buf.addLong(java.lang.Double.doubleToRawLongBits(d))
          else putDouble(promote(buf), d)
        case BytesLane =>
          if (sk != null) putBytes(sk, keyBytes(v))
          else if (buf.n < Capacity) buf.addBytes(keptBytes(v))
          else putBytes(promote(buf), keyBytes(v))
        case _ =>
          putOther(sketchOf(buf), v)
      }
    }
    buf
  }

  /** Feeds a raw buffer's values to `s` in arrival order. */
  private def replay(p: Partial[S], s: S): S = {
    var i = 0
    (lane: @switch) match {
      case LongLane   => while (i < p.n) { putLong(s, p.longs(i)); i += 1 }
      case DoubleLane => while (i < p.n) { putDouble(s, java.lang.Double.longBitsToDouble(p.longs(i))); i += 1 }
      case BytesLane  => while (i < p.n) { putBytes(s, p.blobs(i)); i += 1 }
      case _          =>
    }
    s
  }

  /** Turns a raw buffer into the sketch of its values. */
  private def promote(buf: Partial[S]): S = {
    val s = replay(buf, newSketch())
    buf.dropRaw()
    buf.sketch = s
    s
  }

  private def sketchOf(buf: Partial[S]): S = if (buf.sketch != null) buf.sketch else promote(buf)

  override def merge(buf: Partial[S], other: Partial[S]): Partial[S] = {
    val o = other.sketch
    if (o == null) {
      if (buf.sketch == null && buf.n + other.n <= Capacity) buf.append(other)
      else replay(other, sketchOf(buf))
    } else
      buf.sketch = mergeSketch(sketchOf(buf), o)
    buf
  }

  override def eval(buf: Partial[S]): Any =
    result(if (buf.sketch != null) buf.sketch else replay(buf, newSketch()))

  override def serialize(buf: Partial[S]): Array[Byte] =
    if (buf.sketch != null) sketchBytes(buf.sketch) else encode(buf, lane)

  override def deserialize(bytes: Array[Byte]): Partial[S] =
    if (bytes.length > 0 && bytes(0) == Tag) decode[S](bytes, lane)
    else {
      val p = new Partial[S]
      p.sketch = fromSketchBytes(bytes)
      p
    }
}

// ---------------------------------------------------------------------------
// HLL (reference src/generated.cpp:866-1002; SURVEY §2.2)
// ---------------------------------------------------------------------------

/** `datasketch_hll(lg_k, v)` — build an HLL sketch; with `isMerge`,
  * `datasketch_hll_union(lg_k, sketch)` — merge HLL sketch blobs
  * (reference `src/generated.cpp:931-1002`). The sketch is an
  * [[hll.Union]] so cross-partition partial merges (the reference's thread
  * `Combine`, here the shuffle) go through hll union semantics with HLL_4
  * result, mirroring `codegen/generated.cpp.j2:399-405`. Empty input → NULL.
  * Finalize uses the updatable serialization (`serialize_updatable`,
  * reference `src/generated.cpp:913-926`). The mode is set by the bind
  * layer, not by the child type: a BINARY child of the build is raw bytes
  * to hash.
  */
case class HllBuildAgg(
    lgK: Int,
    child: Expression,
    isMerge: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends PartialBuildAgg[hll.Union] {

  override def prettyName: String = if (isMerge) "datasketch_hll_union" else "datasketch_hll"
  override protected def laneOf(dt: DataType): Int = if (isMerge) Partial.NoLane else Partial.laneOf(dt)
  override protected def newSketch(): hll.Union = new hll.Union(lgK)
  override protected def putLong(s: hll.Union, l: Long): Unit = s.update(l)
  override protected def putDouble(s: hll.Union, d: Double): Unit = s.update(d)
  override protected def putBytes(s: hll.Union, b: Array[Byte]): Unit = s.update(b)
  override protected def putOther(s: hll.Union, v: Any): Unit =
    if (isMerge) {
      val b = v.asInstanceOf[Array[Byte]]
      s.update(deser("HLL", b)(hll.HllSketch.heapify(mem(b))))
    } else unsupported(v)
  override protected def mergeSketch(s: hll.Union, o: hll.Union): hll.Union = {
    s.update(o.getResult(hll.TgtHllType.HLL_8)); s
  }
  override protected def result(s: hll.Union): Any = {
    val r = s.getResult(hll.TgtHllType.HLL_4)
    if (r.isEmpty) null else r.toUpdatableByteArray
  }
  override protected def sketchBytes(s: hll.Union): Array[Byte] =
    s.getResult(hll.TgtHllType.HLL_8).toUpdatableByteArray
  override protected def fromSketchBytes(bytes: Array[Byte]): hll.Union = {
    val u = new hll.Union(lgK)
    u.update(hll.HllSketch.heapify(mem(bytes)))
    u
  }
  override def withNewMutableAggBufferOffset(o: Int): HllBuildAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllBuildAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

// ---------------------------------------------------------------------------
// CPC (reference src/generated.cpp:1004-1146)
// ---------------------------------------------------------------------------

/** CPC sketch state: raw updates land in `sk`. Once merging starts, one
  * [[CpcUnion]] keyed on the target's lg_k (reference
  * `src/generated.cpp:1046`, the per-state `cpc_union` of
  * `src/generated.cpp:1004-1071`) absorbs every merged sketch, so a group's
  * merge cost stays linear in its partials; `sk` is folded into it before a
  * merge and at the result. */
final class CpcBuf(var sk: CpcSketch, var u: CpcUnion)

/** `datasketch_cpc(lg_k, v)` — build a CPC sketch; with `isMerge`,
  * `datasketch_cpc_union(lg_k, sketch)` — merge CPC sketch blobs into the
  * state's one union, materialized only at combine/finalize. Empty input →
  * NULL. The mode is set by the bind layer, as for [[HllBuildAgg]]. */
case class CpcBuildAgg(
    lgK: Int,
    child: Expression,
    isMerge: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends PartialBuildAgg[CpcBuf] {

  override def prettyName: String = if (isMerge) "datasketch_cpc_union" else "datasketch_cpc"
  override protected def laneOf(dt: DataType): Int = if (isMerge) Partial.NoLane else Partial.laneOf(dt)
  override protected def newSketch(): CpcBuf = new CpcBuf(new CpcSketch(lgK), null)
  override protected def putLong(s: CpcBuf, l: Long): Unit = s.sk.update(l)
  override protected def putDouble(s: CpcBuf, d: Double): Unit = s.sk.update(d)
  override protected def putBytes(s: CpcBuf, b: Array[Byte]): Unit = s.sk.update(b)
  override protected def putOther(s: CpcBuf, v: Any): Unit =
    if (isMerge) {
      val b = v.asInstanceOf[Array[Byte]]
      fold(s); s.u.update(deser("CPC", b)(CpcSketch.heapify(mem(b))))
    } else unsupported(v)

  private def fold(s: CpcBuf): Unit = {
    if (s.u == null) s.u = new CpcUnion(lgK)
    if (!s.sk.isEmpty) { s.u.update(s.sk); s.sk = new CpcSketch(lgK) }
  }
  private def sketch(s: CpcBuf): CpcSketch =
    if (s.u == null) s.sk else { fold(s); s.u.getResult }

  override protected def mergeSketch(s: CpcBuf, o: CpcBuf): CpcBuf = {
    fold(s); s.u.update(sketch(o)); s
  }
  override protected def result(s: CpcBuf): Any = {
    val r = sketch(s)
    if (r.isEmpty) null else r.toByteArray
  }
  override protected def sketchBytes(s: CpcBuf): Array[Byte] = sketch(s).toByteArray
  override protected def fromSketchBytes(bytes: Array[Byte]): CpcBuf =
    new CpcBuf(CpcSketch.heapify(mem(bytes)), null)
  override def withNewMutableAggBufferOffset(o: Int): CpcBuildAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CpcBuildAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

// ---------------------------------------------------------------------------
// Theta (reference src/theta_sketch.cpp:66-215)
// ---------------------------------------------------------------------------

/** `datasketch_theta([lg_k,] v_or_sketch)` — build or merge a Theta sketch.
  * One aggregate covers both the create and merge overloads (reference
  * registers both under one name, `src/theta_sketch.cpp:380-428`): a BINARY
  * child is a sketch blob to union; any other supported type is a raw update.
  * The sketch is a [[theta.Union]] (the Java union accepts both raw updates and
  * sketch unions, collapsing the reference's dual update/union state,
  * `src/theta_sketch.cpp:66-139`).
  *
  * Empty input yields a serialized *empty compact* sketch — NOT null —
  * so `datasketch_theta_estimate` over an empty table is 0 (reference
  * `src/theta_sketch.cpp:156-165`, `test/sql/datasketch_theta.test:162-165`).
  */
case class ThetaAgg(
    lgK: Int,
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends PartialBuildAgg[theta.Union] {

  private val isMerge = child.dataType == BinaryType

  override def prettyName: String = "datasketch_theta"
  override def nullable: Boolean = false
  override protected def laneOf(dt: DataType): Int =
    if (dt == BinaryType) Partial.NoLane else Partial.laneOf(dt)
  override protected def newSketch(): theta.Union =
    theta.SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
  override protected def putLong(s: theta.Union, l: Long): Unit = s.update(l)
  override protected def putDouble(s: theta.Union, d: Double): Unit = s.update(d)
  override protected def putBytes(s: theta.Union, b: Array[Byte]): Unit = s.update(b)
  override protected def putOther(s: theta.Union, v: Any): Unit =
    if (isMerge) {
      val b = v.asInstanceOf[Array[Byte]]
      s.union(deser("Theta", b)(theta.Sketches.wrapSketch(mem(b))))
    } else unsupported(v)
  override protected def mergeSketch(s: theta.Union, o: theta.Union): theta.Union = {
    s.union(o.getResult); s
  }
  override protected def result(s: theta.Union): Any = s.getResult.toByteArray
  override protected def sketchBytes(s: theta.Union): Array[Byte] = s.getResult.toByteArray
  override protected def fromSketchBytes(bytes: Array[Byte]): theta.Union = {
    val u = newSketch()
    u.union(theta.Sketches.wrapSketch(mem(bytes)))
    u
  }
  override def withNewMutableAggBufferOffset(o: Int): ThetaAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

// ---------------------------------------------------------------------------
// KLL (reference src/generated.cpp:753-864, registration 3767-3835)
// ---------------------------------------------------------------------------

/** `datasketch_kll(k, v_or_sketch)` over one of the three Java element
  * specializations (SURVEY §7.3 item 2: the reference's 10 numeric element
  * types collapse to longs/floats/doubles). Create vs merge resolved at bind
  * time from the child type (BINARY → merge). Empty input → NULL.
  */
case class KllAgg(
    k: Int,
    child: Expression,
    elem: ElemType,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends PartialBuildAgg[KllSketch] {

  private val isMerge = child.dataType == BinaryType

  override def prettyName: String = "datasketch_kll"
  // the ulong lane's DECIMAL(20,0) input rides the long lane as raw uint64 bits
  override protected def laneOf(dt: DataType): Int =
    if (elem == ElemType.ULng && dt != BinaryType) Partial.LongLane else numericLaneOf(dt)
  override protected def newSketch(): KllSketch = elem match {
    case ElemType.Dbl  => KllDoublesSketch.newHeapInstance(k)
    case ElemType.Flt  => KllFloatsSketch.newHeapInstance(k)
    case ElemType.Lng  => KllLongsSketch.newHeapInstance(k)
    case ElemType.ULng => KllItemsSketch.newHeapInstance[java.lang.Long](k, ulongCmp, longsSerDe)
  }

  private def heapify(b: Array[Byte]): KllSketch = deser("KLL", b)(elem match {
    case ElemType.Dbl  => KllDoublesSketch.heapify(mem(b))
    case ElemType.Flt  => KllFloatsSketch.heapify(mem(b))
    case ElemType.Lng  => KllLongsSketch.heapify(mem(b))
    case ElemType.ULng => KllItemsSketch.heapify(mem(b), ulongCmp, longsSerDe)
  })

  override protected def putLong(s: KllSketch, l: Long): Unit = s match {
    case d: KllDoublesSketch  => d.update(l.toDouble)
    case f: KllFloatsSketch   => f.update(l.toFloat)
    case g: KllLongsSketch    => g.update(l)
    case u: KllItemsSketch[_] => u.asInstanceOf[KllItemsSketch[java.lang.Long]].update(java.lang.Long.valueOf(l))
    case other => throw new IllegalStateException(s"unexpected KLL buffer ${other.getClass}")
  }
  override protected def putDouble(s: KllSketch, v: Double): Unit = s match {
    case d: KllDoublesSketch => d.update(v)
    case f: KllFloatsSketch  => f.update(v.toFloat)
    case g: KllLongsSketch   => g.update(v.toLong)
    case _                   => unsup()
  }
  override protected def putOther(s: KllSketch, v: Any): Unit =
    if (isMerge) mergeSketch(s, heapify(v.asInstanceOf[Array[Byte]])) else unsup()

  override protected def mergeSketch(s: KllSketch, other: KllSketch): KllSketch = {
    (s, other) match {
      case (a: KllDoublesSketch, b: KllDoublesSketch) => a.merge(b)
      case (a: KllFloatsSketch, b: KllFloatsSketch)   => a.merge(b)
      case (a: KllLongsSketch, b: KllLongsSketch)     => a.merge(b)
      case (a: KllItemsSketch[_], b: KllItemsSketch[_]) =>
        a.asInstanceOf[KllItemsSketch[java.lang.Long]].merge(b)
      case _ => throw new IllegalStateException("KLL element type mismatch in merge")
    }
    s
  }
  override protected def result(s: KllSketch): Any = if (s.isEmpty) null else sketchBytes(s)
  override protected def sketchBytes(s: KllSketch): Array[Byte] = s match {
    case d: KllDoublesSketch  => d.toByteArray
    case f: KllFloatsSketch   => f.toByteArray
    case g: KllLongsSketch    => g.toByteArray
    case u: KllItemsSketch[_] => u.toByteArray
  }
  override protected def fromSketchBytes(bytes: Array[Byte]): KllSketch = heapify(bytes)
  override def withNewMutableAggBufferOffset(o: Int): KllAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KllAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

// ---------------------------------------------------------------------------
// Classic Quantiles (reference src/generated.cpp:734-1146 quantiles blocks)
// ---------------------------------------------------------------------------

/** Sketch state of classic quantiles: a [[DoublesUnion]] for double
  * elements, or a classic ItemsUnion over longs / floats (one non-null lane,
  * selected by the aggregate's bind-time element type). */
final class QuantilesBuf(val du: DoublesUnion,
                         val lu: ClassicItemsUnion[java.lang.Long],
                         val fu: ClassicItemsUnion[java.lang.Float])

/** `datasketch_quantiles(k, v_or_sketch)`. Empty input → NULL. */
case class QuantilesAgg(
    k: Int,
    child: Expression,
    elem: ElemType,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends PartialBuildAgg[QuantilesBuf] {

  private val isMerge = child.dataType == BinaryType

  /** Comparator of the long-items lane: unsigned for the ulong lane, the
    * natural order otherwise — everything else about the lane is shared. */
  private def lngCmp = if (elem == ElemType.ULng) ulongCmp else longCmp

  override def prettyName: String = "datasketch_quantiles"
  // the ulong lane's DECIMAL(20,0) input rides the long lane as raw uint64 bits
  override protected def laneOf(dt: DataType): Int =
    if (elem == ElemType.ULng && dt != BinaryType) Partial.LongLane else numericLaneOf(dt)
  override protected def newSketch(): QuantilesBuf = elem match {
    case ElemType.Lng | ElemType.ULng =>
      new QuantilesBuf(null, ClassicItemsUnion.getInstance(classOf[java.lang.Long], k, lngCmp), null)
    case ElemType.Flt =>
      new QuantilesBuf(null, null, ClassicItemsUnion.getInstance(classOf[java.lang.Float], k, floatCmp))
    case _ =>
      new QuantilesBuf(DoublesUnion.builder().setMaxK(k).build(), null, null)
  }

  override protected def putLong(s: QuantilesBuf, l: Long): Unit =
    if (s.du != null) s.du.update(l.toDouble)
    else if (s.lu != null) s.lu.update(java.lang.Long.valueOf(l))
    else s.fu.update(java.lang.Float.valueOf(l.toFloat))
  override protected def putDouble(s: QuantilesBuf, d: Double): Unit =
    if (s.du != null) s.du.update(d)
    else if (s.lu != null) s.lu.update(java.lang.Long.valueOf(d.toLong))
    else s.fu.update(java.lang.Float.valueOf(d.toFloat))
  override protected def putOther(s: QuantilesBuf, v: Any): Unit =
    if (isMerge) {
      val b = v.asInstanceOf[Array[Byte]]
      if (s.du != null) deser("Quantiles", b)(s.du.union(mem(b)))
      else if (s.lu != null) s.lu.union(deser("Quantiles", b)(
        ClassicItemsSketch.getInstance(classOf[java.lang.Long], mem(b), lngCmp, longsSerDe)))
      else s.fu.union(deser("Quantiles", b)(
        ClassicItemsSketch.getInstance(classOf[java.lang.Float], mem(b), floatCmp, floatsSerDe)))
    } else unsup()

  override protected def mergeSketch(s: QuantilesBuf, o: QuantilesBuf): QuantilesBuf = {
    if (s.du != null) s.du.union(o.du.getResult)
    else if (s.lu != null) s.lu.union(o.lu.getResult)
    else s.fu.union(o.fu.getResult)
    s
  }
  // Items-lane blobs are written ORDERED compact (`toByteArray(true, _)`):
  // the single-arg overload writes unordered compact, which
  // `ItemsSketch.getInstance` REJECTS on read ("must be v2, empty, or
  // compact and ordered") — so the un-ordered form broke every long/float
  // lane blob re-merge (latent until q113 exercised one). Ordered compact
  // is also what the C++ quantiles sketch writes.
  override protected def result(s: QuantilesBuf): Any =
    if (s.du != null) {
      val r = s.du.getResult
      if (r.isEmpty) null else r.toByteArray(false)
    } else if (s.lu != null) {
      val r = s.lu.getResult
      if (r.isEmpty) null else r.toByteArray(true, longsSerDe)
    } else {
      val r = s.fu.getResult
      if (r.isEmpty) null else r.toByteArray(true, floatsSerDe)
    }
  override protected def sketchBytes(s: QuantilesBuf): Array[Byte] =
    if (s.du != null) s.du.getResult.toByteArray(false)
    else if (s.lu != null) s.lu.getResult.toByteArray(true, longsSerDe)
    else s.fu.getResult.toByteArray(true, floatsSerDe)
  override protected def fromSketchBytes(bytes: Array[Byte]): QuantilesBuf = {
    val s = newSketch()
    if (s.du != null) s.du.union(mem(bytes))
    else if (s.lu != null)
      s.lu.union(ClassicItemsSketch.getInstance(classOf[java.lang.Long], mem(bytes), lngCmp, longsSerDe))
    else
      s.fu.union(ClassicItemsSketch.getInstance(classOf[java.lang.Float], mem(bytes), floatCmp, floatsSerDe))
    s
  }
  override def withNewMutableAggBufferOffset(o: Int): QuantilesAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): QuantilesAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

// ---------------------------------------------------------------------------
// REQ (reference src/generated.cpp:5096-5164) — Java REQ is float-native
// ---------------------------------------------------------------------------

/** `datasketch_req(k, v_or_sketch)`. Non-float numerics cast to float
  * (documented precision caveat, SURVEY §7.3 item 2). Empty input → NULL. */
case class ReqAgg(
    k: Int,
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends PartialBuildAgg[ReqSketch] {

  private val isMerge = child.dataType == BinaryType

  override def prettyName: String = "datasketch_req"
  override protected def laneOf(dt: DataType): Int = numericLaneOf(dt)
  override protected def newSketch(): ReqSketch = ReqSketch.builder().setK(k).build()
  override protected def putLong(s: ReqSketch, l: Long): Unit = s.update(l.toFloat)
  override protected def putDouble(s: ReqSketch, d: Double): Unit = s.update(d.toFloat)
  override protected def putOther(s: ReqSketch, v: Any): Unit =
    if (isMerge) {
      val b = v.asInstanceOf[Array[Byte]]
      s.merge(deser("REQ", b)(ReqSketch.heapify(mem(b))))
    } else unsup()
  override protected def mergeSketch(s: ReqSketch, o: ReqSketch): ReqSketch = { s.merge(o); s }
  // The library sorts level 0 only when merging, and the reference emits it
  // sorted (level-0-sorted flag, req.test:14-17), as the partial merged into
  // an empty final buffer always did; a raw group builds by updates alone,
  // so the emitted BLOB is its sketch merged into an empty one.
  override protected def result(s: ReqSketch): Any =
    if (s.isEmpty) null else newSketch().merge(s).toByteArray
  override protected def sketchBytes(s: ReqSketch): Array[Byte] = s.toByteArray
  override protected def fromSketchBytes(bytes: Array[Byte]): ReqSketch = ReqSketch.heapify(mem(bytes))
  override def withNewMutableAggBufferOffset(o: Int): ReqAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ReqAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

// ---------------------------------------------------------------------------
// TDigest (reference src/generated.cpp:5888-5920) — Java TDigest is double
// ---------------------------------------------------------------------------

/** `datasketch_tdigest(k, v_or_sketch)`. Empty input → NULL. */
case class TDigestAgg(
    k: Int,
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends PartialBuildAgg[TDigestDouble] {

  // TDigestDouble takes a short compression; validate before the narrowing
  // cast so an out-of-range K fails loudly instead of silently wrapping.
  require(k >= 1 && k <= Short.MaxValue,
    s"datasketch_tdigest: compression (k) must be in [1, ${Short.MaxValue}], got $k")

  private val isMerge = child.dataType == BinaryType

  override def prettyName: String = "datasketch_tdigest"
  override protected def laneOf(dt: DataType): Int = numericLaneOf(dt)
  override protected def newSketch(): TDigestDouble = new TDigestDouble(k.toShort)
  override protected def putLong(s: TDigestDouble, l: Long): Unit = s.update(l.toDouble)
  override protected def putDouble(s: TDigestDouble, d: Double): Unit = s.update(d)
  override protected def putOther(s: TDigestDouble, v: Any): Unit =
    if (isMerge) {
      // reference float-lane blobs widen to the double wire format first
      val b = Kit.tdigestWiden(v.asInstanceOf[Array[Byte]])
      s.merge(deser("TDigest", b)(TDigestDouble.heapify(mem(b))))
    } else unsup()
  override protected def mergeSketch(s: TDigestDouble, o: TDigestDouble): TDigestDouble = { s.merge(o); s }
  override protected def result(s: TDigestDouble): Any = if (s.isEmpty) null else s.toByteArray
  override protected def sketchBytes(s: TDigestDouble): Array[Byte] = s.toByteArray
  override protected def fromSketchBytes(bytes: Array[Byte]): TDigestDouble = TDigestDouble.heapify(mem(bytes))
  override def withNewMutableAggBufferOffset(o: Int): TDigestAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TDigestAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

// ---------------------------------------------------------------------------
// Frequent Items (reference src/frequent_items_sketch.cpp:70-181)
// ---------------------------------------------------------------------------

/** `datasketch_frequent_items([lg_k,] v_or_sketch)`. Every input is
  * stringified with the reference's canonicalization ([[Kit.freqKey]]).
  * Empty input → serialized EMPTY sketch, not NULL (reference
  * `src/frequent_items_sketch.cpp:133-139`).
  */
case class FreqItemsAgg(
    lgK: Int,
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends PartialBuildAgg[frequencies.ItemsSketch[String]] {

  private type Sk = frequencies.ItemsSketch[String]
  private val isMerge = child.dataType == BinaryType

  override def prettyName: String = "datasketch_frequent_items"
  override def nullable: Boolean = false
  override protected def laneOf(dt: DataType): Int =
    if (dt == BinaryType) Partial.NoLane else Partial.laneOf(dt)
  override protected def newSketch(): Sk = new frequencies.ItemsSketch[String](1 << lgK)
  override protected def putLong(s: Sk, l: Long): Unit = s.update(l.toString)
  override protected def putDouble(s: Sk, d: Double): Unit = s.update(freqKey(d))
  override protected def putBytes(s: Sk, b: Array[Byte]): Unit =
    s.update(new String(b, java.nio.charset.StandardCharsets.UTF_8))
  override protected def putOther(s: Sk, v: Any): Unit =
    if (isMerge) {
      val b = v.asInstanceOf[Array[Byte]]
      s.merge(deser("Frequent Items", b)(frequencies.ItemsSketch.getInstance(mem(b), stringsSerDe)))
    } else s.update(freqKey(v))
  override protected def mergeSketch(s: Sk, o: Sk): Sk = { s.merge(o); s }
  override protected def result(s: Sk): Any = s.toByteArray(stringsSerDe)
  override protected def sketchBytes(s: Sk): Array[Byte] = s.toByteArray(stringsSerDe)
  override protected def fromSketchBytes(bytes: Array[Byte]): Sk =
    frequencies.ItemsSketch.getInstance(mem(bytes), stringsSerDe)
  override def withNewMutableAggBufferOffset(o: Int): FreqItemsAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqItemsAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}
