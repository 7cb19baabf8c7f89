package graft.sketch

import scala.reflect.ClassTag

import org.apache.datasketches.cpc.CpcSketch
import org.apache.datasketches.frequencies
import org.apache.datasketches.frequencies.ErrorType
import org.apache.datasketches.hll.HllSketch
import org.apache.datasketches.kll.{KllDoublesSketch, KllFloatsSketch, KllItemsSketch, KllLongsSketch, KllSketch}
import org.apache.datasketches.quantiles.{DoublesSketch, ItemsSketch => ClassicItemsSketch}
import org.apache.datasketches.quantilescommon.{QuantilesAPI, QuantilesDoublesAPI, QuantilesFloatsAPI, QuantilesGenericAPI, QuantilesLongsAPI}
import org.apache.datasketches.req.ReqSketch
import org.apache.datasketches.tdigest.TDigestDouble
import org.apache.datasketches.theta
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import Kit._

/** Scalar sketch-probe functions (reference SURVEY.md §2.3–2.4).
  *
  * Like the reference's `Unary/Binary/TernaryExecutor` lambdas
  * (`codegen/generator.py:531-626`), every scalar deserializes the sketch
  * BLOB per row and computes with datasketches-java — memoized per thread
  * for repeated blobs ([[Kit.memoDeser]]). All are deterministic,
  * non-foldable, null-propagating (DuckDB scalar-on-NULL → NULL).
  *
  * Codegen: unlike a `CodegenFallback` (which disqualifies the whole
  * operator from whole-stage codegen — `CollapseCodegenStages` rejects any
  * plan containing one), [[doGenCode]] emits a boxed-args call to
  * [[compute]] through a reference object. The per-row dispatch stays
  * interpreted (deserialization dominates it by orders of magnitude), but
  * a projection mixing sketch probes with ordinary arithmetic now stays
  * one codegen stage instead of forcing the operator interpreted.
  */
abstract class SketchScalar extends Expression {
  override def nullable: Boolean = true
  override def foldable: Boolean = false

  /** The probe body: non-null evaluated children in, result out (null
    * result allowed). Shared verbatim by interpreted [[eval]] and the
    * generated code, so the two paths cannot diverge. */
  def compute(args: Array[Any]): Any

  override final def eval(input: InternalRow): Any = {
    val args = evalArgs(input)
    if (args == null) null else compute(args)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sketchScalar", this, classOf[SketchScalar].getName)
    val argsTerm = ctx.freshName("sketchArgs")
    val objTerm = ctx.freshName("sketchResult")
    val javaType = CodeGenerator.javaType(dataType)
    val boxedType = CodeGenerator.boxedType(dataType)
    def boxed(dt: DataType, v: String): String = dt match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType => s"${CodeGenerator.boxedType(dt)}.valueOf($v)"
      case _ => v
    }
    val childCode = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      s"""
         |if (!${ev.isNull}) {
         |  ${e.code}
         |  if (${e.isNull}) { ${ev.isNull} = true; }
         |  else { $argsTerm[$i] = ${boxed(c.dataType, e.value.toString)}; }
         |}""".stripMargin
    }.mkString("\n")
    val unbox = dataType match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType =>
        val prim = javaType // "double", "long", ... — matches the *Value() prefix
        s"${ev.value} = (($boxedType) $objTerm).${prim}Value();"
      case _ => s"${ev.value} = ($javaType) $objTerm;"
    }
    ev.copy(code = code"""
       |boolean ${ev.isNull} = false;
       |Object[] $argsTerm = new Object[${children.length}];
       |$childCode
       |$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
       |if (!${ev.isNull}) {
       |  Object $objTerm = $ref.compute($argsTerm);
       |  if ($objTerm == null) { ${ev.isNull} = true; }
       |  else { $unbox }
       |}""".stripMargin)
  }

  /** Evaluate all children; null if any input is null (IgnoreNull probes). */
  protected final def evalArgs(input: InternalRow): Array[Any] = {
    val n = children.length
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val v = children(i).eval(input)
      if (v == null) return null
      out(i) = v
      i += 1
    }
    out
  }

  protected final def toDoubleArray(a: Any): Array[Double] =
    a.asInstanceOf[ArrayData].toDoubleArray()
}

// ---------------------------------------------------------------------------
// Quantile families: quantiles / kll / req / tdigest
// ---------------------------------------------------------------------------

/** Uniform view over the per-family, per-element-type Java quantile sketches
  * (the reference's template instantiations, `codegen/generated.cpp.j2`):
  * one view per item type of the library's `quantilescommon` interfaces,
  * plus TDigest's. */
sealed trait QuantWrap {
  def quantile(r: Double, incl: Boolean): Any
  def rank(item: Double, incl: Boolean): Double
  def cdf(splits: Array[Double], incl: Boolean): Array[Double]
  def pmf(splits: Array[Double], incl: Boolean): Array[Double]
  def k: Int
  def isEmpty: Boolean
  def n: Long
  def isEstimationMode: Boolean
  def numRetained: Long
  def minItem: Any
  def maxItem: Any
  def nre(isPmf: Boolean): Double
  def describe(a: Boolean, b: Boolean): String
  def totalWeight: Long = n
}

object QuantWrap {
  /** A library sketch: what every item type shares through [[QuantilesAPI]].
    * `describe` is the family's own text, `toString(a, b)` for classic
    * quantiles and KLL and `toString` for REQ. */
  sealed abstract class Lib(val sketch: QuantilesAPI) extends QuantWrap {
    def k: Int = sketch.getK
    def isEmpty: Boolean = sketch.isEmpty
    def n: Long = sketch.getN
    def isEstimationMode: Boolean = sketch.isEstimationMode
    def numRetained: Long = sketch.getNumRetained
    def nre(isPmf: Boolean): Double = sketch.getNormalizedRankError(isPmf)
    def describe(a: Boolean, b: Boolean): String = sketch match {
      case s: KllSketch             => s.toString(a, b)
      case s: DoublesSketch         => s.toString(a, b)
      case s: ClassicItemsSketch[_] => s.toString(a, b)
      case s                        => s.toString
    }
  }

  /** Classic quantiles and KLL over doubles. */
  final class Doubles(s: QuantilesDoublesAPI) extends Lib(s) {
    def quantile(r: Double, incl: Boolean): Any = s.getQuantile(r, criteria(incl))
    def rank(item: Double, incl: Boolean): Double = s.getRank(item, criteria(incl))
    def cdf(sp: Array[Double], incl: Boolean): Array[Double] = s.getCDF(sp, criteria(incl))
    def pmf(sp: Array[Double], incl: Boolean): Array[Double] = s.getPMF(sp, criteria(incl))
    def minItem: Any = s.getMinItem
    def maxItem: Any = s.getMaxItem
  }

  /** KLL over floats, and REQ. */
  final class Floats(s: QuantilesFloatsAPI) extends Lib(s) {
    def quantile(r: Double, incl: Boolean): Any = s.getQuantile(r, criteria(incl))
    def rank(item: Double, incl: Boolean): Double = s.getRank(item.toFloat, criteria(incl))
    def cdf(sp: Array[Double], incl: Boolean): Array[Double] = s.getCDF(sp.map(_.toFloat), criteria(incl))
    def pmf(sp: Array[Double], incl: Boolean): Array[Double] = s.getPMF(sp.map(_.toFloat), criteria(incl))
    def minItem: Any = s.getMinItem
    def maxItem: Any = s.getMaxItem
  }

  /** KLL over longs. */
  final class Longs(s: QuantilesLongsAPI) extends Lib(s) {
    def quantile(r: Double, incl: Boolean): Any = s.getQuantile(r, criteria(incl))
    def rank(item: Double, incl: Boolean): Double = s.getRank(item.toLong, criteria(incl))
    def cdf(sp: Array[Double], incl: Boolean): Array[Double] = s.getCDF(sp.map(_.toLong), criteria(incl))
    def pmf(sp: Array[Double], incl: Boolean): Array[Double] = s.getPMF(sp.map(_.toLong), criteria(incl))
    def minItem: Any = s.getMinItem
    def maxItem: Any = s.getMaxItem
  }

  /** Items sketches: classic quantiles over longs, floats and ulongs, and
    * KLL over ulongs. `toItem` maps a double probe to an item, `out` an
    * item to its Spark value. */
  final class Items[T <: AnyRef: ClassTag](s: QuantilesGenericAPI[T], toItem: Double => T,
                                           out: T => Any) extends Lib(s) {
    def quantile(r: Double, incl: Boolean): Any = out(s.getQuantile(r, criteria(incl)))
    def rank(item: Double, incl: Boolean): Double = s.getRank(toItem(item), criteria(incl))
    def cdf(sp: Array[Double], incl: Boolean): Array[Double] = s.getCDF(sp.map(toItem), criteria(incl))
    def pmf(sp: Array[Double], incl: Boolean): Array[Double] = s.getPMF(sp.map(toItem), criteria(incl))
    def minItem: Any = out(s.getMinItem)
    def maxItem: Any = out(s.getMaxItem)
  }

  private def jl(d: Double): java.lang.Long = java.lang.Long.valueOf(d.toLong)
  private def jf(d: Double): java.lang.Float = java.lang.Float.valueOf(d.toFloat)
  /** UBIGINT lane: items are raw uint64 bit patterns under the unsigned
    * comparator; a double probe maps through [[Kit.ulongBitsOfDouble]]
    * (precision caveat shared with the signed long lane's probes), and an
    * item surfaces as Spark Decimal(20,0). */
  private def ju(d: Double): java.lang.Long = java.lang.Long.valueOf(ulongBitsOfDouble(d))
  private def ulongOut(l: java.lang.Long): Any = ulongDecimal(l.longValue())
  private def boxed[T](t: T): Any = t

  final class QTd(s: TDigestDouble) extends QuantWrap {
    def quantile(r: Double, incl: Boolean): Any = s.getQuantile(r)
    def rank(item: Double, incl: Boolean): Double = s.getRank(item)
    def cdf(sp: Array[Double], incl: Boolean): Array[Double] = s.getCDF(sp)
    def pmf(sp: Array[Double], incl: Boolean): Array[Double] = s.getPMF(sp)
    def k: Int = s.getK; def isEmpty: Boolean = s.isEmpty
    def n: Long = s.getTotalWeight
    def isEstimationMode: Boolean =
      throw new UnsupportedOperationException("is_estimation_mode is not defined for TDigest")
    def numRetained: Long =
      throw new UnsupportedOperationException("num_retained is not defined for TDigest")
    def minItem: Any = throw new UnsupportedOperationException("min_item is not defined for TDigest")
    def maxItem: Any = throw new UnsupportedOperationException("max_item is not defined for TDigest")
    def nre(isPmf: Boolean): Double =
      throw new UnsupportedOperationException("normalized_rank_error is not defined for TDigest")
    def describe(a: Boolean, b: Boolean): String = s.toString(a)
    override def totalWeight: Long = s.getTotalWeight
  }

  /** Deserialize a quantile-family sketch blob into the uniform view,
    * memoized per thread on blob content ([[Kit.memoDeser]]). */
  def of(family: String, elem: ElemType, bytes: Array[Byte]): QuantWrap =
    memoDeser(s"$family/${elem.tag}", bytes)(ofUncached(family, elem, bytes))

  private def ofUncached(family: String, elem: ElemType, bytes: Array[Byte]): QuantWrap = family match {
    case "quantiles" => deser("Quantiles", bytes)(elem match {
      case ElemType.Lng  => new Items(ClassicItemsSketch.getInstance(classOf[java.lang.Long], mem(bytes), longCmp, longsSerDe), jl, boxed)
      case ElemType.ULng => new Items(ClassicItemsSketch.getInstance(classOf[java.lang.Long], mem(bytes), ulongCmp, longsSerDe), ju, ulongOut)
      case ElemType.Flt  => new Items(ClassicItemsSketch.getInstance(classOf[java.lang.Float], mem(bytes), floatCmp, floatsSerDe), jf, boxed)
      case _             => new Doubles(DoublesSketch.heapify(mem(bytes)))
    })
    case "kll" => deser("KLL", bytes)(elem match {
      case ElemType.Dbl  => new Doubles(KllDoublesSketch.heapify(mem(bytes)))
      case ElemType.Flt  => new Floats(KllFloatsSketch.heapify(mem(bytes)))
      case ElemType.Lng  => new Longs(KllLongsSketch.heapify(mem(bytes)))
      case ElemType.ULng => new Items(KllItemsSketch.heapify(mem(bytes), ulongCmp, longsSerDe), ju, ulongOut)
    })
    case "req"     => deser("REQ", bytes)(new Floats(ReqSketch.heapify(mem(bytes))))
    case "tdigest" =>
      // reference float-lane blobs widen to the double wire format first
      val wb = Kit.tdigestWiden(bytes)
      deser("TDigest", wb)(new QTd(TDigestDouble.heapify(mem(wb))))
    case other     => throw new IllegalArgumentException(s"unknown quantile family '$other'")
  }
}

/** `datasketch_{quantiles,kll,req,tdigest}_<fn>` scalars (SURVEY §2.3).
  * `fn` selects the probe; `elem` is the sketch's element type resolved at
  * bind time by [[graft.Registration]] (alias-type dispatch in the
  * reference). Children are pre-cast by the registration layer.
  */
case class QuantScalar(family: String, fn: String, elem: ElemType, children: Seq[Expression])
    extends SketchScalar {

  override def prettyName: String = s"datasketch_${family}_$fn"

  /** Element-typed results: quantiles follow the element type; REQ is
    * float-native, TDigest double-native (SURVEY §7.3 item 2). */
  private def elemOut: DataType = family match {
    case "req"     => FloatType
    case "tdigest" => DoubleType
    case _         => elem.sparkType
  }

  override def dataType: DataType = fn match {
    case "quantile" | "min_item" | "max_item"  => elemOut
    case "rank" | "normalized_rank_error"      => DoubleType
    case "cdf" | "pmf"                         => ArrayType(DoubleType, containsNull = false)
    case "k"                                   => IntegerType
    case "n" | "num_retained" | "total_weight" => LongType
    case "is_empty" | "is_estimation_mode"     => BooleanType
    case "describe"                            => StringType
    case other => throw new IllegalArgumentException(s"unknown quantile scalar '$other'")
  }

  override def compute(args: Array[Any]): Any = {
    val sk = QuantWrap.of(family, elem, args(0).asInstanceOf[Array[Byte]])
    fn match {
      case "quantile" =>
        if (family == "tdigest") sk.quantile(args(1).asInstanceOf[Double], incl = true)
        else sk.quantile(args(1).asInstanceOf[Double], args(2).asInstanceOf[Boolean])
      case "rank" =>
        if (family == "tdigest") sk.rank(numToDouble(args(1)), incl = true)
        else sk.rank(numToDouble(args(1)), args(2).asInstanceOf[Boolean])
      case "cdf" =>
        val incl = if (family == "tdigest") true else args(2).asInstanceOf[Boolean]
        new GenericArrayData(sk.cdf(toDoubleArray(args(1)), incl))
      case "pmf" =>
        val incl = if (family == "tdigest") true else args(2).asInstanceOf[Boolean]
        new GenericArrayData(sk.pmf(toDoubleArray(args(1)), incl))
      case "k"                     => sk.k
      case "is_empty"              => sk.isEmpty
      case "n"                     => sk.n
      case "is_estimation_mode"    => sk.isEstimationMode
      case "num_retained"          => sk.numRetained
      case "min_item"              => sk.minItem
      case "max_item"              => sk.maxItem
      case "normalized_rank_error" => sk.nre(args(1).asInstanceOf[Boolean])
      case "total_weight"          => sk.totalWeight
      case "describe" =>
        val a = if (args.length > 1) args(1).asInstanceOf[Boolean] else false
        val b = if (args.length > 2) args(2).asInstanceOf[Boolean] else false
        val disp = family match {
          case "quantiles" => "Quantiles"
          case "kll"       => "KLL"
          case "req"       => "REQ"
          case _           => "TDigest"
        }
        UTF8String.fromString(Kit.describeBanner(disp, sk.describe(a, b)))
    }
  }

  private def numToDouble(v: Any): Double = v match {
    case d: Double => d
    case f: Float  => f.toDouble
    case l: Long   => l.toDouble
    case i: Int    => i.toDouble
    case s: Short  => s.toDouble
    case b: Byte   => b.toDouble
    case other     => throw new IllegalArgumentException(s"non-numeric rank item: $other")
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

// ---------------------------------------------------------------------------
// Counting families: hll / cpc
// ---------------------------------------------------------------------------

/** `datasketch_{hll,cpc}_<fn>` scalars (reference `src/generated.cpp:5948-6805`). */
case class CountScalar(family: String, fn: String, children: Seq[Expression])
    extends SketchScalar {

  override def prettyName: String = s"datasketch_${family}_$fn"

  override def dataType: DataType = fn match {
    case "estimate" | "lower_bound" | "upper_bound" => DoubleType
    case "is_empty" | "is_compact"                  => BooleanType
    case "describe"                                 => StringType
    case "lg_config_k"                              => IntegerType
    case other => throw new IllegalArgumentException(s"unknown $family scalar '$other'")
  }

  override def compute(args: Array[Any]): Any = {
    val bytes = args(0).asInstanceOf[Array[Byte]]
    if (family == "hll") {
      val sk = memoDeser("hll", bytes)(deser("HLL", bytes)(HllSketch.heapify(mem(bytes))))
      fn match {
        case "estimate"    => sk.getEstimate
        case "lower_bound" => sk.getLowerBound(args(1).asInstanceOf[Int])
        case "upper_bound" => sk.getUpperBound(args(1).asInstanceOf[Int])
        case "is_empty"    => sk.isEmpty
        case "lg_config_k" => sk.getLgConfigK
        case "is_compact"  => sk.isCompact
        case "describe" =>
          val summary = if (args.length > 1) args(1).asInstanceOf[Boolean] else true
          val detail = if (args.length > 2) args(2).asInstanceOf[Boolean] else false
          UTF8String.fromString(
            Kit.describeBanner("HLL", sk.toString(summary, detail, false, false)))
      }
    } else {
      val sk = memoDeser("cpc", bytes)(deser("CPC", bytes)(CpcSketch.heapify(mem(bytes))))
      fn match {
        case "estimate"    => sk.getEstimate
        case "lower_bound" => sk.getLowerBound(args(1).asInstanceOf[Int])
        case "upper_bound" => sk.getUpperBound(args(1).asInstanceOf[Int])
        case "is_empty"    => sk.isEmpty
        case "describe"    => UTF8String.fromString(Kit.describeBanner("CPC", sk.toString))
      }
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

// ---------------------------------------------------------------------------
// Theta (set algebra) — reference src/theta_sketch.cpp:221-354
// ---------------------------------------------------------------------------

/** `datasketch_theta_<fn>` scalars, including the sketch-level set algebra
  * (union/intersect/a_not_b), the reference's summary-level join analog. */
case class ThetaScalar(fn: String, children: Seq[Expression]) extends SketchScalar {

  override def prettyName: String = s"datasketch_theta_$fn"

  override def dataType: DataType = fn match {
    case "union" | "intersect" | "a_not_b"                => BinaryType
    case "estimate" | "lower_bound" | "upper_bound" | "get_theta" => DoubleType
    case "describe"                                       => StringType
    case "is_empty" | "is_estimation_mode"                => BooleanType
    case "num_retained" | "get_seed"                      => LongType
    case other => throw new IllegalArgumentException(s"unknown theta scalar '$other'")
  }

  private def wrap(a: Any): theta.Sketch = {
    val b = a.asInstanceOf[Array[Byte]]
    memoDeser("theta", b)(deser("Theta", b)(theta.Sketches.wrapSketch(mem(b))))
  }

  override def compute(args: Array[Any]): Any = {
    fn match {
      // Pairwise set ops run at the reference's fixed default lg_k=12
      // (src/theta_sketch.cpp:228) and emit compact-ordered blobs.
      case "union" =>
        val u = theta.SetOperation.builder().setLogNominalEntries(12).buildUnion()
        u.union(wrap(args(0))); u.union(wrap(args(1)))
        u.getResult.toByteArray
      case "intersect" =>
        val ix = theta.SetOperation.builder().buildIntersection()
        ix.intersect(wrap(args(0))); ix.intersect(wrap(args(1)))
        ix.getResult.toByteArray
      case "a_not_b" =>
        val anb = theta.SetOperation.builder().buildANotB()
        anb.aNotB(wrap(args(0)), wrap(args(1))).toByteArray
      case "estimate"           => wrap(args(0)).getEstimate
      case "lower_bound"        => wrap(args(0)).getLowerBound(args(1).asInstanceOf[Int])
      case "upper_bound"        => wrap(args(0)).getUpperBound(args(1).asInstanceOf[Int])
      case "describe"           =>
        UTF8String.fromString(Kit.describeBanner("Theta", wrap(args(0)).toString))
      case "is_empty"           => wrap(args(0)).isEmpty
      case "is_estimation_mode" => wrap(args(0)).isEstimationMode
      case "get_theta"          => wrap(args(0)).getTheta
      case "num_retained"       => wrap(args(0)).getRetainedEntries(true).toLong
      // Unsigned 16-bit seed hash (37836 for the default seed,
      // test/sql/datasketch_theta.test:423-427). Read from the serialized
      // preamble (bytes 6-7 in every theta variant); the Java accessor is
      // protected.
      case "get_seed" =>
        val m = mem(args(0).asInstanceOf[Array[Byte]])
        wrap(args(0)) // validates the blob first
        (m.getShort(6) & 0xFFFF).toLong
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

// ---------------------------------------------------------------------------
// Frequent Items — reference src/frequent_items_sketch.cpp:193-348
// ---------------------------------------------------------------------------

/** `datasketch_frequent_items_<fn>` scalars. Item probes canonicalize the
  * probe value exactly like the build aggregate ([[Kit.freqKey]], reference
  * `src/frequent_items_sketch.cpp:200-212`). */
case class FreqScalar(fn: String, children: Seq[Expression]) extends SketchScalar {

  override def prettyName: String = s"datasketch_frequent_items_$fn"

  override def dataType: DataType = fn match {
    case "estimate" | "lower_bound" | "upper_bound" => LongType
    case "total_weight" | "num_active"              => LongType
    case "epsilon"                                  => DoubleType
    case "is_empty"                                 => BooleanType
    case "get_frequent" => ArrayType(frequentRowType, containsNull = false)
    case other => throw new IllegalArgumentException(s"unknown frequent_items scalar '$other'")
  }

  override def compute(args: Array[Any]): Any = {
    val bytes = args(0).asInstanceOf[Array[Byte]]
    val sk = memoDeser("freq", bytes)(deser("Frequent Items", bytes)(
      frequencies.ItemsSketch.getInstance(mem(bytes), stringsSerDe)))
    fn match {
      case "estimate"     => sk.getEstimate(freqKey(args(1)))
      case "lower_bound"  => sk.getLowerBound(freqKey(args(1)))
      case "upper_bound"  => sk.getUpperBound(freqKey(args(1)))
      case "total_weight" => sk.getStreamLength
      case "num_active"   => sk.getNumActiveItems.toLong
      case "is_empty"     => sk.isEmpty
      // epsilon = 3.5 / maxMapSize; maxMapSize = capacity / 0.75
      // (doc value 0.00341796875 at lg_k=10, docs/README.md:1410).
      case "epsilon"      => 3.5 / (sk.getMaximumMapCapacity * 4 / 3)
      case "get_frequent" =>
        // 'NO_FALSE_NEGATIVES' selects that enum; anything else falls back to
        // NO_FALSE_POSITIVES (reference src/frequent_items_sketch.cpp:326).
        val et =
          if (args(1).asInstanceOf[UTF8String].toString == "NO_FALSE_NEGATIVES")
            ErrorType.NO_FALSE_NEGATIVES
          else ErrorType.NO_FALSE_POSITIVES
        val rows = sk.getFrequentItems(et)
        new GenericArrayData(rows.map { r =>
          InternalRow(UTF8String.fromString(r.getItem), r.getEstimate, r.getLowerBound, r.getUpperBound)
        })
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}
