package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.types._

import graft.sketch._
import graft.sketch.Kit.ElemType

/** Bind-time error, the analog of DuckDB's `BinderException`
  * (reference `src/generated.cpp:56-68`, `src/theta_sketch.cpp:44-45`). */
class GraftBindException(msg: String) extends IllegalArgumentException(msg)

/** Function registration — the Spark analog of the reference's extension
  * entry point (`src/datasketches_extension.cpp:30-41`): installs the
  * reference's 88 SQL names, plus the beyond-parity surface (bloom /
  * tuple-AOD / sampling families, the KS drift probes, and the
  * `graft_*` pipeline expressions), into the session's FunctionRegistry.
  *
  * Bind-time behavior mirrors the reference:
  *  - K / lg_k must be a foldable constant; it is validated against the
  *    family's range and *erased* from the runtime argument list (the
  *    aggregate holds it as a constructor Int), matching
  *    `Function::EraseArgument` (`src/generated.cpp:72` etc.).
  *  - Create-vs-merge overloads on one name resolve by argument type:
  *    a BINARY value child selects the merge/union path (the reference's
  *    `AggregateFunctionSet` alias-type overloads).
  *  - The quantile families' element type resolves from (in order) an
  *    explicit trailing `'long'|'float'|'double'` literal, the child's
  *    column metadata (`sketchElementType`, written by
  *    [[graft.functions.as_sketch]]), a nested sketch-building aggregate,
  *    or defaults to double.
  */
object Registration {

  val ElemTag = "sketchElementType"
  val FamilyTag = "sketchFamily"
  val InputTag = "sketchInputType"

  // ---- bind helpers -------------------------------------------------------

  private def bindErr(msg: String): Nothing = throw new GraftBindException(msg)

  private def foldInt(e: Expression, fname: String): Int = {
    if (!e.foldable) bindErr(s"$fname: the K/lg_k argument must be a constant")
    e.eval(null) match {
      case null      => bindErr(s"$fname: the K/lg_k argument must not be NULL")
      case n: Number => n.intValue()
      case other     => bindErr(s"$fname: the K/lg_k argument must be numeric, got $other")
    }
  }

  private def checkRange(fname: String, k: Int, lo: Int, hi: Int, what: String): Int = {
    if (k < lo || k > hi) bindErr(s"$fname: $what must be between $lo and $hi, got $k")
    k
  }

  private def foldNum(e: Expression, fname: String, what: String): Number = {
    if (!e.foldable) bindErr(s"$fname: the $what argument must be a constant")
    e.eval(null) match {
      case null      => bindErr(s"$fname: the $what argument must not be NULL")
      case n: Number => n
      // SQL fractional literals fold to Spark Decimal (not java.lang.Number)
      case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
      case other     => bindErr(s"$fname: the $what argument must be numeric, got $other")
    }
  }

  private def stringLit(e: Expression): Option[String] = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) => Some(s.toString)
    case _ => None
  }

  private val elemTags = Set("long", "float", "double", "ulong")

  /** Narrow integral SQL type names → Spark output type. The reference's
    * alias types return the INPUT type from element-typed probes
    * (`codegen/generator.py:558-563`: SMALLINT in → SMALLINT out); these
    * tags select the long Java lane and cast element-typed results back. */
  private val narrowTypes: Map[String, DataType] = Map(
    "tinyint" -> ByteType, "smallint" -> ShortType,
    "int" -> IntegerType, "integer" -> IntegerType)

  /** Accepted explicit element-tag literals → (Java lane, narrow cast-back). */
  private val elemTagMap: Map[String, (ElemType, Option[DataType])] =
    Map[String, (ElemType, Option[DataType])](
      "long" -> ((ElemType.Lng, None)), "bigint" -> ((ElemType.Lng, None)),
      "float" -> ((ElemType.Flt, None)), "double" -> ((ElemType.Dbl, None)),
      "ulong" -> ((ElemType.ULng, None)), "ubigint" -> ((ElemType.ULng, None))) ++
      narrowTypes.map { case (t, dt) => t -> ((ElemType.Lng, Some(dt))) }

  /** Strip a trailing explicit element-type tag literal, if present.
    * Returns (remaining args, lane, narrow output type for element-typed
    * probes). */
  private def splitElemTag(args: Seq[Expression])
      : (Seq[Expression], Option[ElemType], Option[DataType]) =
    args.lastOption.flatMap(stringLit).flatMap(elemTagMap.get) match {
      case Some((elem, narrow)) => (args.init, Some(elem), narrow)
      case None                 => (args, None, None)
    }

  /** Recover a sketch column's element type (alias-type dispatch analog):
    * column/alias metadata first (the same walk the family check uses, so
    * the two can never disagree), then a nested sketch-building aggregate,
    * then the default. The metadata tag is filtered to the quantile lanes
    * — sampling reuses the key with its own tag vocabulary ('string'). */
  private def elemOf(e: Expression, default: ElemType): ElemType =
    elemTagOf(e).filter(elemTags.contains).map(ElemType.fromTag).getOrElse {
      def nested(x: Expression): Option[ElemType] = x match {
        case al: Alias => nested(al.child)
        case ae: AggregateExpression =>
          ae.aggregateFunction match {
            case k: KllAgg       => Some(k.elem)
            case q: QuantilesAgg => Some(q.elem)
            case _               => None
          }
        case _ => None
      }
      nested(e).getOrElse(default)
    }

  /** Bind-time family validation for sketch-BLOB arguments: when the
    * column carries `sketchFamily` metadata (written by
    * [[SketchMetadataRule]] or [[graft.functions.as_sketch]] and
    * round-tripped through parquet footers), a cross-family probe fails AT
    * BIND, like the reference's alias-type overload resolution — not at
    * runtime on the first row. Untagged BLOBs fall through to the runtime
    * preamble sniff in [[graft.sketch.Kit.deser]]. */
  private def familyTagOf(e: Expression): Option[String] = e match {
    case a: AttributeReference if a.metadata.contains(FamilyTag) =>
      Some(a.metadata.getString(FamilyTag))
    case al: Alias =>
      if (al.metadata.contains(FamilyTag)) Some(al.metadata.getString(FamilyTag))
      else familyTagOf(al.child)
    case _ => None
  }

  private def elemTagOf(e: Expression): Option[String] = e match {
    case a: AttributeReference if a.metadata.contains(ElemTag) =>
      Some(a.metadata.getString(ElemTag))
    case al: Alias =>
      if (al.metadata.contains(ElemTag)) Some(al.metadata.getString(ElemTag))
      else elemTagOf(al.child)
    case _ => None
  }

  private[graft] def inputTypeTagOf(e: Expression): Option[String] = e match {
    case a: AttributeReference if a.metadata.contains(InputTag) =>
      Some(a.metadata.getString(InputTag))
    case al: Alias =>
      if (al.metadata.contains(InputTag)) Some(al.metadata.getString(InputTag))
      else inputTypeTagOf(al.child)
    case _ => None
  }

  /** Tag value a long-lane create aggregate records for a narrow integral
    * input column; merge aggregates propagate the stored column's tag. */
  private[graft] def inputTagFor(child: Expression): Option[String] =
    child.dataType match {
      case ByteType    => Some("tinyint")
      case ShortType   => Some("smallint")
      case IntegerType => Some("int")
      case BinaryType  => inputTypeTagOf(child)
      case _           => None
    }

  /** Narrow output type of an element-typed probe over `e`: stored-column
    * metadata first (same walk as the family/elem checks), then a nested
    * long-lane create aggregate's raw input type. */
  private def narrowOf(e: Expression): Option[DataType] =
    inputTypeTagOf(e).flatMap(narrowTypes.get).orElse {
      def nested(x: Expression): Option[DataType] = x match {
        case al: Alias => nested(al.child)
        case ae: AggregateExpression =>
          ae.aggregateFunction match {
            case k: KllAgg if k.elem == ElemType.Lng =>
              k.child.dataType match {
                case dt @ (ByteType | ShortType | IntegerType) => Some(dt)
                case _ => None
              }
            case q: QuantilesAgg if q.elem == ElemType.Lng =>
              q.child.dataType match {
                case dt @ (ByteType | ShortType | IntegerType) => Some(dt)
                case _ => None
              }
            case _ => None
          }
        case _ => None
      }
      nested(e)
    }

  private def checkFamilyTag(fname: String, expected: String, e: Expression): Unit =
    if (e.dataType == BinaryType)
      familyTagOf(e).filter(_ != expected).foreach { actual =>
        bindErr(s"$fname: the input column is tagged as a $actual sketch, not " +
          s"a $expected sketch — probe it with the datasketch_${actual}_* functions")
      }

  /** Element type for the create path, from the raw input's Spark type. */
  private def elemOfInput(fname: String, dt: DataType): ElemType =
    ElemType.ofInput(dt).getOrElse(
      bindErr(s"$fname: unsupported input type ${dt.simpleString} (numeric required)"))

  private def arity(fname: String, args: Seq[Expression], lo: Int, hi: Int): Unit =
    if (args.length < lo || args.length > hi)
      bindErr(s"$fname: expected between $lo and $hi arguments, got ${args.length}")

  private def dbl(e: Expression): Expression = Cast(e, DoubleType)
  private def int(e: Expression): Expression = Cast(e, IntegerType)
  private def bool(e: Expression): Expression = Cast(e, BooleanType)
  private def dblArr(e: Expression): Expression = Cast(e, ArrayType(DoubleType))

  // ---- aggregate builders -------------------------------------------------

  type B = Seq[Expression] => Expression

  private def quantAggBuilder(family: String): (String, B) = {
    val fname = s"datasketch_$family"
    val (lo, hi, what) = family match {
      case "req"     => (4, 1024, "K")
      case "tdigest" => (1, 32767, "compression")
      case _         => (1, 32768, "K")
    }
    fname -> { rawArgs: Seq[Expression] =>
      val (args, tag, _) = splitElemTag(rawArgs)
      arity(fname, args, 2, 2)
      val k = checkRange(fname, foldInt(args.head, fname), lo, hi, what)
      if (family == "req" && k % 2 != 0) bindErr(s"$fname: K must be even, got $k")
      val child = args(1)
      val isMerge = child.dataType == BinaryType
      if (isMerge) checkFamilyTag(fname, family, child)
      val elem =
        if (isMerge) tag.getOrElse(elemOf(child, ElemType.Dbl))
        else elemOfInput(fname, child.dataType)
      // REQ is float-native, TDigest double-native here: a DECIMAL(20,0)
      // ubigint input widens at bind time (same documented precision
      // caveat as the other non-float numerics, SURVEY §7.3 item 2)
      def widened(to: DataType): Expression =
        if (!isMerge && child.dataType.isInstanceOf[DecimalType]) Cast(child, to) else child
      family match {
        case "quantiles" => QuantilesAgg(k, child, elem)
        case "kll"     => KllAgg(k, child, elem)
        case "req"     => ReqAgg(k, widened(FloatType))
        case "tdigest" => TDigestAgg(k, widened(DoubleType))
      }
    }
  }

  private def countAggBuilder(family: String, union: Boolean): (String, B) = {
    val fname = if (union) s"datasketch_${family}_union" else s"datasketch_$family"
    val hi = if (family == "hll") 21 else 26
    fname -> { args: Seq[Expression] =>
      arity(fname, args, 2, 2)
      val lgK = checkRange(fname, foldInt(args.head, fname), 4, hi, "lg_k")
      val child = args(1)
      if (union) checkFamilyTag(fname, family, child)
      if (union && child.dataType != BinaryType) bindErr(s"$fname: input must be a sketch BLOB")
      if (!union && child.dataType == BinaryType)
        bindErr(s"$fname: sketch input requires datasketch_${family}_union")
      if (family == "hll") HllBuildAgg(lgK, child, isMerge = union)
      else CpcBuildAgg(lgK, child, isMerge = union)
    }
  }

  private val thetaAggBuilder: (String, B) = "datasketch_theta" -> { args: Seq[Expression] =>
    arity("datasketch_theta", args, 1, 2)
    // Optional leading lg_k (reference default 12, src/theta_sketch.cpp:59).
    // Floor 5, not the HLL/CPC 4: the reference's theta binder forwards
    // lg_k unvalidated (src/theta_sketch.cpp:51-53) and the C++ library
    // rejects < theta_constants::MIN_LG_K = 5 at sketch creation, so a
    // reference user gets an error at lg_k=4; datasketches-java would
    // silently accept 4 — surfacing the reference's floor at bind time
    // keeps the error contract (probed by q57's theta_lgk_floor row).
    val (lgK, child) =
      if (args.length == 2)
        (checkRange("datasketch_theta", foldInt(args.head, "datasketch_theta"), 5, 26, "lg_k"), args(1))
      else (12, args.head)
    if (child.dataType == BinaryType) checkFamilyTag("datasketch_theta", "theta", child)
    ThetaAgg(lgK, child)
  }

  private val freqAggBuilder: (String, B) = "datasketch_frequent_items" -> { args: Seq[Expression] =>
    arity("datasketch_frequent_items", args, 1, 2)
    // Optional leading lg_k (reference default 10, src/frequent_items_sketch.cpp:25).
    val (lgK, child) =
      if (args.length == 2)
        (checkRange("datasketch_frequent_items", foldInt(args.head, "datasketch_frequent_items"), 2, 26, "lg_max_map_size"), args(1))
      else (10, args.head)
    if (child.dataType == BinaryType)
      checkFamilyTag("datasketch_frequent_items", "frequent_items", child)
    FreqItemsAgg(lgK, child)
  }

  // ---- scalar builders ----------------------------------------------------

  /** Element-typed probes return the element type; for a long-lane sketch
    * built over a narrow integral column the reference returns the NARROW
    * input type (`codegen/generator.py:558-563`), recovered here from an
    * explicit tag, the stored column's `sketchInputType` metadata, or a
    * nested create aggregate's input — then cast back at bind time. */
  private val elemTypedFns = Set("quantile", "min_item", "max_item")

  private def quantScalarBuilders(family: String): Seq[(String, B)] = {
    val isTd = family == "tdigest"
    def b(fn: String)(f: (Seq[Expression], ElemType) => Seq[Expression], lo: Int, hi: Int): (String, B) = {
      val fname = s"datasketch_${family}_$fn"
      fname -> { rawArgs: Seq[Expression] =>
        val (args0, tag, tagNarrow) = splitElemTag(rawArgs)
        arity(fname, args0, lo, hi)
        checkFamilyTag(fname, family, args0.head)
        val elem0 = tag.getOrElse(elemOf(args0.head, ElemType.Dbl))
        // REQ is float-native, TDigest double-native — normalize so the
        // wrapper picks the right Java deserializer.
        val elem = family match {
          case "req"     => ElemType.Flt
          case "tdigest" => ElemType.Dbl
          case _         => elem0
        }
        val scalar = QuantScalar(family, fn, elem, f(args0, elem))
        // An explicit tag wins outright: 'long'/'bigint' must SUPPRESS a
        // stored column's narrow metadata (tagNarrow=None then, and no
        // metadata fallback), exactly as explicit tags override metadata
        // in the lane dispatch above.
        val narrow =
          if (elem == ElemType.Lng && elemTypedFns.contains(fn))
            (if (tag.isDefined) tagNarrow else narrowOf(args0.head))
          else None
        narrow.fold(scalar: Expression)(Cast(scalar, _))
      }
    }
    def inclTail(args: Seq[Expression], from: Int): Seq[Expression] =
      if (isTd) Seq.empty
      else if (args.length > from) Seq(bool(args(from)))
      else Seq(Literal(true))

    val probeArity = if (isTd) 2 else 3
    val common = Seq(
      b("quantile")((a, _) => Seq(a(0), dbl(a(1))) ++ inclTail(a, 2), 2, probeArity),
      b("rank")((a, _) => Seq(a(0), dbl(a(1))) ++ inclTail(a, 2), 2, probeArity),
      b("cdf")((a, _) => Seq(a(0), dblArr(a(1))) ++ inclTail(a, 2), 2, probeArity),
      b("pmf")((a, _) => Seq(a(0), dblArr(a(1))) ++ inclTail(a, 2), 2, probeArity),
      b("k")((a, _) => a, 1, 1),
      b("is_empty")((a, _) => a, 1, 1),
      b("describe")((a, _) => a.head +: a.tail.map(bool), 1, if (isTd) 2 else 3))
    val nonTd =
      if (isTd) Seq.empty
      else Seq(
        b("n")((a, _) => a, 1, 1),
        b("is_estimation_mode")((a, _) => a, 1, 1),
        b("num_retained")((a, _) => a, 1, 1),
        b("min_item")((a, _) => a, 1, 1),
        b("max_item")((a, _) => a, 1, 1))
    val nre =
      if (family == "quantiles" || family == "kll")
        Seq(b("normalized_rank_error")((a, _) => Seq(a(0), bool(a(1))), 2, 2))
      else Seq.empty
    val tw = if (isTd) Seq(b("total_weight")((a, _) => a, 1, 1)) else Seq.empty
    common ++ nonTd ++ nre ++ tw
  }

  /** Two-sample Kolmogorov–Smirnov probes over quantile-family blobs
    * (beyond-parity, SURVEY §7.4): `datasketch_{kll,quantiles}_ks(a, b)`
    * → delta, `_ks_test(a, b, p)` → reject/accept. Lane dispatch follows
    * the quantile-scalar rules (explicit tag wins, else metadata, else
    * double); the lanes without a library KS overload bind-error with
    * the fix spelled out. */
  private def ksBuilders: Seq[(String, B)] = {
    def b(family: String, fn: String): (String, B) = {
      val fname = s"datasketch_${family}_ks" + (if (fn == "test") "_test" else "")
      fname -> { rawArgs: Seq[Expression] =>
        val (args0, tag, _) = splitElemTag(rawArgs)
        val lohi = if (fn == "test") 3 else 2
        arity(fname, args0, lohi, lohi)
        checkFamilyTag(fname, family, args0.head)
        checkFamilyTag(fname, family, args0(1))
        val elem0 = tag.getOrElse(elemOf(args0.head, ElemType.Dbl))
        val elem = if (family == "req") ElemType.Flt else elem0 // REQ is float-native
        if (family == "quantiles" && elem != ElemType.Dbl)
          bindErr(s"$fname: KS is defined for the double lane of the classic quantiles " +
            s"sketch; got '${elem.tag}' — build the sketches over DOUBLE values")
        if (family == "kll" && (elem == ElemType.Lng || elem == ElemType.ULng))
          bindErr(s"$fname: KS is defined for the double and float KLL lanes; " +
            "build the sketches over DOUBLE (cast integer inputs) to compare them")
        if (family == "req" && fn == "test")
          bindErr(s"$fname: REQ's rank error is relative (rank-adaptive), so there " +
            "is no constant-epsilon KS threshold — use datasketch_req_ks for the " +
            "raw delta, or build KLL sketches for the thresholded test")
        val tail = if (fn == "test") Seq(dbl(args0(2))) else Seq.empty
        KsScalar(family, fn, elem, Seq(args0.head, args0(1)) ++ tail)
      }
    }
    Seq(b("kll", "delta"), b("kll", "test"),
      b("quantiles", "delta"), b("quantiles", "test"),
      b("req", "delta"), b("req", "test")) // req test binds to the explanatory error
  }

  private def countScalarBuilders(family: String): Seq[(String, B)] = {
    def b(fn: String)(f: Seq[Expression] => Seq[Expression], lo: Int, hi: Int): (String, B) = {
      val fname = s"datasketch_${family}_$fn"
      fname -> { args: Seq[Expression] =>
        arity(fname, args, lo, hi)
        checkFamilyTag(fname, family, args.head)
        CountScalar(family, fn, f(args))
      }
    }
    val common = Seq(
      b("estimate")(identity, 1, 1),
      b("lower_bound")(a => Seq(a(0), int(a(1))), 2, 2),
      b("upper_bound")(a => Seq(a(0), int(a(1))), 2, 2),
      b("is_empty")(identity, 1, 1))
    if (family == "hll")
      common ++ Seq(
        b("describe")(a => a.head +: a.tail.map(bool), 1, 3),
        b("lg_config_k")(identity, 1, 1),
        b("is_compact")(identity, 1, 1))
    else
      common :+ b("describe")(identity, 1, 1)
  }

  private val thetaScalarBuilders: Seq[(String, B)] = {
    def b(fn: String)(f: Seq[Expression] => Seq[Expression], lo: Int, hi: Int): (String, B) = {
      val fname = s"datasketch_theta_$fn"
      fname -> { args: Seq[Expression] =>
        arity(fname, args, lo, hi)
        args.foreach(checkFamilyTag(fname, "theta", _))
        ThetaScalar(fn, f(args))
      }
    }
    Seq(
      "datasketch_theta_jaccard" -> { (args: Seq[Expression]) =>
        arity("datasketch_theta_jaccard", args, 2, 2)
        args.foreach(checkFamilyTag("datasketch_theta_jaccard", "theta", _))
        ThetaJaccard(args)
      },
      b("union")(identity, 2, 2),
      b("intersect")(identity, 2, 2),
      b("a_not_b")(identity, 2, 2),
      b("estimate")(identity, 1, 1),
      b("lower_bound")(a => Seq(a(0), int(a(1))), 2, 2),
      b("upper_bound")(a => Seq(a(0), int(a(1))), 2, 2),
      b("describe")(identity, 1, 1),
      b("is_empty")(identity, 1, 1),
      b("is_estimation_mode")(identity, 1, 1),
      b("get_theta")(identity, 1, 1),
      b("num_retained")(identity, 1, 1),
      b("get_seed")(identity, 1, 1))
  }

  private val freqScalarBuilders: Seq[(String, B)] = {
    def b(fn: String)(f: Seq[Expression] => Seq[Expression], lo: Int, hi: Int): (String, B) = {
      val fname = s"datasketch_frequent_items_$fn"
      fname -> { args: Seq[Expression] =>
        arity(fname, args, lo, hi)
        checkFamilyTag(fname, "frequent_items", args.head)
        FreqScalar(fn, f(args))
      }
    }
    Seq(
      b("estimate")(identity, 2, 2),
      b("lower_bound")(identity, 2, 2),
      b("upper_bound")(identity, 2, 2),
      b("get_frequent")(a => if (a.length == 1) a :+ Literal("NO_FALSE_POSITIVES") else a, 1, 2),
      b("epsilon")(identity, 1, 1),
      b("total_weight")(identity, 1, 1),
      b("is_empty")(identity, 1, 1),
      b("num_active")(identity, 1, 1))
  }

  /** Bloom-filter family (beyond-reference; join pruning — see
    * [[graft.sketch.Bloom]]). Parameters fold + erase at bind time like
    * every reference family's K. */
  private val bloomBuilders: Seq[(String, B)] = {
    val build: (String, B) = "datasketch_bloom" -> { args: Seq[Expression] =>
      arity("datasketch_bloom", args, 3, 3)
      val maxDistinct = foldNum(args(0), "datasketch_bloom", "max_distinct").longValue()
      if (maxDistinct < 1 || maxDistinct > (1L << 40))
        bindErr(s"datasketch_bloom: max_distinct must be between 1 and 2^40, got $maxDistinct")
      val fpp = foldNum(args(1), "datasketch_bloom", "fpp").doubleValue()
      if (!(fpp > 0.0 && fpp < 1.0))
        bindErr(s"datasketch_bloom: fpp must be in (0, 1), got $fpp")
      BloomBuildAgg(maxDistinct, fpp, args(2))
    }
    val union: (String, B) = "datasketch_bloom_union" -> { args: Seq[Expression] =>
      arity("datasketch_bloom_union", args, 1, 1)
      if (args.head.dataType != BinaryType)
        bindErr("datasketch_bloom_union: input must be a bloom filter BLOB")
      checkFamilyTag("datasketch_bloom_union", "bloom", args.head)
      BloomUnionAgg(args.head)
    }
    val mightContain: (String, B) = "datasketch_bloom_might_contain" -> { args: Seq[Expression] =>
      arity("datasketch_bloom_might_contain", args, 2, 2)
      checkFamilyTag("datasketch_bloom_might_contain", "bloom", args.head)
      BloomMightContain(args(0), args(1))
    }
    val meta = Seq("is_empty", "bits_used", "capacity", "num_hashes",
      "fill_percentage", "describe").map { fn =>
      val fname = s"datasketch_bloom_$fn"
      fname -> { (args: Seq[Expression]) =>
        arity(fname, args, 1, 1)
        checkFamilyTag(fname, "bloom", args.head)
        BloomScalar(fn, args): Expression
      }
    }
    Seq(build, union, mightContain) ++ meta
  }

  /** Tuple (ArrayOfDoubles) family (beyond-reference; distinct keys with
    * summed value vectors — see [[graft.sketch.TupleAod]]). */
  private val tupleBuilders: Seq[(String, B)] = {
    val build: (String, B) = "datasketch_aod" -> { args: Seq[Expression] =>
      if (args.length < 4)
        bindErr("datasketch_aod: expected (lg_k, num_values, key, v1, ...)")
      val lgK = checkRange("datasketch_aod", foldInt(args(0), "datasketch_aod"), 4, 26, "lg_k")
      val n = foldInt(args(1), "datasketch_aod")
      if (n < 1 || n > 1024)
        bindErr(s"datasketch_aod: num_values must be between 1 and 1024, got $n")
      if (args.length != n + 3)
        bindErr(s"datasketch_aod: expected $n value columns, got ${args.length - 3}")
      AodBuildAgg(lgK, n, args(2) +: args.drop(3).map(dbl))
    }
    val union: (String, B) = "datasketch_aod_union" -> { args: Seq[Expression] =>
      arity("datasketch_aod_union", args, 2, 2)
      val lgK = checkRange("datasketch_aod_union", foldInt(args(0), "datasketch_aod_union"), 4, 26, "lg_k")
      if (args(1).dataType != BinaryType)
        bindErr("datasketch_aod_union: input must be a tuple sketch BLOB")
      checkFamilyTag("datasketch_aod_union", "aod", args(1))
      AodUnionAgg(lgK, args(1))
    }
    val scalars = Seq(
      ("estimate", 1, 1), ("theta", 1, 1), ("is_empty", 1, 1),
      ("is_estimation_mode", 1, 1), ("num_retained", 1, 1), ("num_values", 1, 1),
      ("sum_estimate", 1, 1), ("describe", 1, 1),
      ("lower_bound", 2, 2), ("upper_bound", 2, 2),
      ("intersect", 2, 2), ("a_not_b", 2, 2)).map { case (fn, lo, hi) =>
      val fname = s"datasketch_aod_$fn"
      val blobOut = fn == "intersect" || fn == "a_not_b"
      fname -> { (args: Seq[Expression]) =>
        arity(fname, args, lo, hi)
        checkFamilyTag(fname, "aod", args.head)
        if (blobOut) checkFamilyTag(fname, "aod", args(1))
        val fixed =
          if (fn == "lower_bound" || fn == "upper_bound") Seq(args(0), int(args(1)))
          else args
        TupleScalar(fn, fixed): Expression
      }
    }
    Seq(build, union) ++ scalars
  }

  /** Sampling family (beyond-reference; uniform + weighted one-pass
    * samples — see [[graft.sketch.Sampling]]). Element lane resolves from
    * a trailing tag literal ('long'|'double'|'string') or the raw input's
    * type; merge path selected by BLOB input like the quantile families. */
  private val samplingBuilders: Seq[(String, B)] = {
    import graft.sketch.Sampling.SElem
    val sElemTags = Set("long", "double", "string")
    def splitTag(args: Seq[Expression]): (Seq[Expression], Option[SElem]) =
      args.lastOption.flatMap(stringLit).filter(sElemTags.contains) match {
        case Some(t) => (args.init, Some(SElem.fromTag(t)))
        case None    => (args, None)
      }
    // Lane resolution for BLOB inputs: explicit trailing tag literal, then
    // the stored column's sketchElementType metadata, then double.
    def lane(fname: String, child: Expression, tag: Option[SElem]): SElem =
      if (child.dataType == BinaryType)
        tag.orElse(elemTagOf(child).filter(sElemTags.contains).map(SElem.fromTag))
          .getOrElse(SElem.Dbl)
      else SElem.ofInput(child.dataType).getOrElse(
        bindErr(s"$fname: unsupported input type ${child.dataType.simpleString}" +
          " (numeric or string required)"))

    val reservoir: (String, B) = "datasketch_reservoir" -> { rawArgs: Seq[Expression] =>
      val (args, tag) = splitTag(rawArgs)
      arity("datasketch_reservoir", args, 2, 2)
      val k = checkRange("datasketch_reservoir",
        foldInt(args.head, "datasketch_reservoir"), 1, 1 << 28, "K")
      if (args(1).dataType == BinaryType)
        checkFamilyTag("datasketch_reservoir", "reservoir", args(1))
      ReservoirAgg(k, args(1), lane("datasketch_reservoir", args(1), tag))
    }
    val varopt: (String, B) = "datasketch_varopt" -> { rawArgs: Seq[Expression] =>
      val (args, tag) = splitTag(rawArgs)
      arity("datasketch_varopt", args, 2, 3)
      val k = checkRange("datasketch_varopt",
        foldInt(args.head, "datasketch_varopt"), 1, 1 << 28, "K")
      val isMerge = args(1).dataType == BinaryType
      if (isMerge) checkFamilyTag("datasketch_varopt", "varopt", args(1))
      if (!isMerge && args.length < 3)
        bindErr("datasketch_varopt: raw input requires a weight argument")
      val kids = if (isMerge) Seq(args(1)) else Seq(args(1), Cast(args(2), DoubleType))
      VarOptAgg(k, kids, lane("datasketch_varopt", args(1), tag))
    }
    val scalars = for {
      family <- Seq("reservoir", "varopt")
      fn <- Seq("samples", "n", "k", "num_samples")
    } yield {
      val fname = s"datasketch_${family}_$fn"
      fname -> { (rawArgs: Seq[Expression]) =>
        val (args, tag) = splitTag(rawArgs)
        arity(fname, args, 1, 1)
        checkFamilyTag(fname, family, args.head)
        val el = tag.orElse(elemTagOf(args.head).filter(sElemTags.contains).map(SElem.fromTag))
          .getOrElse(SElem.Dbl)
        SamplingScalar(family, fn, el, args): Expression
      }
    }
    Seq(reservoir, varopt) ++ scalars
  }

  /** Pipeline-operator scalars exposed under SQL names (beyond-reference;
    * Column-API implementations wrapped through the shim). */
  private val pipelineBuilders: Seq[(String, B)] = {
    import org.apache.spark.sql.GraftShims.{column, toExpression}
    def wrap1(name: String, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): (String, B) =
      name -> { (args: Seq[Expression]) =>
        arity(name, args, 1, 1)
        toExpression(f(column(args.head)))
      }
    // a native kernel: every Int argument (k, numHashes, planes) is a
    // constant folded at bind and must lie in [1, maxInt]
    def kernel(name: String, k: graft.operators.Kernel, maxInt: Int = Int.MaxValue): (String, B) =
      name -> { (args: Seq[Expression]) =>
        arity(name, args, k.inputTypes.size, k.inputTypes.size)
        k.call(args.zip(k.inputTypes).map {
          case (a, IntegerType) =>
            val n = foldInt(a, name)
            if (n < 1 || n > maxInt) bindErr(s"$name: the constant argument must be " +
              (if (maxInt == Int.MaxValue) ">= 1" else s"between 1 and $maxInt") + s", got $n")
            Literal(n)
          case (a, _) => a
        }: _*)
      }
    import graft.operators.Kernel
    Seq(
      kernel("graft_simhash64", Kernel.simhash64),
      kernel("graft_token_stats", Kernel.tokenStats),
      kernel("graft_shingle_set", Kernel.shingleSet),
      kernel("graft_word_chunks", Kernel.wordChunks),
      kernel("graft_word_windows", Kernel.wordWindows),
      kernel("graft_term_runs", Kernel.termRuns),
      kernel("graft_gram_hashes", Kernel.gramHashes),
      kernel("graft_minhash_sig", Kernel.minhashSig),
      // int8 quantization primitives — SQL face of operators.Quantize's
      // packed lane (CTAS a quantized index, re-rank with byte dots)
      kernel("graft_int8_pack", Kernel.int8Pack),
      kernel("graft_int8_dot", Kernel.int8Dot),
      // sign-bit LSH bucket signature — the SQL face of the ANN/near-dup
      // bucketing primitive, so SQL-only users can bucket/partition a
      // corpus (e.g. GROUP BY graft_lsh_signature(embedding, 12)) with
      // signatures identical to the Scala operators'; planes are sign
      // bits packed into one long
      kernel("graft_lsh_signature", Kernel.lshSignature, maxInt = 63),

      wrap1("graft_token_count", graft.operators.TextOps.tokenCount),
      wrap1("graft_subword_count", graft.operators.TextOps.subwordCount),
      wrap1("graft_stopword_ratio", graft.operators.TextOps.stopwordRatio),
      wrap1("graft_quality_score", graft.operators.TextOps.qualityScore),
      wrap1("graft_lang_id", graft.operators.TextOps.langId),
      wrap1("graft_fingerprint", graft.operators.TextOps.fingerprint),
      wrap1("graft_rolling_hash", graft.operators.TextOps.rollingHash),
      // Morton (z-order) key over 2-4 quantized BIGINT dims — the
      // multi-dimensional clustered-layout sort key
      "graft_zorder" -> { (args: Seq[Expression]) =>
        arity("graft_zorder", args, 3, 1 + graft.operators.ZOrder.MaxDims)
        val bits = foldInt(args.head, "graft_zorder")
        graft.operators.ZOrderKey(args.tail.map(Cast(_, LongType)), bits)
      },
      // bounded top-k-per-group aggregate (heap buffer, map-side combine)
      // — the scalable replacement for `row_number() OVER (...) <= k`
      "graft_topk_by" -> { (args: Seq[Expression]) =>
        arity("graft_topk_by", args, 3, 3)
        val k = foldInt(args.head, "graft_topk_by")
        if (k < 1) bindErr(s"graft_topk_by: k must be >= 1, got $k")
        graft.operators.TopKByAgg(k,
          Cast(args(1), DoubleType), Cast(args(2), LongType))
      },
      "graft_hamming64" -> { (args: Seq[Expression]) =>
        arity("graft_hamming64", args, 2, 2)
        toExpression(graft.operators.DedupOps.hamming(column(args(0)), column(args(1))))
      },
      "graft_cosine" -> { (args: Seq[Expression]) =>
        arity("graft_cosine", args, 2, 2)
        toExpression(graft.operators.SimilarityOps.cosine(column(args(0)), column(args(1))))
      },
      // The reference's 36 named sketch alias types, as a reinterpret
      // cast ([[graft.plans.SketchCastRewrite]] turns `CAST(b AS
      // sketch_kll_double)` / `b::sketch_kll_float` into this call):
      // bytes pass through untouched; the result is an Alias carrying
      // the family/lane/narrow metadata every probe builder already
      // dispatches on — exactly what `as_sketch` writes from the
      // DataFrame API, now reachable from verbatim reference SQL.
      "graft_sketch_cast" -> { (args: Seq[Expression]) =>
        arity("graft_sketch_cast", args, 2, 2)
        val typeName = args(1) match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
            s.toString.toLowerCase(java.util.Locale.ROOT)
          case _ => bindErr("graft_sketch_cast: the type name must be a string literal")
        }
        val (family, lane, narrow) =
          graft.plans.SketchCastRewrite.aliasTypes.getOrElse(typeName,
            bindErr(s"graft_sketch_cast: unknown sketch type '$typeName' — " +
              "valid names are sketch_{quantiles,kll,req}_<element>, " +
              "sketch_tdigest_{float,double}, sketch_hll, sketch_cpc, " +
              "sketch_theta, sketch_frequent_items"))
        val child = args.head.dataType match {
          case BinaryType => args.head
          // VARCHAR blobs cast like the reference's implicit VARCHAR→BLOB
          case StringType | NullType => Cast(args.head, BinaryType)
          case dt => bindErr(s"CAST to $typeName: only BLOB input can be " +
            s"reinterpreted as a sketch type, got ${dt.simpleString}")
        }
        // metadata-carrying Alias: familyTagOf/elemTagOf/inputTypeTagOf
        // walk straight through it; CleanupAliases strips it after
        // binding has consumed the tags, leaving the bytes pass-through
        Alias(child, typeName)(
          explicitMetadata = Some(Kit.sketchMetadataTags(family, lane, narrow)))
      })
  }

  /** All (name, builder) pairs: the reference's 88 + beyond-parity names. */
  lazy val all: Seq[(String, B)] =
    Seq("quantiles", "kll", "req", "tdigest").map(quantAggBuilder) ++
      Seq(
        countAggBuilder("hll", union = false), countAggBuilder("hll", union = true),
        countAggBuilder("cpc", union = false), countAggBuilder("cpc", union = true),
        thetaAggBuilder, freqAggBuilder) ++
      Seq("quantiles", "kll", "req", "tdigest").flatMap(quantScalarBuilders) ++
      countScalarBuilders("hll") ++ countScalarBuilders("cpc") ++
      ksBuilders ++
      thetaScalarBuilders ++ freqScalarBuilders ++ bloomBuilders ++
      tupleBuilders ++ samplingBuilders ++ pipelineBuilders

  /** Install every function into a session's registry. Idempotent. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** Resolution rule: stamp `sketchFamily` / `sketchElementType` metadata
  * onto every Alias whose child is a sketch-producing aggregate (or a
  * blob-returning theta/aod set-op scalar), including the windowed form.
  * Spark persists StructField metadata in parquet footers, so
  * `CREATE TABLE ... AS SELECT datasketch_kll(...) AS sk` keeps the tag
  * and a later probe of the stored column binds the right family AND
  * element lane with no explicit `'long'`-style literal — the Spark
  * analog of the reference's 36 named alias types carrying this
  * statically (`codegen/generated.cpp.j2:205-224`). Injected by
  * [[GraftExtensions]]; sessions that only call `Registration.register`
  * fall back to explicit tags / [[graft.functions.as_sketch]]. */
object SketchMetadataRule
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical._

  private def metadataFor(e: Expression): Option[Metadata] = e match {
    case ae: AggregateExpression =>
      ae.aggregateFunction match {
        case k: KllAgg        => Some(Kit.sketchMetadata("kll", Some(k.elem),
          Registration.inputTagFor(k.child)))
        case q: QuantilesAgg  => Some(Kit.sketchMetadata("quantiles", Some(q.elem),
          Registration.inputTagFor(q.child)))
        case _: ReqAgg        => Some(Kit.sketchMetadataTags("req", None))
        case _: TDigestAgg    => Some(Kit.sketchMetadataTags("tdigest", None))
        case _: HllBuildAgg   => Some(Kit.sketchMetadataTags("hll", None))
        case _: CpcBuildAgg   => Some(Kit.sketchMetadataTags("cpc", None))
        case _: ThetaAgg      => Some(Kit.sketchMetadataTags("theta", None))
        case _: FreqItemsAgg  => Some(Kit.sketchMetadataTags("frequent_items", None))
        case _: AodBuildAgg | _: AodUnionAgg => Some(Kit.sketchMetadataTags("aod", None))
        case _: BloomBuildAgg | _: BloomUnionAgg => Some(Kit.sketchMetadataTags("bloom", None))
        case r: ReservoirAgg  => Some(Kit.sketchMetadataTags("reservoir", Some(r.elem.tag)))
        case v: VarOptAgg     => Some(Kit.sketchMetadataTags("varopt", Some(v.elem.tag)))
        case _                => None
      }
    case w: WindowExpression => metadataFor(w.windowFunction)
    case t: ThetaScalar if t.fn == "union" || t.fn == "intersect" || t.fn == "a_not_b" =>
      Some(Kit.sketchMetadataTags("theta", None))
    case t: TupleScalar if t.fn == "intersect" || t.fn == "a_not_b" =>
      Some(Kit.sketchMetadataTags("aod", None))
    case _ => None
  }

  private def retag(ne: NamedExpression): NamedExpression = ne match {
    case a: Alias if a.explicitMetadata.isEmpty && a.resolved =>
      metadataFor(a.child) match {
        case Some(md) =>
          Alias(a.child, a.name)(a.exprId, a.qualifier, Some(md), a.nonInheritableMetadataKeys)
        case None => a
      }
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case p: Project   => p.copy(projectList = p.projectList.map(retag))
    case a: Aggregate => a.copy(aggregateExpressions = a.aggregateExpressions.map(retag))
    case w: Window    => w.copy(windowExpressions = w.windowExpressions.map(retag))
  }
}

/** `SparkSessionExtensions` injector:
  * `spark.sql.extensions=graft.GraftExtensions` loads every function (and
  * the sketch-metadata stamping rule) at session build, the analog of the
  * reference's extension LOAD. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Registration.all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.Registration", name),
        builder))
    }
    ext.injectResolutionRule(_ => SketchMetadataRule)
    // SQL-surface bridge for the reference's named sketch alias types:
    // `CAST(b AS sketch_kll_double)` / `b::sketch_kll_float` rewrite to
    // graft_sketch_cast before Spark's parser sees the text
    ext.injectParser((_, delegate) => new graft.plans.SketchCastParser(delegate))
  }
}
