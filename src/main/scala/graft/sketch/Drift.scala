package graft.sketch

import org.apache.datasketches.quantilescommon.{KolmogorovSmirnov, QuantilesAPI, QuantilesDoublesAPI, QuantilesFloatsAPI}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

import Kit._

/** Two-sample Kolmogorov–Smirnov distance between quantile sketches —
  * the sketch-native distribution-drift probe (beyond-parity surface,
  * SURVEY §7.4: the reference computes KS manually from CDF probes in
  * its tests; datasketches-java ships the closed form over the sketches'
  * sorted views).
  *
  * `datasketch_{kll,quantiles,req}_ks(a, b)` return the KS delta (max
  * CDF distance, in [0,1]); the `_ks_test(a, b, p)` forms return the
  * library's reject/accept decision at target p-value `p`. Lanes: KLL
  * double + float (the two KS overloads the library defines), classic
  * quantiles double, REQ (float-native; delta only — REQ's relative
  * rank error admits no constant-epsilon threshold, so `_ks_test`
  * bind-errors, mirroring the library's own rejection). Either-side-
  * empty → NULL
  * (there is no CDF to compare — the same shape as the families'
  * per-family empty finalize, pinned in DriftTfIdfSpec).
  *
  * Why this is the 100 TB answer: the exact two-sample KS needs a global
  * ECDF (a sort or a two-level prefix scan over ALL rows every time the
  * question is asked), while the sketch form compares two KB-sized
  * mergeable summaries that the pipeline is typically already building —
  * week-over-week drift becomes a scalar probe over stored blobs.
  */
case class KsScalar(family: String, fn: String, elem: ElemType, children: Seq[Expression])
    extends SketchScalar {

  override def prettyName: String =
    s"datasketch_${family}_ks" + (if (fn == "test") "_test" else "")

  override def dataType: DataType = fn match {
    case "delta" => DoubleType
    case "test"  => BooleanType
    case other   => throw new IllegalArgumentException(s"unknown ks fn '$other'")
  }

  /** The library sketch behind a blob's [[QuantWrap]] view: a KS probe
    * and the quantile probes over one blob share one memo entry. */
  private def sketch(a: Any): QuantilesAPI =
    QuantWrap.of(family, elem, a.asInstanceOf[Array[Byte]]).asInstanceOf[QuantWrap.Lib].sketch

  override def compute(args: Array[Any]): Any = {
    val (s1, s2) = (sketch(args(0)), sketch(args(1)))
    // the library's sorted-view accessors throw on an empty sketch
    if (s1.isEmpty || s2.isEmpty) null
    else fn match {
      case "delta" => (s1, s2) match {
        case (a: QuantilesFloatsAPI, b: QuantilesFloatsAPI) => KolmogorovSmirnov.computeKSDelta(a, b)
        case (a: QuantilesDoublesAPI, b: QuantilesDoublesAPI) => KolmogorovSmirnov.computeKSDelta(a, b)
      }
      case "test" =>
        KolmogorovSmirnov.kolmogorovSmirnovTest(s1, s2, args(2).asInstanceOf[Double])
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}
