package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims.{column, toExpression}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native fused NB-document scorer: the whole
  * `explode(wordFeatures) → md5 bucket → broadcast-join lr table →
  * groupBy(doc) integer sum` plan collapsed to ONE per-row expression.
  *
  * Bit-identical to the composed formulation (parity-pinned in the
  * spec: same normalization (trim → `\s+`→' ' → UTF8String lowercase),
  * same uni+bigram features, same md5-prefix bucket, same µ-quantized
  * integer sum) — but the composed plan materialized ~2·tokens rows per
  * document through explode, probed a broadcast HashedRelation per
  * feature, and paid a hash aggregate to reassemble per-doc sums. At
  * scoring scale that row machinery dominated the actual work (the
  * q119 sf0.1 watch: 1.5 s for ~5M feature rows); here the model is a
  * `buckets`-sized long array riding into generated code via
  * `addReferenceObj`, the lookup is an array index, and the scoring
  * pass has ZERO exchanges. Generates a static call so whole-stage
  * codegen spans stay unbroken. */
case class NbDocScore(child: Expression, model: TextOps.NbModel)
    extends UnaryExpression {

  override def prettyName: String = "nb_doc_score"
  override def dataType: DataType = NbDocScore.outType

  @transient private lazy val compiled = NbDocScore.compile(model)

  override protected def nullSafeEval(input: Any): Any =
    GraftRuntime.nbDocScore(input.asInstanceOf[UTF8String], compiled)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nbModel", NbDocScore.compile(model),
      classOf[NbDocScore.Compiled].getName)
    defineCodeGen(ctx, ev, a => s"graft.operators.GraftRuntime.nbDocScore($a, $ref)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object NbDocScore {

  val outType: StructType = StructType(Seq(
    StructField("n_feat", LongType, nullable = false),
    StructField("nb_score_u", LongType, nullable = false)))

  /** Dense lookup form: lrU as a `buckets`-long array pre-filled with
    * the unseen-bucket default — the 4096-entry broadcast join becomes
    * an array index. */
  final class Compiled(val buckets: Int, val priorU: Long,
                       val table: Array[Long]) extends Serializable {
    @transient private lazy val md5 = new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

    /** featBucket's definition in digest bytes: the first 8 md5 hex
      * digits are the first 4 digest bytes as an unsigned 32-bit value. */
    private def bucket(feature: String): Int = {
      val d = md5.get()
      d.reset()
      val b = d.digest(feature.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val v = ((b(0) & 0xFFL) << 24) | ((b(1) & 0xFFL) << 16) |
        ((b(2) & 0xFFL) << 8) | (b(3) & 0xFFL)
      (v % buckets).toInt
    }

    /** (n_feat, score) of one document. Empty normalized text scores
      * zero features (callers filter blanks, matching the composed
      * plan's pre-filter). */
    def score(text: UTF8String): (Long, Long) = {
      // EXACT normText replication: Spark trim (0x20 only) → java-regex
      // whitespace squeeze → UTF8String lowercase (the Lower expression's
      // own code path)
      val squeezed = text.trim().toString.replaceAll("\\s+", " ")
      val norm = UTF8String.fromString(squeezed).toLowerCase.toString
      if (norm.isEmpty) (0L, priorU)
      else {
        val toks = norm.split(" ", -1)
        var sum = priorU
        var n = 0L
        var i = 0
        while (i < toks.length) {
          sum += table(bucket(toks(i)))
          n += 1
          if (i + 1 < toks.length) {
            sum += table(bucket(toks(i) + " " + toks(i + 1)))
            n += 1
          }
          i += 1
        }
        (n, sum)
      }
    }
  }

  private[operators] def compile(m: TextOps.NbModel): Compiled = {
    val table = Array.fill(m.buckets)(m.defaultU)
    m.lrU.foreach { case (b, v) => table(b.toInt) = v }
    new Compiled(m.buckets, m.priorU, table)
  }

  def scoreCol(text: Column, model: TextOps.NbModel): Column =
    column(NbDocScore(toExpression(text.cast("string")), model))

  def featBucketsCol(text: Column, buckets: Int): Column =
    Kernel.nbFeatBuckets(text.cast("string"), lit(buckets))

  def triBucketsCol(text: Column, buckets: Int): Column =
    Kernel.triBuckets(text.cast("string"), lit(buckets))
}
