package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The fused NB-document scorer's model form and Column helpers; the
  * scorer itself is the [[GraftRuntime.nbDocScore]] kernel. */
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

    override def toString: String = s"nb[buckets=$buckets]"
  }

  private[graft] def compile(m: TextOps.NbModel): Compiled = {
    val table = Array.fill(m.buckets)(m.defaultU)
    m.lrU.foreach { case (b, v) => table(b.toInt) = v }
    new Compiled(m.buckets, m.priorU, table)
  }

  def scoreCol(text: Column, model: TextOps.NbModel): Column =
    Kernel.nbDocScore(text.cast("string"), Kernel.model(compile(model)))

  def featBucketsCol(text: Column, buckets: Int): Column =
    Kernel.nbFeatBuckets(text.cast("string"), lit(buckets))

  def triBucketsCol(text: Column, buckets: Int): Column =
    Kernel.triBuckets(text.cast("string"), lit(buckets))
}
