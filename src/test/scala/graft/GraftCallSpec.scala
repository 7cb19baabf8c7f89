package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.InterpretedUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import operators.{Bpe, GraftCall, Kernel, KMeansOps, NbDocScore, ProductQuantizer, QualityFilters, TextOps}

/** The native text/vector kernels called through [[GraftCall]]: generated
  * code and interpreted evaluation agree on edge inputs (model arguments
  * included), the calls stay inside whole-stage codegen, and analysis
  * keeps rejecting wrong input types. */
class GraftCallSpec extends SparkTestBase {

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** Empty, blank, one token (shorter than any k used), a plain sentence,
    * PII-bearing and repetitive text, invalid UTF-8, and NULL. */
  private val texts: Seq[Any] = Seq(
    utf8(""), utf8(" \t\n "), utf8("a"),
    utf8("the quick brown fox jumps over the lazy dog the end."),
    utf8("mail a@b.co or +12345678 from 10.0.0.1\n- item\n- item\nlorem ipsum ..."),
    utf8("la la la la la la la la la la la la"),
    UTF8String.fromBytes(Array[Byte](0xff.toByte, 0xfe.toByte, 'a', ' ', 0xc3.toByte)),
    null)

  private def floats(xs: Any*): GenericArrayData = new GenericArrayData(xs.toArray)

  private val vectors: Seq[Any] = Seq(
    floats(), floats(1.0f, -2.0f, 0.5f), floats(1.0f, null, 2.0f), floats(null, null), null)

  private val longSets: Seq[Any] = Seq(
    new GenericArrayData(Array.empty[Any]),
    new GenericArrayData(Array[Any](1L, -7L, Long.MaxValue)), null)

  private val bytes: Seq[Any] = Seq(Array.emptyByteArray, Array[Byte](1, -2, 127), null)

  private def ref(i: Int, t: DataType) = BoundReference(i, t, nullable = true)

  /** A model argument, as [[Kernel.model]] builds it for a Column. */
  private def model(v: AnyRef) = Literal(v, ObjectType(v.getClass))

  private val nb = model(NbDocScore.compile(
    TextOps.NbModel(1024, 5L, -1L, Seq(3L -> 7L, 100L -> -4L, 1023L -> 2L))))
  private val bpe = model(Bpe.compiled(Bpe.SeedModel))
  private val pq = ProductQuantizer.PqModel(m = 2, dsub = 2, ksub = 3, Array(
    Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.5)),
    Array(Array(0.5, 0.5), Array(-2.0, 0.0), Array(0.0, -1.0))))
  private val pqArgs = Seq(model(pq), Literal(pq.m), Literal(pq.dsub), Literal(pq.ksub))
  private val centroids = model(new KMeansOps.Centroids(
    Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, -1.0), Array(1.0, -2.0, 0.5))))

  /** m·ksub-entry LUTs and in-range codes, as `pq_lut`/`pq_encode` make them. */
  private val luts: Seq[Any] = Seq(
    new GenericArrayData(Array[Any](0.5, 1.0, 2.0, -1.0, 3.0, 4.0)), null)
  private val codes: Seq[Any] = Seq(Array.emptyByteArray, Array[Byte](0, 2), Array[Byte](2, 1), null)

  /** (call, rows): each row binds the call's non-constant arguments. */
  private def cases: Seq[(Expression, Seq[InternalRow])] = {
    val text = ref(0, StringType)
    def textCall(k: Kernel, consts: Int*) =
      k.call(text +: consts.map(Literal(_)): _*) -> texts.map(InternalRow(_))
    val pairs = for (a <- vectors; b <- vectors) yield InternalRow(a, b)
    Seq(
      textCall(Kernel.simhash64),
      textCall(Kernel.shingleSet, 3),
      textCall(Kernel.gramHashes, 3),
      textCall(Kernel.charWindows, 3),
      textCall(Kernel.wordChunks, 3),
      textCall(Kernel.wordWindows, 3),
      textCall(Kernel.termRuns),
      textCall(Kernel.tokenStats),
      textCall(Kernel.repetitionStats),
      textCall(Kernel.ruleStats),
      textCall(Kernel.repFractions),
      textCall(Kernel.piiStats),
      textCall(Kernel.piiRedact),
      textCall(Kernel.nbFeatBuckets, 1024),
      textCall(Kernel.triBuckets, 1024),
      Kernel.minhashSig.call(ref(0, ArrayType(LongType)), Literal(4)) ->
        longSets.map(InternalRow(_)),
      Kernel.lshSignature.call(ref(0, ArrayType(FloatType)), Literal(12)) ->
        vectors.map(InternalRow(_)),
      Kernel.dot.call(ref(0, ArrayType(FloatType)), ref(1, ArrayType(FloatType))) -> pairs,
      Kernel.int8Pack.call(ref(0, ArrayType(FloatType)), ref(1, DoubleType)) ->
        (for (v <- vectors; s <- Seq[Any](0.0, 0.01, null)) yield InternalRow(v, s)),
      Kernel.int8Dot.call(ref(0, BinaryType), ref(1, BinaryType)) ->
        (for (a <- bytes; b <- bytes) yield InternalRow(a, b)),
      Kernel.nbDocScore.call(text, nb) -> texts.map(InternalRow(_)),
      Kernel.ruleGate.call(text, model(QualityFilters.RuleParams(minWords = 2))) ->
        texts.map(InternalRow(_)),
      Kernel.bpeTokens.call(text, bpe) -> texts.map(InternalRow(_)),
      Kernel.bpeTokenCount.call(text, bpe) -> texts.map(InternalRow(_)),
      Kernel.pqEncode.call(ref(0, ArrayType(FloatType)) +: pqArgs: _*) ->
        vectors.map(InternalRow(_)),
      Kernel.pqLut.call(ref(0, ArrayType(FloatType)) +: pqArgs: _*) ->
        vectors.map(InternalRow(_)),
      Kernel.pqAdc.call(ref(0, ArrayType(DoubleType)), ref(1, BinaryType), Literal(pq.ksub)) ->
        (for (l <- luts; c <- codes) yield InternalRow(l, c)),
      Kernel.nearestCentroid.call(ref(0, ArrayType(FloatType)), centroids, Literal(3)) ->
        vectors.map(InternalRow(_)),
      Kernel.nearestCentroids.call(ref(0, ArrayType(FloatType)), centroids, Literal(3),
        Literal(2)) -> vectors.map(InternalRow(_)))
  }

  test("every kernel: generated code equals interpreted eval on edge inputs") {
    val all = cases
    assert(all.map(_._1.prettyName).distinct.size == 29)
    for ((call, rows) <- all) {
      val replaced = call.asInstanceOf[GraftCall].replacement
      val compiled = GenerateUnsafeProjection.generate(Seq(replaced))
      val interpreted = InterpretedUnsafeProjection.createProjection(Seq(replaced))
      for (row <- rows) {
        val c = compiled(row).copy()
        val i = interpreted(row).copy()
        assert(c == i, s"${call.prettyName}: codegen/interpreted split on $row")
        val nullIn = (0 until row.numFields).exists(row.isNullAt)
        assert(c.isNullAt(0) == nullIn, s"${call.prettyName}: NULL in must be NULL out")
      }
    }
  }

  test("kernel calls plan inside one whole-stage codegen stage, no fallback") {
    spark.range(5).selectExpr("concat('w', id, ' x y z') AS t")
      .createOrReplaceTempView("graft_call_t")
    val df = sql("SELECT graft_shingle_set(t, 3) AS s, graft_gram_hashes(t, 2) AS g, " +
      "graft_token_stats(t) AS ts FROM graft_call_t")
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val stages = plan.collect { case w: WholeStageCodegenExec => w }
    assert(stages.exists(_.child.isInstanceOf[ProjectExec]), plan.treeString)
    assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[CodegenFallback]))),
      plan.treeString)
    assert(plan.toString.contains("*("), plan.treeString)
  }

  test("an unaliased kernel call keeps its column name") {
    assert(sql("SELECT graft_simhash64(t) FROM VALUES ('a b') v(t)").columns.toSeq ==
      Seq("simhash64(t)"))
  }

  test("kernel calls reject wrong input types at analysis") {
    intercept[AnalysisException](sql("SELECT graft_simhash64(1)").queryExecution.assertAnalyzed())
    intercept[AnalysisException](
      sql("SELECT graft_int8_dot('a', 'b')").queryExecution.assertAnalyzed())
  }
}
