package graft.operators

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** The call shape of one [[GraftRuntime]] kernel: the name plans and
  * unaliased columns show, the method, its result type and its argument
  * types (constant parameters such as `k` are `IntegerType` arguments, a
  * driver-side model is an `ObjectType` argument passed by [[Kernel.model]]). */
final case class Kernel(name: String, fn: String, dataType: DataType,
    inputTypes: DataType*) {

  def call(args: Expression*): GraftCall = GraftCall(this, args)

  def apply(args: Column*): Column = GraftShims.column(call(args.map(GraftShims.expression): _*))
}

/** Every native text and vector kernel called through [[GraftCall]]. Why
  * each one is native, and what it measured against its composed
  * formulation, is on its [[GraftRuntime]] method. */
object Kernel {
  private val longs = ArrayType(LongType, containsNull = false)
  private val strings = ArrayType(StringType, containsNull = false)
  private val floats = ArrayType(FloatType)
  private val bpeModel = ObjectType(classOf[Bpe.Compiled])
  private val pqModel = ObjectType(classOf[ProductQuantizer.PqModel])
  private val centroids = ObjectType(classOf[KMeansOps.Centroids])

  /** A driver-side model as a kernel argument: an object-typed literal.
    * Generated code reads it from `references[]`, so the source stays the
    * same whatever the model holds; plans print its short `toString`. */
  def model(value: AnyRef): Column =
    GraftShims.column(Literal(value, ObjectType(value.getClass)))

  val simhash64 = Kernel("simhash64", "simhash64", LongType, StringType)
  val shingleSet = Kernel("shingle_set", "shingleSet", longs, StringType, IntegerType)
  val gramHashes = Kernel("gram_hashes", "gramHashes", longs, StringType, IntegerType)
  val minhashSig = Kernel("minhash_sig", "minhashSig", longs, ArrayType(LongType), IntegerType)
  val charWindows = Kernel("char_windows", "charWindows", strings, StringType, IntegerType)
  val wordChunks = Kernel("word_chunks", "wordChunks", strings, StringType, IntegerType)
  val wordWindows = Kernel("word_windows", "wordWindows", strings, StringType, IntegerType)
  val termRuns = Kernel("term_runs", "termRuns", ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false), StringType)
  val tokenStats = Kernel("graft_token_stats", "tokenStats", TokenStats.schema, StringType)
  val repetitionStats =
    Kernel("graft_repetition_stats", "repetitionStats", RepetitionStats.schema, StringType)
  val ruleStats = Kernel("graft_rule_stats", "ruleStats", RuleStats.schema, StringType)
  val repFractions = Kernel("graft_rep_fractions", "repFractions", RepFractions.schema, StringType)
  val piiStats = Kernel("graft_pii_stats", "piiStats", PiiStats.schema, StringType)
  val piiRedact = Kernel("graft_pii_redact", "piiRedact", StringType, StringType)
  val nbFeatBuckets = Kernel("nb_feat_buckets", "nbFeatBuckets", longs, StringType, IntegerType)
  val triBuckets = Kernel("tri_buckets", "triBuckets", longs, StringType, IntegerType)
  val dot = Kernel("graft_dot", "dot", DoubleType, floats, floats)
  val int8Pack = Kernel("graft_int8_pack", "int8Pack", BinaryType, floats, DoubleType)
  val int8Dot = Kernel("graft_int8_dot", "int8Dot", LongType, BinaryType, BinaryType)
  val lshSignature = Kernel("lsh_signature", "lshSignature", LongType, floats, IntegerType)
  val nbDocScore = Kernel("nb_doc_score", "nbDocScore", NbDocScore.outType, StringType,
    ObjectType(classOf[NbDocScore.Compiled]))
  val ruleGate = Kernel("graft_rule_gate", "rulePass", BooleanType, StringType,
    ObjectType(classOf[QualityFilters.RuleParams]))
  val bpeTokens = Kernel("bpe_tokens", "bpeTokens", strings, StringType, bpeModel)
  val bpeTokenCount = Kernel("bpe_token_count", "bpeTokenCount", LongType, StringType, bpeModel)
  val pqEncode = Kernel("pq_encode", "pqEncode", BinaryType, floats, pqModel,
    IntegerType, IntegerType, IntegerType)
  val pqLut = Kernel("pq_lut", "pqLut", ArrayType(DoubleType, containsNull = false), floats,
    pqModel, IntegerType, IntegerType, IntegerType)
  val pqAdc = Kernel("pq_adc", "pqAdc", DoubleType, ArrayType(DoubleType), BinaryType, IntegerType)
  val nearestCentroid =
    Kernel("nearest_centroid", "nearestCentroid", IntegerType, floats, centroids, IntegerType)
  val nearestCentroids = Kernel("nearest_centroids", "nearestCentroidsN",
    ArrayType(IntegerType, containsNull = false), floats, centroids, IntegerType, IntegerType)
}

/** A call of one [[GraftRuntime]] kernel. Analysis shows it as
  * `name(args)` and checks the arguments against the kernel's input
  * types without casting; the optimizer then replaces it by a
  * `StaticInvoke`, which whole-stage codegen emits as one static call
  * `graft.operators.GraftRuntime.fn(args)` and interpreted evaluation
  * invokes by reflection. A model argument is a `references[]` entry of
  * the generated class, the way Spark passes any object-typed literal. A
  * NULL argument gives NULL; the kernels never
  * return null, so the call is nullable only when an argument is. */
case class GraftCall(kernel: Kernel, children: Seq[Expression])
    extends RuntimeReplaceable with ExpectsInputTypes {

  override def prettyName: String = kernel.name

  override def inputTypes = kernel.inputTypes

  override lazy val replacement: Expression = StaticInvoke(GraftRuntime.getClass,
    kernel.dataType, kernel.fn, children, kernel.inputTypes, returnNullable = false)

  override protected def stringArgs: Iterator[Any] = children.iterator

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}
