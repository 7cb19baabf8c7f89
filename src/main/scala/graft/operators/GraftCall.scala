package graft.operators

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** The call shape of one [[GraftRuntime]] kernel: the name plans and
  * unaliased columns show, the method, its result type and its argument
  * types (constant parameters such as `k` are `IntegerType` arguments). */
final case class Kernel(name: String, fn: String, dataType: DataType,
    inputTypes: DataType*) {

  def call(args: Expression*): Expression = GraftCall(this, args)

  def apply(args: Column*): Column = GraftShims.column(call(args.map(GraftShims.expression): _*))
}

/** Every native text and vector kernel called through [[GraftCall]]. Why
  * each one is native, and what it measured against its composed
  * formulation, is on its [[GraftRuntime]] method. */
object Kernel {
  private val longs = ArrayType(LongType, containsNull = false)
  private val strings = ArrayType(StringType, containsNull = false)
  private val floats = ArrayType(FloatType)

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
}

/** A call of one [[GraftRuntime]] kernel. Analysis shows it as
  * `name(args)` and checks the arguments against the kernel's input
  * types without casting; the optimizer then replaces it by a
  * `StaticInvoke`, which whole-stage codegen emits as one static call
  * `graft.operators.GraftRuntime.fn(args)` and interpreted evaluation
  * invokes by reflection. A NULL argument gives NULL; the kernels never
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
