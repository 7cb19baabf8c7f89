package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.{KMeansOps, Pipeline}
import graft.streaming.StreamingDedup

/** curate: the operator path, bound by the Spark driver, the scheduler and the
  * localCheckpoint barriers rather than the sketch update path. Ops
  * alternate:
  *  - `batch`: one `Pipeline.curateFull` run over the generated corpus,
  *    including the write of its decision table;
  *  - `trigger`: one micro-batch of the non-history docs into
  *    `StreamingDedup.curateSink`, from adding the data until
  *    `processAllAvailable` returns. The history is `doc_id % 4 = 0`, as in
  *    q118. */
final class Curate(spark: SparkSession, seed: Long, work: Path) extends Workload {
  import Curate._

  val kinds = ("batch", "trigger")
  def describe = s"$Docs docs ($StreamDocs streamed per trigger), ${math.round(Gen.EmbPerDoc * Docs)} embeddings"

  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var history: DataFrame = _
  private var centroids: Array[Array[Double]] = _
  private var streamed: Seq[(Long, String)] = Nil
  private var firstOfCluster: Map[Long, Boolean] = Map.empty

  def prepare(): Unit = {
    val c = Gen.corpus(seed, Docs)
    val in = work.resolve("curate_in")
    spark.createDataFrame(spark.sparkContext.parallelize(
      c.docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)).toSeq, 4), DocSchema)
      .write.mode("overwrite").parquet(in.resolve("documents").toString)
    spark.createDataFrame(spark.sparkContext.parallelize(
      c.embeddings.map { case (id, v, l) => Row(id, v.toSeq, l) }.toSeq, 4), EmbSchema)
      .write.mode("overwrite").parquet(in.resolve("embeddings").toString)
    docs = spark.read.parquet(in.resolve("documents").toString)
    emb = spark.read.parquet(in.resolve("embeddings").toString)
    history = docs.filter(col("doc_id") % 4 === 0).select("doc_id", "text")
    centroids = KMeansOps.fit(emb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding", 8, 2)
    streamed = c.docs.toSeq.filter(_.id % 4 != 0).map(d => (d.id, d.text))
    // exact dedup keeps the lowest id of each normalized-text cluster
    val norm = c.docs.groupBy(d => d.text.trim.replaceAll("\\s+", " ").toLowerCase)
    firstOfCluster = norm.values.flatMap(ds => ds.map(d => d.id -> (d.id == ds.map(_.id).min))).toMap
  }

  // ---- batch ----------------------------------------------------------

  private var batchRef: Map[Long, Row] = Map.empty
  private def batchOut(i: Int) = work.resolve(s"curate_out/$i").toString

  private def batch(i: Int, tr: Tracer): () => Option[String] = {
    val df = tr.span("curate.build")(Pipeline.curateFull(docs, emb, "doc_id", "text", "source"))
    tr.span("curate.action")(df.write.mode("overwrite").parquet(batchOut(i)))
    () => checkBatch(i)
  }

  /** Every doc has one decision; exact duplicates, and only they, are
    * `exact_dup`; and the table equals the run's first batch. */
  private def checkBatch(i: Int): Option[String] = {
    val rows = spark.read.parquet(batchOut(i)).collect()
    if (batchRef.isEmpty) batchRef = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    val ids = rows.map(_.getAs[Long]("doc_id"))
    if (ids.length != Docs || ids.distinct.length != Docs)
      return Some(s"${ids.length} decision rows for ${ids.distinct.length} docs, expected $Docs")
    rows.collectFirst {
      case r if (r.getAs[String]("decision") == "exact_dup") == firstOfCluster(r.getAs[Long]("doc_id")) =>
        s"doc ${r.getAs[Long]("doc_id")} decided ${r.getAs[String]("decision")}"
      case r if batchRef.getOrElse(r.getAs[Long]("doc_id"), r) != r =>
        s"doc ${r.getAs[Long]("doc_id")} decided $r, earlier ${batchRef(r.getAs[Long]("doc_id"))}"
    }
  }

  // ---- stream ---------------------------------------------------------

  private var input: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private var streamRef: Map[Long, Row] = Map.empty
  private def store(i: Int) = work.resolve(s"curate_store/$i").toString

  /** Each trigger op gets a fresh query on an empty store, started before
    * its timer, so every trigger does the same work. */
  override def before(kind: String, i: Int): Unit = if (kind == "trigger") {
    stopStream()
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    input = MemoryStream[(Long, String)]
    query = StreamingDedup.curateSink(input.toDF().toDF("doc_id", "text"), history, emb,
      "doc_id", "text", centroids, store(i))
  }

  private def stopStream(): Unit = if (query != null) { query.stop(); query = null }

  private def trigger(i: Int, tr: Tracer): () => Option[String] = {
    tr.span("stream.add_data")(input.addData(streamed))
    tr.span("stream.process_all_available")(query.processAllAvailable())
    () => checkTrigger(i)
  }

  /** Every streamed doc has exactly one decision, the same as in the run's
    * first trigger. */
  private def checkTrigger(i: Int): Option[String] = {
    val got = spark.read.parquet(store(i))
      .select("doc_id", "decision", "removed_tokens", "n_tokens", "final_md5")
      .collect().toSeq.groupBy(_.getLong(0))
    if (streamRef.isEmpty) streamRef = got.collect { case (id, Seq(r)) => id -> r }
    streamed.iterator.map(_._1).collectFirst {
      case id if got.getOrElse(id, Nil).size != 1 =>
        s"trigger $i: doc $id has ${got.getOrElse(id, Nil).size} decisions"
      case id if streamRef.get(id).exists(_ != got(id).head) =>
        s"trigger $i: doc $id decided ${got(id).head}, first trigger ${streamRef(id)}"
    }
  }

  // ---- workload -------------------------------------------------------

  /** Runs both paths three times at full size; a curate op is still
    * settling at its third run. Each round runs the batch beside the
    * trigger: set-up time goes to JIT and codegen, not to an idle client. */
  def warm(tr: Tracer): Unit = (1 to 3).foreach { r =>
    val batchRun = new Thread(() => batch(-r, tr))
    batchRun.start()
    before("trigger", -r)
    trigger(-r, tr)
    stopStream()
    batchRun.join()
  }

  def op(kind: String, i: Int, tr: Tracer): () => Option[String] = kind match {
    case "batch"   => batch(i, tr)
    case "trigger" => trigger(i, tr)
  }

  override def close(): Unit = stopStream()
}

object Curate {
  /** A fifth of sf0.1's 5,000 docs: at full size a curate run would not fit
    * the benchmark's time budget (see perfbench/README.md). */
  val Docs = 1000
  val StreamDocs: Int = (0 until Docs).count(_ % 4 != 0)

  val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val EmbSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))
}
