package graft

import org.apache.spark.sql.functions._

/** Sketch-table build → persist → rollup: distinct counts and quantiles
  * from merged stored sketches must match direct computation on raw data. */
class SketchTableSpec extends SparkTestBase {

  test("daily sketch table rollup matches direct raw-data answers") {
    val dir = java.nio.file.Files.createTempDirectory("graft_st").toString
    try {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val events = normalizeEventTs(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))

      val table = operators.SketchTable.buildDaily(
        events, "ts", "event_type", "user_id", "value")
      operators.SketchTable.save(table, dir)

      val stored = spark.read.parquet(dir)
      assert(stored.schema("ids_theta").dataType ==
        org.apache.spark.sql.types.BinaryType)

      val (from, to) = ("1970-01-01", "2100-01-01") // full range
      val rolled = operators.SketchTable.rollup(spark, dir, from, to)
        .orderBy("key").collect()

      val direct = events.groupBy(col("event_type").as("key"))
        .agg(count("*").as("rows"),
          countDistinct("user_id").as("ids"))
        .orderBy("key").collect()

      assert(rolled.length == direct.length)
      rolled.zip(direct).foreach { case (r, d) =>
        assert(r.getString(0) == d.getString(0))
        assert(r.getLong(1) == d.getLong(1), s"rows for ${r.getString(0)}")
        // distinct user counts are small (≤150) → theta exact, hll exact
        assert(r.getLong(2) == d.getLong(2), s"theta ids for ${r.getString(0)}")
        assert(r.getLong(3) == d.getLong(2), s"hll ids for ${r.getString(0)}")
        assert(!r.isNullAt(4) && !r.isNullAt(5))
      }

      // date-range pruning: empty range → no rows, no error
      assert(operators.SketchTable.rollup(spark, dir, "1970-01-01", "1970-01-02")
        .collect().isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("materialized ANN index: partition-pruned probes match runtime LSH") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann").toString
    try {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      operators.AnnIndex.build(emb, "vec_id", "embedding", dir, planes = 6)

      val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
      val fromIndex = operators.AnnIndex.query(spark, dir, q, "vec_id", "embedding",
          k = 3, planes = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val runtime = operators.SimilarityOps.lshTopK(q, emb, "vec_id", "embedding",
          k = 3, planes = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(fromIndex == runtime,
        "index probes must return exactly the runtime LSH results")

      // the probe plan must prune on the sig partition column
      val plan = operators.AnnIndex.query(spark, dir, q, "vec_id", "embedding", 3, 6)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") || plan.contains("dynamicpruning"),
        s"probe should prune partitions:\n$plan")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("ANN index build salts a hot sign bucket over at most filesPerBucket files") {
    import org.apache.spark.sql.functions.{col, min}
    val dir = java.nio.file.Files.createTempDirectory("graft_annhot").toString
    try {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      // every row carries the same vector, so every row lands in one bucket
      val first = emb.agg(min("vec_id")).head().getLong(0)
      val hot = emb.select("vec_id")
        .crossJoin(emb.filter(col("vec_id") === first).select("embedding"))
      // adaptive coalescing would fold this small bucket's salted
      // partitions back into one write task (as intended below its 1 MB
      // minimum partition size); off, the salt alone sets the file count
      val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
      val prior = spark.conf.get(coalesce)
      spark.conf.set(coalesce, "false")
      try operators.AnnIndex.build(hot, "vec_id", "embedding", dir, planes = 6,
        filesPerBucket = 4)
      finally spark.conf.set(coalesce, prior)
      val buckets = new java.io.File(dir).listFiles().filter(_.getName.startsWith("sig="))
      assert(buckets.length == 1, buckets.map(_.getName).mkString(", "))
      val files = buckets.head.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files > 1 && files <= 4, s"hot bucket holds $files files")
      assert(spark.read.parquet(dir).count() == emb.count())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("quantized ANN index: ~4x smaller files, near-identical neighbors") {
    import org.apache.spark.sql.functions.col
    val dirF = java.nio.file.Files.createTempDirectory("graft_annf").toString
    val dirQ = java.nio.file.Files.createTempDirectory("graft_annq").toString
    try {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      operators.AnnIndex.build(emb, "vec_id", "embedding", dirF, planes = 6)
      operators.AnnIndex.buildQuantized(emb, "vec_id", "embedding", dirQ, planes = 6)

      // Compare the VECTOR COLUMN bytes from the parquet footers: at test
      // scale (500 × dim-64 vectors over 64 partition files) the per-file
      // footer overhead dwarfs the data and would mask the win; at index
      // scale files amortize and the column ratio is the story.
      def columnBytes(d: String, colPrefix: String): Long = {
        import scala.jdk.CollectionConverters._
        import org.apache.hadoop.fs.Path
        import org.apache.parquet.hadoop.ParquetFileReader
        import org.apache.parquet.hadoop.util.HadoopInputFile
        val conf = spark.sparkContext.hadoopConfiguration
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
          else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
        walk(new java.io.File(d)).map { f =>
          val r = ParquetFileReader.open(
            HadoopInputFile.fromPath(new Path(f.getPath), conf))
          try r.getFooter.getBlocks.asScala.map(_.getColumns.asScala
            .filter(_.getPath.toDotString.startsWith(colPrefix))
            .map(_.getTotalSize).sum).sum
          finally r.close()
        }.sum
      }
      val (bf, bq) = (columnBytes(dirF, "vec"), columnBytes(dirQ, "q_bytes"))
      // float32 elements vs exactly one byte per element: demand > 3×
      assert(bq < bf / 3, s"packed codes $bq B should be < 1/3 of float vectors $bf B")

      val q = emb.filter(col("vec_id") < 10)
      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val floatK = pairs(operators.AnnIndex.query(spark, dirF, q, "vec_id",
        "embedding", k = 3, planes = 6, probeDepth = 2))
      val quantK = pairs(operators.AnnIndex.queryQuantized(spark, dirQ, q, "vec_id",
        "embedding", k = 3, planes = 6, probeDepth = 2))
      // identical bucket routing (signatures hash the original floats);
      // ranking flips only where true cosines sit inside the quantization
      // band of each other — demand 80% neighbor-set agreement
      val overlap = (floatK intersect quantK).size.toDouble / floatK.size
      assert(overlap >= 0.8, s"quantized neighbor overlap $overlap < 0.8")
    } finally Seq(dirF, dirQ).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
  }
}
