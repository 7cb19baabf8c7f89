package graft

import org.apache.spark.sql.functions._

import operators._

/** Distributed k-means ([[KMeansOps]]) and SemDeDup-style semantic dedup:
  * native [[KMeansOps.nearestCentroid]] vs the composed reference formulation,
  * Lloyd's iteration semantics, and the keep rule. */
class KMeansSpec extends SparkTestBase {

  private lazy val emb = {
    val d = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d.cache().count()
    d
  }

  private def deterministicCentroids(k: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(k, dim) { (j, i) =>
      math.sin(j * 131 + i * 17).toFloat.toDouble // float-representable, fixed
    }

  test("native NearestCentroid matches the composed array-ops reference") {
    for (k <- Seq(1, 3, 8)) {
      val cent = deterministicCentroids(k, 64)
      val both = emb.select(
        KMeansOps.nearestCentroid(col("embedding"), cent).as("fast"),
        KMeansOps.nearestCentroidRef(col("embedding"), cent).as("ref"))
      assert(both.filter(col("fast") =!= col("ref")).count() == 0,
        s"native vs composed argmin differ at k=$k")
    }
  }

  test("NearestCentroid: null elements contribute 0, exact tie keeps lowest index") {
    // two centroids equidistant from the vector → index 0 wins
    val tied = Array(Array(1.0, 0.0), Array(-1.0, 0.0))
    val df = spark.sql(
      "SELECT CAST(array(0.0, 5.0) AS ARRAY<FLOAT>) AS v " +
        "UNION ALL SELECT CAST(array(NULL, 5.0) AS ARRAY<FLOAT>)")
    val got = df.select(KMeansOps.nearestCentroid(col("v"), tied)).collect().map(_.getInt(0))
    assert(got.toSeq == Seq(0, 0))
    // null element ≡ 0.0 element (the LshSignature sparse-null convention)
    val cent = Array(Array(2.0, -1.0, 0.5), Array(-3.0, 0.25, 1.0))
    val pair = spark.sql(
      "SELECT CAST(array(1.0, NULL, 2.0) AS ARRAY<FLOAT>) AS a, " +
        "CAST(array(1.0, 0.0, 2.0) AS ARRAY<FLOAT>) AS b")
      .select(KMeansOps.nearestCentroid(col("a"), cent).as("x"),
        KMeansOps.nearestCentroid(col("b"), cent).as("y")).head()
    assert(pair.getInt(0) == pair.getInt(1))
  }

  test("fit recovers well-separated clusters exactly") {
    // three tight blobs far apart; id = m*3 + blob, so the 3 smallest ids
    // (0, 1, 2) — the deterministic seeds — land one per blob
    val rows = for {
      blob <- 0 until 3
      m <- 0 until 20
    } yield (m * 3L + blob, Array.tabulate(4)(i =>
      (if (i == blob) 10f else 0f) + (m % 5) * 0.01f))
    val df = spark.createDataFrame(rows)
      .toDF("id", "vec")
      .withColumn("vec", col("vec").cast("array<float>"))
    val cent = KMeansOps.fit(df, "id", "vec", k = 3, iters = 2)
    val assigned = KMeansOps.assign(df, "vec", cent)
      .select(col("cluster"), col("vec")(0).as("x0"), col("vec")(1).as("x1"),
        col("vec")(2).as("x2"))
      .collect()
    // every member of a blob shares a cluster, and distinct blobs differ
    val byBlob = assigned.groupBy { r =>
      Seq(r.getFloat(1), r.getFloat(2), r.getFloat(3)).indexWhere(_ > 5f)
    }.map { case (blob, rs) => blob -> rs.map(_.getInt(0)).toSet }
    assert(byBlob.values.forall(_.size == 1), s"blob split across clusters: $byBlob")
    assert(byBlob.values.map(_.head).toSet.size == 3, s"blobs merged: $byBlob")
  }

  test("fit skips NULL vectors; assign propagates NULL cluster for them") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (0L, CAST(array(1.0, 1.0) AS ARRAY<FLOAT>)),
        |  (1L, CAST(array(3.0, 3.0) AS ARRAY<FLOAT>)),
        |  (2L, CAST(NULL AS ARRAY<FLOAT>)) t(id, vec)""".stripMargin)
    val cent = KMeansOps.fit(df, "id", "vec", k = 2, iters = 2)
    assert(!cent.flatten.exists(_.isNaN))
    val got = KMeansOps.assign(df, "vec", cent).orderBy("id")
      .collect().map(r => if (r.isNullAt(2)) None else Some(r.getInt(2))).toSeq
    assert(got(2).isEmpty && got(0).nonEmpty && got(1).nonEmpty)
  }

  test("fit: an emptied cluster keeps its previous centroid") {
    // k=2 over two identical vectors: both assign to cluster 0 after the
    // first update, so cluster 1 receives no members — its centroid must
    // stay where it was, not NaN out
    val df = spark.createDataFrame(Seq(
        (0L, Array(1f, 1f)), (1L, Array(1f, 1f)))).toDF("id", "vec")
      .withColumn("vec", col("vec").cast("array<float>"))
    val cent = KMeansOps.fit(df, "id", "vec", k = 2, iters = 2)
    assert(cent(0).toSeq == Seq(1.0, 1.0))
    assert(cent(1).toSeq == Seq(1.0, 1.0)) // init was also (1,1); no NaN
    assert(!cent.flatten.exists(_.isNaN))
  }

  test("semDedup: within-cluster near-dup drops the later id, cross-cluster ignored") {
    // cluster A: v0 ≈ v1 (dropped), v2 orthogonal (kept);
    // far-away cluster B holds a vector PARALLEL to v0 — same direction,
    // but other cluster, so it must survive
    val df = spark.createDataFrame(Seq(
        (0L, Array(10f, 0f, 0f)), (1L, Array(10f, 0.1f, 0f)),
        (2L, Array(0f, 10f, 0f)), (3L, Array(500f, 0f, 0f)))).toDF("id", "vec")
      .withColumn("vec", col("vec").cast("array<float>"))
    val cent = Array(Array(5.0, 5.0, 0.0), Array(500.0, 0.0, 0.0))
    val got = KMeansOps.semDedup(df, "id", "vec", cent, tau = 0.9)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toSeq
    assert(got == Seq((0L, true), (1L, false), (2L, true), (3L, true)))
  }

  test("nearestCentroids: n=1 ≡ argmin, full order is distance-ascending, n>k caps") {
    val cent = deterministicCentroids(5, 64)
    val rows = emb.limit(100).select(
        KMeansOps.nearestCentroid(col("embedding"), cent).as("one"),
        KMeansOps.nearestCentroids(col("embedding"), cent, 1).as("n1"),
        KMeansOps.nearestCentroids(col("embedding"), cent, 5).as("all"),
        KMeansOps.nearestCentroids(col("embedding"), cent, 99).as("over"),
        col("embedding"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](1) == Seq(r.getInt(0)), "n=1 differs from argmin")
      val all = r.getSeq[Int](2)
      assert(all.sorted == (0 until 5), s"full probe list not a permutation: $all")
      assert(r.getSeq[Int](3) == all, "n>k should cap at k with identical order")
      // ascending-distance order: re-derive distances on the driver
      val v = r.getSeq[Float](4).map(_.toDouble)
      val d = cent.map { c =>
        var cc = 0.0; var ip = 0.0; var i = 0
        while (i < c.length) { cc += c(i) * c(i); ip += v(i) * c(i); i += 1 }
        cc - 2.0 * ip
      }
      assert(all.map(d) == all.map(d).sorted, s"probe list out of distance order")
    }
  }

  test("k-means IVF index: partition-pruned probes, recall >= 0.7 vs brute force") {
    val q = emb.filter(col("vec_id") < 5)
    val truth = SimilarityOps.cosineTopK(q, emb, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id")
    val path = java.nio.file.Files.createTempDirectory("graft_kivf_test_").toString
    try {
      val cent = AnnIndex.buildKMeans(emb, "vec_id", "embedding", path, k = 8, iters = 2)
      val ann = AnnIndex.queryKMeans(spark, path, q, "vec_id", "embedding",
        cent, k = 3, nProbe = 2)
      // the probed index scan must prune on the cell partition column
      val planned = ann.queryExecution.executedPlan.toString
      assert(planned.contains("PartitionFilters") || planned.contains("dynamicpruning"),
        s"no partition pruning in:\n$planned")
      val hits = ann.select("query_id", "neighbor_id")
        .join(truth, Seq("query_id", "neighbor_id")).count()
      val n = truth.count()
      assert(hits >= n * 0.7, s"recall ${hits.toDouble / n} below 0.7")
      // full probe (nProbe = k) must equal brute force exactly: cells
      // partition the corpus, so probing all of them IS the full scan
      val full = AnnIndex.queryKMeans(spark, path, q, "vec_id", "embedding",
          cent, k = 3, nProbe = 8)
        .select("query_id", "neighbor_id")
      assert(full.exceptAll(truth).count() == 0 && truth.exceptAll(full).count() == 0,
        "nProbe=k disagrees with brute force")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(path))
    }
  }

  test("incrementalSemDedup: history wins at any id, batch self-dedup by id, cross-cluster ignored") {
    // cluster 0 ≈ the (x/y/z ≤ 10) region, cluster 1 far out on x.
    // batch 10 (x-ish) matches no history direction → kept;
    // batch 11 ≈ batch 10 → dropped by the SMALLER-ID batch mate;
    // batch 12 ∥ history 101 → dropped by HISTORY (id order irrelevant);
    // batch 13 ∥ batch 10 but lands in cluster 1 → kept (cross-cluster
    // similarity must not count, for the history and batch rules alike)
    val history = spark.createDataFrame(Seq(
        (100L, Array(0f, 10f, 0f)), (101L, Array(0f, 0f, 10f))))
      .toDF("id", "vec").withColumn("vec", col("vec").cast("array<float>"))
    val batch = spark.createDataFrame(Seq(
        (10L, Array(10f, 0.1f, 0f)), (11L, Array(10f, 0.2f, 0f)),
        (12L, Array(0f, 0f, 9f)), (13L, Array(400f, 0f, 0f))))
      .toDF("id", "vec").withColumn("vec", col("vec").cast("array<float>"))
    val cent = Array(Array(5.0, 0.0, 5.0), Array(400.0, 0.0, 0.0))
    val got = KMeansOps.incrementalSemDedup(history, batch, "id", "vec", cent, tau = 0.9)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toSeq
    assert(got == Seq((10L, true), (11L, false), (12L, false), (13L, true)))
  }

  test("semDedupByPriority: highest priority survives, ties fall to smallest id") {
    // three mutually-similar vectors in one cluster: priorities 5, 9, 9 —
    // id 21 (first 9) survives; 22 loses the tie, 20 loses outright.
    // Orthogonal low-priority vector survives (no similar better mate).
    val df = spark.createDataFrame(Seq(
        (20L, Array(10f, 0f, 0f), 5L), (21L, Array(10f, 0.1f, 0f), 9L),
        (22L, Array(10f, 0.2f, 0f), 9L), (23L, Array(0f, 10f, 0f), 1L)))
      .toDF("id", "vec", "prio").withColumn("vec", col("vec").cast("array<float>"))
    val cent = Array(Array(5.0, 5.0, 0.0))
    val got = KMeansOps.semDedupByPriority(df, "id", "vec", "prio", cent, tau = 0.9)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getBoolean(3))).toSeq
    assert(got == Seq((20L, false), (21L, true), (22L, false), (23L, true)))
  }

  test("fitSampled trains on exactly the md5-prefixed slice") {
    // fitSampled over the full table must equal fit over the pre-filtered
    // slice — same centroids, element for element
    val full = KMeansOps.fitSampled(emb, "vec_id", "embedding", k = 4, iters = 2)
    val slice = emb.filter(
      substring(md5(col("vec_id").cast("string")), 1, 1) === "0")
    val direct = KMeansOps.fit(slice, "vec_id", "embedding", k = 4, iters = 2)
    assert(full.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq)
    assert(intercept[IllegalArgumentException] {
      KMeansOps.fitSampled(emb, "vec_id", "embedding", 4, 1, "G")
    }.getMessage.contains("hex"))
  }

  test("clusterProfile sizes sum to the corpus and norms are finite") {
    val prof = KMeansOps.clusterProfile(emb, "vec_id", "embedding", k = 4, iters = 1)
      .collect()
    assert(prof.map(_.getLong(1)).sum == emb.count())
    assert(prof.forall(r => !r.getDouble(3).isNaN && r.getDouble(3) > 0))
    assert(prof.map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L))
  }

  test("PQ codebooks: round-trip via toRows/fromRows and SnapshotStore; ADC tracks true dot") {
    val model = ProductQuantizer.train(emb, "vec_id", "embedding",
      dim = 64, m = 16, ksub = 16, iters = 2)
    // serialization round-trip: rows -> model reproduces identical encodings
    val rebuilt = ProductQuantizer.fromRows(16, 4, 16, model.toRows)
    val codesA = emb.select(col("vec_id"),
        ProductQuantizer.encode(col("embedding"), model).as("c"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val codesB = emb.select(col("vec_id"),
        ProductQuantizer.encode(col("embedding"), rebuilt).as("c"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(codesA == codesB)
    assert(codesA.values.forall(_.length == 16), "16 one-byte codes per 64-dim vector")

    // SnapshotStore persistence: the model survives a cold reload
    val root = java.nio.file.Files.createTempDirectory("graft-pq-store").toString
    try {
      val store = new SnapshotStore(spark, root)
      val corpus = "/root/testdata/sf0.001/embeddings.parquet"
      store.getOrBuildVectors(corpus, "pq-books")(model.toRows)
      val coldRows = new SnapshotStore(spark, root).getOrBuildVectors(corpus, "pq-books")(
        sys.error("must not rebuild"))
      val cold = ProductQuantizer.fromRows(16, 4, 16, coldRows)
      assert(cold.toRows.zip(model.toRows).forall { case (a, b) => a.sameElements(b) })

      // ADC approximates the true inner product, and finer codebooks improve it
      val big = ProductQuantizer.train(emb, "vec_id", "embedding", 64, 16, 64, 2)
      val q3 = emb.limit(3).select(col("vec_id").as("qid"), col("embedding").as("qv"),
        ProductQuantizer.lut(col("embedding"), model).as("lut"),
        ProductQuantizer.lut(col("embedding"), big).as("lutb"))
      val joined = emb.select(col("vec_id").as("cid"), col("embedding").as("vec"),
          ProductQuantizer.encode(col("embedding"), model).as("codes"),
          ProductQuantizer.encode(col("embedding"), big).as("codesb"))
        .crossJoin(broadcast(q3))
        .withColumn("t", SimilarityOps.dot(col("qv"), col("vec")))
        .withColumn("a", ProductQuantizer.adc(col("lut"), col("codes"), model.ksub))
        .withColumn("ab", ProductQuantizer.adc(col("lutb"), col("codesb"), big.ksub))
        .agg(avg(abs(col("a") - col("t"))).as("mae16"),
          avg(abs(col("ab") - col("t"))).as("mae64"))
        .head()
      val (mae16, mae64) = (joined.getDouble(0), joined.getDouble(1))
      assert(mae16 < 0.5, s"ADC should track true dot, mae=$mae16")
      assert(mae64 < mae16, s"finer codebooks must reduce ADC error: $mae64 !< $mae16")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }
}
