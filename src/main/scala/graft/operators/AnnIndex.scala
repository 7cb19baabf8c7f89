package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-style materialized ANN index.
  *
  * [[SimilarityOps.lshTopK]] buckets the corpus per query *run*; at
  * 100 TB the corpus should be bucketed ONCE and written
  * `partitionBy(signature)` so every probe prunes to a handful of files
  * before any vector is read — the inverted-file (IVF) layout, expressed
  * with plain lakehouse partitioning. Queries push `sig IN (...)` into
  * the scan as a partition filter; Spark never lists, let alone reads,
  * the other buckets.
  */
object AnnIndex {

  /** Bounded write salt (r22, advisor items): `repartition(bucketCol)`
    * alone collapses the write to at most |distinct buckets| non-empty
    * tasks — for [[buildKMeans]]'s k cells (default 8) that serializes
    * the whole corpus write through k tasks, and for hot LSH sign-bit
    * buckets it adds a straggler proportional to the largest bucket.
    * Salting with `pmod(xxhash64(id), salt)` keeps per-bucket parallelism
    * at `salt` ways while bounding files at ≤ salt per bucket — the
    * write-distribution trade: more salt = more parallelism on a hot
    * bucket, more (smaller) files per bucket for every probe to open.
    * Deterministic (id-hash, not rand()), so task retries can't
    * duplicate rows (guide §2.5). */
  private def saltedBy(df: DataFrame, bucket: String, salt: Int): DataFrame = {
    require(salt >= 1, s"write salt must be >= 1, got $salt")
    if (salt == 1) df.repartition(col(bucket))
    else df.repartition(col(bucket), pmod(xxhash64(col("id")), lit(salt)))
  }

  /** One-pass index build: signature + norm per vector, partitioned by
    * signature. Deterministic hyperplanes → rebuildable/appendable.
    *
    * Precondition (shared by every build/query pair here): `idCol` is
    * UNIQUE over the corpus. Each row then lives in exactly one sig
    * partition and multi-probe joins yield each (query, neighbor) pair
    * at most once — what lets [[query]] skip a dedup exchange. Duplicate
    * ids would surface as duplicate (query_id, neighbor_id) rows at
    * distinct ranks, eating top-k slots. */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            path: String, planes: Int = 8, filesPerBucket: Int = 4): Unit = {
    // Cluster by the partition column before the partitioned write (the
    // hash write-distribution mode): without it every scan task emits a
    // file per signature it sees — tasks × 2^planes small files whose
    // open/footer cost lands on every probe; with it each bucket is
    // ≤ filesPerBucket files, written filesPerBucket-way parallel even
    // when one sign-bit bucket is hot ([[saltedBy]]). The shuffle moves
    // each vector once.
    saltedBy(corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
        SimilarityOps.norm(col(vecCol)).as("nrm"),
        SimilarityOps.lshSignature(col(vecCol), planes).as("sig")),
        "sig", filesPerBucket)
      .write.mode("overwrite").partitionBy("sig").parquet(path)
  }

  /** Top-k query against the materialized index with multi-probe (own
    * bucket + every bucket within Hamming distance `probeDepth` — the
    * same recall dial as [[SimilarityOps.lshTopK]]). The probe signature
    * set becomes a partition filter, so deeper probing reads more
    * partitions but still never lists the rest. Output: (query_id,
    * neighbor_id, rank, cosine). */
  def query(spark: SparkSession, path: String, queries: DataFrame,
            idCol: String, vecCol: String, k: Int, planes: Int = 8,
            probeDepth: Int = 1): DataFrame = {
    require(probeDepth >= 0 && probeDepth <= planes,
      s"probeDepth must be in [0, planes=$planes], got $probeDepth")
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      SimilarityOps.norm(col(vecCol)).as("qn"),
      SimilarityOps.lshSignature(col(vecCol), planes).as("sig0"))
    val probeSigs = array(SimilarityOps.probeMasks(planes, probeDepth).map(m =>
      col("sig0").bitwiseXOR(lit(m))): _*)
    val q = q0.select(col("query_id"), col("qv"), col("qn"),
      explode(probeSigs).as("sig"))
    val index = spark.read.parquet(path)
    // No dedup: each index row lives in exactly ONE sig partition and a
    // query's probe signatures are distinct (XOR of distinct masks), so
    // a (query, id) pair joins at most once — a dropDuplicates here cost
    // a full exchange of the candidate set for rows unique by construction.
    val scored = index.join(broadcast(q), Seq("sig"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("cosine",
        SimilarityOps.dot(col("qv"), col("vec")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** [[build]] with int8-quantized vector storage ([[Quantize]]): the
    * index parquet holds (q_codes, q_scale) instead of the float vector —
    * ~4× smaller files, so at 100 TB each probe reads a quarter of the
    * bytes per bucket. Signatures hash the ORIGINAL floats, so bucket
    * routing is identical to the float index; only the re-rank arithmetic
    * carries the ≤ scale/2 per-element band. */
  def buildQuantized(corpus: DataFrame, idCol: String, vecCol: String,
                     path: String, planes: Int = 8,
                     filesPerBucket: Int = 4): Unit = {
    saltedBy(Quantize.quantizeInt8Packed(
        corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
          SimilarityOps.lshSignature(col(vecCol), planes).as("sig")),
        "vec")
      .select(col("id"), col("q_bytes"), col("q_scale"), col("sig")),
      "sig", filesPerBucket) // see [[build]]/[[saltedBy]]
      .write.mode("overwrite").partitionBy("sig").parquet(path)
  }

  /** [[query]] against a [[buildQuantized]] index: queries quantize on
    * the fly and re-rank with [[Quantize.quantizedCosine]]. Same
    * partition-filter probe geometry; ranking drifts only where true
    * cosines sit within the quantization band of each other. */
  def queryQuantized(spark: SparkSession, path: String, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int, planes: Int = 8,
                     probeDepth: Int = 1): DataFrame = {
    require(probeDepth >= 0 && probeDepth <= planes,
      s"probeDepth must be in [0, planes=$planes], got $probeDepth")
    val q0 = Quantize.quantizeInt8Packed(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
          SimilarityOps.lshSignature(col(vecCol), planes).as("sig0")),
        "qv")
      .select(col("query_id"), col("q_bytes").as("qb"), col("sig0"))
    val probeSigs = array(SimilarityOps.probeMasks(planes, probeDepth).map(m =>
      col("sig0").bitwiseXOR(lit(m))): _*)
    val q = q0.select(col("query_id"), col("qb"), explode(probeSigs).as("sig"))
    val index = spark.read.parquet(path)
    // No dedup — see [[query]]: (query, id) pairs are unique by construction.
    val scored = index.join(broadcast(q), Seq("sig"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("cosine", Quantize.packedCosine(col("qb"), col("q_bytes")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** [[build]] with PRODUCT-QUANTIZED storage ([[ProductQuantizer]]): the
    * index holds (id, nrm, m-byte codes) — for 64-dim float32 embeddings
    * at m=16 that is 16 bytes of codes + 8 of norm per vector vs 256 of
    * floats, so each probed bucket reads ~10× fewer bytes than the float
    * index and ~3× fewer than int8. Signatures hash the ORIGINAL floats
    * (identical bucket routing to [[build]]/[[buildQuantized]]); the
    * model is returned for the probe side (m·ksub·dsub doubles — the
    * same bounded driver artifact as every centroid set; persist via
    * [[SnapshotStore.getOrBuildVectors]] on [[ProductQuantizer.PqModel.toRows]]). */
  def buildPq(corpus: DataFrame, idCol: String, vecCol: String,
              path: String, planes: Int = 8, m: Int = 16, ksub: Int = 16,
              iters: Int = 2, dim: Int = 64,
              sampleHexPrefix: Option[String] = None,
              filesPerBucket: Int = 4): ProductQuantizer.PqModel = {
    // one-collect sampled trainer: the m-separate-fits path costs ~6·m
    // Spark jobs of pure scheduler overhead per build (measured 12 s vs
    // ~2 s at sf0.1); at scale pass sampleHexPrefix to bound the pull
    val model = ProductQuantizer.trainOnSample(corpus, idCol, vecCol, dim, m, ksub,
      iters, sampleHexPrefix)
    saltedBy(corpus.select(col(idCol).as("id"),
        SimilarityOps.norm(col(vecCol)).as("nrm"),
        ProductQuantizer.encode(col(vecCol), model).as("codes"),
        SimilarityOps.lshSignature(col(vecCol), planes).as("sig")),
        "sig", filesPerBucket) // see [[build]]/[[saltedBy]]
      .write.mode("overwrite").partitionBy("sig").parquet(path)
    model
  }

  /** Query a [[buildPq]] index: partition-filtered multi-probe (the q82
    * geometry), ADC-approximate ranking over the codes, then EXACT
    * cosine re-rank of the top `k·rerank` survivors against the original
    * corpus vectors. The approximate stage uses the bounded-heap
    * [[TopK]] aggregate (map-side combine, never a full-data window);
    * the survivor set is queries×k×rerank rows — broadcast-bounded by
    * construction — so the exact stage is one broadcast join into the
    * base table. PQ error only affects WHICH candidates reach the exact
    * stage; `rerank` is the recall dial. */
  def queryPq(spark: SparkSession, path: String, queries: DataFrame,
              corpus: DataFrame, idCol: String, vecCol: String,
              model: ProductQuantizer.PqModel, k: Int, planes: Int = 8,
              probeDepth: Int = 1, rerank: Int = 4): DataFrame = {
    require(probeDepth >= 0 && probeDepth <= planes,
      s"probeDepth must be in [0, planes=$planes], got $probeDepth")
    require(rerank >= 1, s"rerank must be >= 1, got $rerank")
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      SimilarityOps.norm(col(vecCol)).as("qn"),
      ProductQuantizer.lut(col(vecCol), model).as("lut"),
      SimilarityOps.lshSignature(col(vecCol), planes).as("sig0"))
    val probeSigs = array(SimilarityOps.probeMasks(planes, probeDepth).map(mk =>
      col("sig0").bitwiseXOR(lit(mk))): _*)
    val q = q0.select(col("query_id"), col("lut"), col("qn"),
      explode(probeSigs).as("sig"))
    val index = spark.read.parquet(path)
    // No dedup — see [[query]]: (query, id) pairs are unique by construction.
    val approx = index.join(broadcast(q), Seq("sig"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("approx",
        ProductQuantizer.adc(col("lut"), col("codes"), model.ksub) /
          (col("qn") * col("nrm")))
    val survivors = TopK.perGroup(approx, Seq("query_id"), "approx", "id", k * rerank)
      .select(col("query_id"), col("id"))
    // exact re-rank: original vectors for the survivor set only
    val qv = q0.select(col("query_id"), col("qv"), col("qn"))
    val exact = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
        SimilarityOps.norm(col(vecCol)).as("nrm"))
      .join(broadcast(survivors), Seq("id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine",
        SimilarityOps.dot(col("qv"), col("vec")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** [[build]] with a LEARNED coarse quantizer: k-means cells instead of
    * hyperplane sign buckets. Cells adapt to the data distribution, so at
    * the same probe count they capture more true neighbors than random
    * hyperplanes (measured in the q102 recall oracle: nProbe=2 of k=8
    * beats probeDepth=2 hyperplane probing on the same corpus). Returns
    * the centroids — the probe side needs them (k·dim doubles, the same
    * bounded driver artifact [[KMeansOps.fit]] maintains). */
  def buildKMeans(corpus: DataFrame, idCol: String, vecCol: String,
                  path: String, k: Int = 8, iters: Int = 2,
                  filesPerCell: Int = 8): Array[Array[Double]] = {
    val cent = KMeansOps.fit(corpus, idCol, vecCol, k, iters)
    // filesPerCell default is higher than the sig builds': `cell` has
    // only k distinct values (default 8), so an unsalted repartition
    // collapsed the ENTIRE corpus write to ≤ k tasks — each holding and
    // writing a whole cell (r21 advisor, medium). The salt bounds
    // per-task mass at cell/salt while keeping files ≤ salt per cell.
    saltedBy(corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
        SimilarityOps.norm(col(vecCol)).as("nrm"),
        KMeansOps.nearestCentroid(col(vecCol), cent).as("cell")),
        "cell", filesPerCell)
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    cent
  }

  /** Top-k query against a [[buildKMeans]] index: each query probes its
    * `nProbe` nearest cells ([[KMeansOps.nearestCentroids]]), the probe list joins
    * the index on the PARTITION column so scans prune to the probed
    * cells' files, and exact cosine re-ranks the candidates. */
  def queryKMeans(spark: SparkSession, path: String, queries: DataFrame,
                  idCol: String, vecCol: String, centroids: Array[Array[Double]],
                  k: Int, nProbe: Int = 2): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        SimilarityOps.norm(col(vecCol)).as("qn"),
        explode(KMeansOps.nearestCentroids(col(vecCol), centroids, nProbe)).as("cell"))
    val index = spark.read.parquet(path)
    val scored = index.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("cosine",
        SimilarityOps.dot(col("qv"), col("vec")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"), col("cosine"))
  }
}
