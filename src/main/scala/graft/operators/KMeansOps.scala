package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed k-means (Lloyd's) and SemDeDup-style semantic dedup over
  * an embedding column.
  *
  * Spark-first shape (the same one MLlib's KMeans uses, re-expressed on
  * the DataFrame API):
  *  - centroids live on the driver (k·dim doubles — a bounded, documented
  *    pull; 1000 clusters × 1024 dims = 8 MB) and reach executors as the
  *    [[Centroids]] model argument of the [[GraftRuntime.nearestCentroid]]
  *    kernel, so assignment is one codegen'd scan with no join and no
  *    shuffle of vectors;
  *  - the update step shuffles only `partitions × k × dim` partially
  *    aggregated (cluster, pos, sum, count) rows — never a vector — and
  *    collects at most k·dim rows back to the driver per iteration.
  *
  * At 100 TB: per iteration = one corpus scan + one k·dim-bounded
  * shuffle. k is the scale dial — SemDeDup-style pipelines raise k with
  * corpus size (the paper uses ~11k clusters for 1B+ docs) so per-cluster
  * pair work stays bounded; nothing here holds more than k·dim doubles in
  * any single place.
  *
  * Determinism: init is the k vectors with the smallest ids, iteration
  * count is fixed (no convergence test), ties take the lowest cluster
  * index — so the whole run is reproducible and oracle-mirrorable in SQL. */
object KMeansOps {

  /** A k×dim centroid matrix in the row-major layout the nearest-centroid
    * kernels read: `flat` holds the rows back to back, `cc` each row's
    * self-inner-product (left-to-right fold, the order DuckDB's
    * `list_inner_product(cv, cv)` evaluates in). Built once on the driver
    * per Column; plans print it as `centroids[k=…,dim=…]`. */
  final class Centroids(centroids: Array[Array[Double]]) extends Serializable {
    require(centroids.nonEmpty, "nearest_centroid requires at least one centroid")
    require(centroids.forall(_.length == centroids(0).length),
      "nearest_centroid requires equal-dimension centroids")
    val dim: Int = centroids(0).length
    val flat: Array[Double] = centroids.flatten
    val cc: Array[Double] = centroids.map { c =>
      var s = 0.0
      var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    }
    override def toString: String = s"centroids[k=${cc.length},dim=$dim]"
  }

  /** Nearest-centroid cluster index of `vec` ([[GraftRuntime.nearestCentroid]];
    * bit-identical to [[nearestCentroidRef]], pinned by a property test). */
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column = {
    val c = new Centroids(centroids)
    Kernel.nearestCentroid(vec, Kernel.model(c), lit(c.dim))
  }

  /** The `n` nearest centroid indices, ascending by distance (the IVF
    * multi-probe list; [[GraftRuntime.nearestCentroidsN]] — with n=1 it
    * equals `array(`[[nearestCentroid]]`)`, pinned by a property test). */
  def nearestCentroids(vec: Column, centroids: Array[Array[Double]], n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    val c = new Centroids(centroids)
    Kernel.nearestCentroids(vec, Kernel.model(c), lit(c.dim), lit(n))
  }

  /** Reference formulation of [[nearestCentroid]] (property-test pin): one
    * interpreted `zip_with`/`aggregate` inner-product fold per centroid,
    * argmin via lexicographic `array_sort` over (distance, index) structs. */
  private[graft] def nearestCentroidRef(vec: Column,
                                        centroids: Array[Array[Double]]): Column = {
    val entries = centroids.zipWithIndex.map { case (c, j) =>
      var ccj = 0.0
      var i = 0
      while (i < c.length) { ccj += c(i) * c(i); i += 1 }
      val ip = aggregate(
        zip_with(vec, typedLit(c.toSeq), (x, y) => coalesce(x.cast("double"), lit(0.0)) * y),
        lit(0.0), (acc, v) => acc + v)
      struct((lit(ccj) - lit(2.0) * ip).as("d"), lit(j).as("j"))
    }
    element_at(array_sort(array(entries: _*)), 1).getField("j")
  }

  /** Deterministic init: the k vectors with the smallest ids, as doubles
    * (floats are exact in double). Bounded driver pull: k vectors. */
  def initCentroids(df: DataFrame, idCol: String, vecCol: String,
                    k: Int): Array[Array[Double]] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rows = df.select(col(idCol), col(vecCol))
      .filter(col(vecCol).isNotNull) // NULL vectors carry no geometry
      .orderBy(col(idCol)).limit(k).collect()
    require(rows.length == k, s"k=$k exceeds the ${rows.length} input rows")
    rows.map(_.getSeq[Float](1).map(_.toDouble).toArray)
  }

  /** `iters` full Lloyd updates from [[initCentroids]]. A cluster that
    * loses every member keeps its previous centroid (the oracle's data
    * regime never produces one; the unit test pins the behavior). */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
          iters: Int): Array[Array[Double]] = {
    var cent = initCentroids(df, idCol, vecCol, k)
    val dim = cent(0).length
    // NULL vectors are skipped (they assign to a NULL cluster, which would
    // NPE the driver-side centroid fold) — consistent with the aggregates'
    // NULL-skip convention
    val base = df.select(col(vecCol).as("vec")).filter(col("vec").isNotNull)
    var it = 0
    while (it < iters) {
      // Partial aggregation bounds the shuffle at k·dim rows per task;
      // the collect is ≤ k·dim rows (the documented bounded pull).
      val sums = base
        .select(nearestCentroid(col("vec"), cent).as("cluster"),
          posexplode(col("vec")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos")
        .agg(sum(col("v").cast("double")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cent.map(_.clone())
      sums.foreach { r =>
        val cl = r.getInt(0)
        next(cl)(r.getInt(1)) = r.getDouble(2) / r.getLong(3)
      }
      cent = next
      it += 1
    }
    cent
  }

  /** The input plus a `cluster` column — one codegen'd scan, no shuffle. */
  def assign(df: DataFrame, vecCol: String,
             centroids: Array[Array[Double]]): DataFrame =
    df.withColumn("cluster", nearestCentroid(col(vecCol), centroids))

  /** [[fit]] restricted to a deterministic md5 sample of the corpus — how
    * centroid training actually runs at 100 TB: Lloyd's full-pass scans
    * over the whole corpus are wasteful when a bounded sample pins the
    * cell geometry just as well (IVF trainers sample; so does SemDeDup).
    * The sample predicate (`md5(id)` starts with `sampleHexPrefix`) is
    * engine-portable, so the sampled fit stays exactly oracle-replayable;
    * assignment downstream is still full-corpus. Rate = 16^-len(prefix). */
  def fitSampled(df: DataFrame, idCol: String, vecCol: String, k: Int,
                 iters: Int, sampleHexPrefix: String = "0"): Array[Array[Double]] = {
    require(sampleHexPrefix.nonEmpty &&
      sampleHexPrefix.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')),
      s"sampleHexPrefix must be lowercase hex, got '$sampleHexPrefix'")
    fit(df.filter(substring(md5(col(idCol).cast("string")), 1,
      sampleHexPrefix.length) === sampleHexPrefix), idCol, vecCol, k, iters)
  }

  /** Per-cluster profile of an assignment against given centroids: size,
    * smallest member id, and the centroid norm (rounded for FP-stable
    * comparison). The norm comes from the driver-held centroids via a
    * literal lookup — no join. */
  def profile(df: DataFrame, idCol: String, vecCol: String,
              centroids: Array[Array[Double]]): DataFrame = {
    val norms = centroids.map { c =>
      var s = 0.0
      var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }
    assign(df, vecCol, centroids)
      .groupBy(col("cluster").cast("long").as("cluster"))
      .agg(count(lit(1)).as("n_members"), min(col(idCol)).as("min_member"))
      .withColumn("centroid_norm",
        round(element_at(typedLit(norms.toSeq), (col("cluster") + 1).cast("int")), 6))
  }

  /** [[profile]] after a full [[fit]]. */
  def clusterProfile(df: DataFrame, idCol: String, vecCol: String, k: Int,
                     iters: Int): DataFrame =
    profile(df, idCol, vecCol, fit(df, idCol, vecCol, k, iters))

  /** SemDeDup-style semantic dedup: a row is dropped when some SAME-CLUSTER
    * row with a smaller id has cosine ≥ `tau` to it. Clustering is what
    * makes this scale — candidate pairs are an equi-join on `cluster`
    * (Σ|c|² pair work, bounded by raising k with corpus size), never the
    * all-pairs cross join. Output: (id, cluster, kept). */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               centroids: Array[Array[Double]], tau: Double): DataFrame = {
    val a = assign(df.select(col(idCol).as("id"), col(vecCol).as("vec")), "vec", centroids)
      .withColumn("nrm", SimilarityOps.norm(col("vec")))
    val dropped = a.as("b").join(a.as("a"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id") &&
          SimilarityOps.dot(col("a.vec"), col("b.vec")) /
            (col("a.nrm") * col("b.nrm")) >= tau,
        "left_semi")
      .select(col("id"), lit(true).as("is_dup"))
    a.join(dropped, Seq("id"), "left_outer")
      .select(col("id"), col("cluster"),
        coalesce(!col("is_dup"), lit(true)).as("kept"))
  }

  /** [[semDedup]] with QUALITY-AWARE survivorship: within a cluster, a
    * row is dropped when some mate within cosine `tau` has HIGHER
    * `priorityCol` (or equal priority and a smaller id — the exact
    * deterministic tie-break). Production dedup keeps the best copy
    * (longest, highest quality score), not the earliest-crawled one; the
    * best mate of any dup neighborhood has no better neighbor, so every
    * neighborhood keeps at least one row. Same cluster-keyed equi-join
    * shape as [[semDedup]]. Output: (id, cluster, priority, kept). */
  def semDedupByPriority(df: DataFrame, idCol: String, vecCol: String,
                         priorityCol: String, centroids: Array[Array[Double]],
                         tau: Double): DataFrame = {
    val a = assign(df.select(col(idCol).as("id"), col(vecCol).as("vec"),
        col(priorityCol).as("priority")), "vec", centroids)
      .withColumn("nrm", SimilarityOps.norm(col("vec")))
    val dropped = a.as("b").join(a.as("a"),
        col("a.cluster") === col("b.cluster") &&
          (col("a.priority") > col("b.priority") ||
            (col("a.priority") === col("b.priority") && col("a.id") < col("b.id"))) &&
          SimilarityOps.dot(col("a.vec"), col("b.vec")) /
            (col("a.nrm") * col("b.nrm")) >= tau,
        "left_semi")
      .select(col("id"), lit(true).as("is_dup"))
    a.join(dropped, Seq("id"), "left_outer")
      .select(col("id"), col("cluster"), col("priority"),
        coalesce(!col("is_dup"), lit(true)).as("kept"))
  }

  /** Cross-batch [[semDedup]] against an already-curated corpus: the new
    * batch is assigned to the STORED centroids (no re-clustering — the
    * incremental-snapshot discipline of [[IncrementalDedup]] /
    * `DedupOps.crossMinhashPairs`, applied to the semantic operator). A
    * batch row is dropped when some same-cluster HISTORY row (history
    * always precedes the batch) or some smaller-id same-cluster BATCH row
    * sits within cosine `tau`. Per-batch cost = batch assignment + two
    * cluster-keyed equi-joins — batch × |cluster slices touched|, never
    * batch × full history all-pairs. Output over batch rows only:
    * (id, cluster, kept). */
  def incrementalSemDedup(history: DataFrame, batch: DataFrame, idCol: String,
                          vecCol: String, centroids: Array[Array[Double]],
                          tau: Double): DataFrame = {
    def prep(df: DataFrame): DataFrame =
      assign(df.select(col(idCol).as("id"), col(vecCol).as("vec")), "vec", centroids)
        .withColumn("nrm", SimilarityOps.norm(col("vec")))
    // ONE semi-join against the union of both "predecessor" relations
    // (r22): history rows always precede the batch, batch mates precede
    // by id — flag the side instead of running two separate cluster-keyed
    // joins. The former two-join shape shuffled the batch twice and paid
    // a union + distinct exchange on the drop set; a left_semi result is
    // distinct by construction, so the merged join is one shuffle of
    // history ∪ batch and one of the batch, with identical output.
    val h = prep(history)
    val b = prep(batch)
    val pred = h.withColumn("__pre_batch", lit(true))
      .unionByName(b.withColumn("__pre_batch", lit(false)))
    def cosAb: Column = SimilarityOps.dot(col("a.vec"), col("b.vec")) /
      (col("a.nrm") * col("b.nrm"))
    val dropped = b.as("b").join(pred.as("a"),
        col("a.cluster") === col("b.cluster") &&
          (col("a.__pre_batch") || col("a.id") < col("b.id")) && cosAb >= tau,
        "left_semi")
      .select(col("id"))
      .withColumn("is_dup", lit(true))
    b.join(dropped, Seq("id"), "left_outer")
      .select(col("id"), col("cluster"),
        coalesce(!col("is_dup"), lit(true)).as("kept"))
  }
}
