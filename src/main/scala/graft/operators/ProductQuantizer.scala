package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization — the compression step past scalar int8
  * ([[Quantize]]): split each dim-D vector into `m` subvectors of
  * D/m dims, learn a `ksub`-entry k-means codebook PER subvector
  * position, and store each vector as m one-byte codes. At ksub ≤ 256
  * that is m bytes/vector — for 64-dim float32 embeddings with m=16,
  * 16 bytes instead of 256 (16×). Queries never decode: the asymmetric
  * distance computation (ADC) precomputes one m×ksub lookup table of
  * `q_sub · centroid` dots per query, and every candidate's approximate
  * inner product is m table lookups. Survivors of the approximate
  * ranking are re-ranked EXACTLY against the original vectors
  * ([[AnnIndex.queryPq]]), so PQ error affects only which candidates
  * reach the exact stage — the recall dial is the re-rank pool size.
  *
  * Training composes the existing k-means machinery: one
  * [[KMeansOps.fit]] / [[KMeansOps.fitSampled]] per subvector position
  * over sliced vectors — at 100 TB the sampled path is the regime
  * (bounded training pass; codebooks are m·ksub·dsub doubles, a
  * driver/broadcast artifact like every centroid set in this engine,
  * persistable via [[SnapshotStore.getOrBuildVectors]]).
  */
object ProductQuantizer {

  /** Trained PQ model: codebooks(mi)(j) is the dsub-dim centroid j of
    * subvector position mi. `flat`/`cc` are the precomputed layouts the
    * PQ kernels read; the model is their model argument ([[Kernel.model]]),
    * which plans print as `pq[m=…,ksub=…,dsub=…]`. */
  final case class PqModel(m: Int, dsub: Int, ksub: Int,
                           codebooks: Array[Array[Array[Double]]]) {
    require(codebooks.length == m, s"expected $m codebooks, got ${codebooks.length}")
    require(codebooks.forall(_.length == ksub),
      "every codebook must have ksub entries")
    private[graft] lazy val flat: Array[Double] = {
      val f = new Array[Double](m * ksub * dsub)
      var mi = 0
      while (mi < m) {
        var j = 0
        while (j < ksub) {
          System.arraycopy(codebooks(mi)(j), 0, f, ((mi * ksub) + j) * dsub, dsub)
          j += 1
        }
        mi += 1
      }
      f
    }
    private[graft] lazy val cc: Array[Double] = {
      val c = new Array[Double](m * ksub)
      var mi = 0
      while (mi < m) {
        var j = 0
        while (j < ksub) {
          var s = 0.0
          var d = 0
          while (d < dsub) { val x = codebooks(mi)(j)(d); s += x * x; d += 1 }
          c(mi * ksub + j) = s
          j += 1
        }
        mi += 1
      }
      c
    }
    /** Flattened (m·ksub) × dsub row list for [[SnapshotStore]] persistence. */
    def toRows: Array[Array[Double]] = codebooks.flatten

    override def toString: String = s"pq[m=$m,ksub=$ksub,dsub=$dsub]"
  }

  /** Rebuild a model from [[PqModel.toRows]] (the SnapshotStore shape). */
  def fromRows(m: Int, dsub: Int, ksub: Int, rows: Array[Array[Double]]): PqModel = {
    require(rows.length == m * ksub, s"expected ${m * ksub} rows, got ${rows.length}")
    PqModel(m, dsub, ksub, rows.grouped(ksub).toArray)
  }

  /** Train m per-subvector codebooks with the existing k-means fitter.
    * `sampleHexPrefix` selects [[KMeansOps.fitSampled]]'s bounded
    * training pass (the 100 TB regime); None fits on the full relation
    * (test SFs). A subvector fit that converges to fewer than ksub
    * distinct centroids is padded by repeating its last centroid —
    * codes stay in [0, ksub) either way. */
  def train(df: DataFrame, idCol: String, vecCol: String, dim: Int,
            m: Int, ksub: Int, iters: Int = 2,
            sampleHexPrefix: Option[String] = None): PqModel = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
    require(ksub >= 1 && ksub <= 256, s"ksub must be in [1,256], got $ksub")
    val dsub = dim / m
    val books = (0 until m).map { mi =>
      val sub = df.select(col(idCol),
        slice(col(vecCol), mi * dsub + 1, dsub).as("__pq_sub"))
      val cent = sampleHexPrefix match {
        case Some(p) => KMeansOps.fitSampled(sub, idCol, "__pq_sub", ksub, iters, p)
        case None    => KMeansOps.fit(sub, idCol, "__pq_sub", ksub, iters)
      }
      if (cent.length == ksub) cent
      else cent ++ Array.fill(ksub - cent.length)(cent.last)
    }.toArray
    PqModel(m, dsub, ksub, books)
  }

  /** [[train]] with ONE bounded sample collect and driver-side Lloyd's
    * per subvector — the job-count-efficient trainer. The distributed
    * [[train]] runs m separate fits (each: init collect + iters
    * aggregation jobs — ~6·m Spark jobs), which is pure scheduler
    * overhead when PQ training data is a bounded sample ANYWAY (the
    * standard PQ regime: faiss-style trainers sample into memory). This
    * path pays one job: collect the (md5-prefix) sample — bound enforced
    * by `maxSample`, exceeding it errors with the fix (pass a longer
    * prefix) — then runs all m Lloyd's loops on the driver: m·ksub·dsub·
    * n·iters flops, milliseconds at any sane geometry. Same algorithm as
    * [[KMeansOps.fit]] (init = first ksub sample rows by id; cc − 2·dot
    * argmin with strict-< lowest-index ties; empty cluster keeps its
    * previous centroid; NULL vectors skipped). */
  def trainOnSample(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                    m: Int, ksub: Int, iters: Int = 2,
                    sampleHexPrefix: Option[String] = None,
                    maxSample: Int = 1 << 17): PqModel = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
    require(ksub >= 1 && ksub <= 256, s"ksub must be in [1,256], got $ksub")
    val dsub = dim / m
    val src = sampleHexPrefix match {
      case Some(p) =>
        df.filter(substring(md5(col(idCol).cast("string")), 1, p.length) === p)
      case None => df
    }
    val rows = src.select(col(idCol).cast("long"), col(vecCol))
      .filter(col(vecCol).isNotNull).collect()
    require(rows.length <= maxSample,
      s"PQ training sample ${rows.length} exceeds maxSample=$maxSample — " +
        "pass a (longer) sampleHexPrefix to bound the driver pull")
    require(rows.length >= ksub,
      s"PQ training needs >= ksub=$ksub sample vectors, got ${rows.length}")
    val vecs = rows.sortBy(_.getLong(0)).map { r =>
      val s = r.getSeq[Float](1)
      Array.tabulate(dim)(i => if (i < s.length && s(i) != null) s(i).toDouble else 0.0)
    }
    val books = Array.tabulate(m) { mi =>
      val subs = vecs.map(v => java.util.Arrays.copyOfRange(v, mi * dsub, (mi + 1) * dsub))
      lloydDriver(subs, ksub, iters)
    }
    PqModel(m, dsub, ksub, books)
  }

  /** Driver Lloyd's with [[KMeansOps.fit]]'s exact conventions. */
  private def lloydDriver(xs: Array[Array[Double]], k: Int,
                          iters: Int): Array[Array[Double]] = {
    val dsub = xs(0).length
    var cent = xs.take(k).map(_.clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dsub))
      val cnt = new Array[Long](k)
      val cc = cent.map { c =>
        var s = 0.0; var i = 0
        while (i < dsub) { s += c(i) * c(i); i += 1 }
        s
      }
      xs.foreach { x =>
        var best = 0
        var bestD = Double.PositiveInfinity
        var j = 0
        while (j < k) {
          var s = 0.0; var i = 0
          while (i < dsub) { s += x(i) * cent(j)(i); i += 1 }
          val d = cc(j) - 2.0 * s
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        var i = 0
        while (i < dsub) { sums(best)(i) += x(i); i += 1 }
        cnt(best) += 1
      }
      cent = Array.tabulate(k) { j =>
        if (cnt(j) == 0) cent(j)
        else Array.tabulate(dsub)(i => sums(j)(i) / cnt(j))
      }
      it += 1
    }
    cent
  }

  /** `pq_encode(vec)` → BINARY of m one-byte codes ([[GraftRuntime.pqEncode]]). */
  def encode(vec: Column, model: PqModel): Column =
    Kernel.pqEncode(vec, Kernel.model(model), lit(model.m), lit(model.dsub), lit(model.ksub))

  /** `pq_lut(vec)` → ARRAY<DOUBLE> of m·ksub subvector-centroid dots (one
    * per query; the ADC table, [[GraftRuntime.pqLut]]). */
  def lut(vec: Column, model: PqModel): Column =
    Kernel.pqLut(vec, Kernel.model(model), lit(model.m), lit(model.dsub), lit(model.ksub))

  /** `pq_adc(lut, codes)` → DOUBLE approximate inner product ([[GraftRuntime.pqAdc]]). */
  def adc(lut: Column, codes: Column, ksub: Int): Column = Kernel.pqAdc(lut, codes, lit(ksub))
}
