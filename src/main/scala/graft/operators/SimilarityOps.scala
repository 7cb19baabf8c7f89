package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over embedding columns
  * (`Array[Float]`).
  *
  * Two paths:
  *  - [[cosineTopK]] — brute force, the correctness baseline. The query
  *    side is broadcast (it is small by construction), so the plan is a
  *    BroadcastNestedLoopJoin over the corpus with no shuffle of corpus
  *    rows; per-row work is a codegen'd `zip_with`/`aggregate` dot product.
  *  - [[lshTopK]] — the scale path: random-hyperplane LSH buckets the
  *    corpus once (cost O(n·planes)), then candidates are an equi-join on
  *    bucket signature before exact re-ranking. At 100 TB the bucketed
  *    corpus would be written partitioned by signature so probes prune to
  *    a handful of partitions (IVF-style).
  *
  * All dot products run in double precision over the float vectors,
  * left-to-right, matching DuckDB's list functions for oracle parity.
  */
object SimilarityOps {

  /** Double-precision dot product of two float vectors (native
    * [[GraftRuntime.dot]]; bit-identical to the composed zip_with/aggregate
    * fold, pinned by a property test). */
  def dot(a: Column, b: Column): Column = Kernel.dot(a, b)

  /** Reference formulation of [[dot]] (property-test pin). */
  private[graft] def dotArrayOps(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k cosine neighbors for each query vector.
    * Output: (query_id, neighbor_id, rank, cosine).
    * Norms are precomputed once per side before the pair loop — computing
    * them inside the loop multiplies the work by the pair count. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Sign-bit signature of a vector against `planes` deterministic
    * pseudo-random hyperplanes (native [[GraftRuntime.lshSignature]];
    * bit-identical to the composed zip_with/aggregate folds, pinned by a
    * property test). */
  def lshSignature(vec: Column, planes: Int): Column = {
    require(planes >= 1 && planes <= 63,
      s"planes must be in [1, 63] (sign bits packed into one long), got $planes")
    Kernel.lshSignature(vec, lit(planes))
  }

  /** Deterministic pseudo-random hyperplane component: plane `p`,
    * dimension `j` → a value in [-1, 1] derived from xxhash64. No RNG
    * state, so every executor and every run derives identical planes. */
  private def planeComponent(p: Int, j: Column): Column =
    (xxhash64(lit(p) * 100003 + j).cast("double") / lit(Long.MaxValue.toDouble))

  /** Reference formulation of [[lshSignature]] (property-test pin): one
    * interpreted `zip_with`/`aggregate` fold per plane, re-deriving each
    * hyperplane component through a hash lambda per element. */
  private[graft] def lshSignatureArrayOps(vec: Column, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, j) => x.cast("double") * planeComponent(p, j)),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, lit(1L) * (1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** LSH-bucketed approximate top-k with exact re-ranking inside buckets.
    *
    * Multi-probe: the query side also probes every bucket within
    * Hamming distance `probeDepth` of its own signature (the standard
    * recall lever — a near neighbor most often differs in only a few
    * hyperplane signs; same dial as [[cosineNearDupPairs]]). Probing
    * multiplies only the broadcast-small query side by the Hamming-ball
    * size; the corpus is still bucketed once and never shuffled.
    * Recall < 1 by construction; pair with [[cosineTopK]] as ground
    * truth. Output: (query_id, neighbor_id, rank, cosine). */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, planes: Int = 12,
              multiProbe: Boolean = true,
              probeDepth: Int = 1): DataFrame = {
    require(probeDepth >= 0 && probeDepth <= planes,
      s"probeDepth must be in [0, planes=$planes], got $probeDepth")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"), lshSignature(col(vecCol), planes).as("sig"))
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"), lshSignature(col(vecCol), planes).as("sig0"))
    val probeSigs =
      if (multiProbe)
        array(probeMasks(planes, probeDepth).map(m =>
          col("sig0").bitwiseXOR(lit(m))): _*)
      else array(col("sig0"))
    val q = q0.select(col("query_id"), col("qv"), col("qn"),
      explode(probeSigs).as("sig"))
    // No dedup: each corpus row carries exactly ONE signature and the
    // probe masks are distinct, so XOR keeps the probe signatures of one
    // query distinct — a (query, neighbor) pair can join at most once.
    // (A dropDuplicates here cost a full exchange of the candidate set
    // for rows that are unique by construction.)
    val scored = c.join(broadcast(q), Seq("sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** XOR masks for every signature within Hamming distance `depth` of a
    * probe signature (the identity mask first). Count is Σ C(planes, d)
    * for d ≤ depth — the caller's recall/cost dial.
    *
    * Capped at 512 masks: every mask becomes one XOR expression in an
    * `array(...)` literal AND one exploded probe row per query, so the
    * ball size multiplies both codegen size and the probe join's fan-out.
    * e.g. (planes=12, depth=6) is already 2,510 masks — past any sane
    * recall/cost point; raise recall with more bands or a deeper re-rank
    * instead of a Hamming ball that swallows the bucket space. */
  private[graft] def probeMasks(planes: Int, depth: Int): Seq[Long] = {
    // count the ball arithmetically BEFORE enumerating: C(63, 31)-class
    // inputs must hit the error message, not hang the driver inside
    // combinations(); saturate at the first sum past the cap
    var ballSize = 0L
    var c = 1L // C(planes, d), built incrementally
    var d = 0
    while (d <= depth && ballSize <= 512) {
      ballSize += c
      c = c * (planes - d) / (d + 1)
      d += 1
    }
    require(ballSize <= 512,
      s"probeDepth=$depth over planes=$planes expands to > 512 probe " +
        "masks: each mask is one generated XOR expression and one " +
        "exploded probe row per query — lower probeDepth, or trade recall " +
        "via more planes/bands instead")
    def masksAt(n: Int): Seq[Long] =
      (0 until planes).combinations(n).map(_.map(1L << _).reduce(_ | _)).toSeq
    (0 to depth).flatMap(n => if (n == 0) Seq(0L) else masksAt(n))
  }

  /** Planes sized to the corpus — the BASELINE.md "planes ∝ log₂(corpus)"
    * scale dial as POLICY rather than prose (the sizing-derivation pattern
    * of [[graft.streaming.StreamingDedup.bloomSizing]]: the cost dial is
    * derived from a caller-estimated size, so it cannot be misconfigured
    * silently). Holds expected bucket occupancy n/2^planes at
    * `targetBucket`, so LSH candidate volume stays ~linear in n:
    * planes = ceil(log₂(n / targetBucket)), clamped to [4, 24].
    *
    * targetBucket=125 reproduces the measured knee for this corpus class
    * (2 000 vectors → 4 planes, the r14 recall-mapped operating point;
    * 20 000 → 8, the r12-measured 2.4×/10× configuration). Recall at
    * fixed probeDepth falls as planes rise — callers holding a recall
    * contract raise probeDepth alongside (the r14 recall map rows give
    * the trade per step). Size from a caller ESTIMATE, not a count() —
    * corpus size class is pipeline metadata, exact counts are not
    * needed (the dial moves in powers of two). */
  def planesFor(expectedVectors: Long, targetBucket: Long = 125): Int = {
    require(expectedVectors > 0,
      s"expectedVectors must be positive, got $expectedVectors")
    require(targetBucket > 0, s"targetBucket must be positive, got $targetBucket")
    val ratio = math.max(1.0, expectedVectors.toDouble / targetBucket)
    math.min(24, math.max(4, math.ceil(math.log(ratio) / math.log(2)).toInt))
  }

  /** Embedding-cosine near-duplicate pairs above a similarity threshold,
    * via LSH buckets (equi-join) + exact verification. The all-pairs
    * variant of [[lshTopK]], for near-dup *removal* rather than search.
    *
    * `probeDepth` sets how far from its own signature one side probes
    * (Hamming balls of that radius): a pair collides iff the signatures
    * differ in ≤ probeDepth planes. Recall at a given threshold rises
    * steeply with depth — for per-plane agreement p ≈ 0.63 (cosine 0.4)
    * and planes=4, pair recall is p⁴≈0.16 at depth 0, 0.53 at depth 1,
    * 0.85 at depth 2 — while candidate volume grows only by the ball
    * size over 2^planes. Recall < 1 at any depth < planes; pair with the
    * exact all-pairs formulation as ground truth. */
  /** [[cosineNearDupPairs]] with planes derived from the expected corpus
    * size via [[planesFor]] instead of hand-picked — the sizing-policy
    * face of the operator (cf. `dropDuplicateDocsBloomSized`): candidate
    * volume stays ~linear as the corpus grows without anyone remembering
    * to turn the dial. Recall at fixed probeDepth falls as planes rise
    * (r14 recall map); the probeDepth default matches the r14-measured
    * operating point at the 4-plane floor. */
  def cosineNearDupPairsSized(df: DataFrame, idCol: String, vecCol: String,
                              threshold: Double, expectedVectors: Long,
                              probeDepth: Int = 2): DataFrame =
    cosineNearDupPairs(df, idCol, vecCol, threshold,
      planes = planesFor(expectedVectors), probeDepth = probeDepth)

  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, planes: Int = 8,
                         multiProbe: Boolean = true,
                         probeDepth: Int = 1): DataFrame = {
    require(probeDepth >= 0 && probeDepth <= planes,
      s"probeDepth must be in [0, planes=$planes], got $probeDepth")
    val v = df.select(col(idCol).as("doc"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("nrm"), lshSignature(col(vecCol), planes).as("sig"))
    // multi-probe one side with all Hamming-≤depth signatures; a pair
    // whose signatures differ in ≤ depth planes still collides.
    val probed =
      if (multiProbe)
        v.select(col("doc"), col("vec"), col("nrm"),
          explode(array(probeMasks(planes, probeDepth).map(m =>
            col("sig").bitwiseXOR(lit(m))): _*)).as("sig"))
      else v
    // No distinct(): only side a is probed, so pair (a, b) collides iff
    // sig_b ∈ {sig_a ^ m} — and the unique witness m = sig_a ^ sig_b means
    // exactly ONE probe row of a can match b. Pairs are unique by
    // construction; the distinct() here cost a full exchange + hash
    // aggregate of the verified-pair set for nothing.
    probed.as("a").join(v.as("b"),
        col("a.sig") === col("b.sig") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        (dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
