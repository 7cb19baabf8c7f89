package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Embedding similarity queries: brute-force + LSH/IVF/quantized ANN, cosine
  * near-dup pairs and clusters, k-means, semantic dedup (batch/priority/
  * incremental/sampled).
  *
  * Split from SparkEntry (r15): entries and oracle SQL verbatim, combined
  * by [[SparkEntry.queries]] / [[SparkEntry.oracleSql]]. */
private[graft] trait SimilarityEntries extends EntryInfra {

  protected def similarityQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- similarity search --------------------------------------------------
    "q38_cosine_topk" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      operators.SimilarityOps.cosineTopK(
          emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    },

    // bounded-recall check against the q38 brute-force ground truth: the
    // ANN result is recall<1 by construction (no ANSI oracle can rebuild
    // the xxhash64 hyperplanes), so the driver-checkable contract is
    // "LSH top-k finds >= 70% of the exact top-k" — a boolean row the
    // oracle matches as a literal. Planes are hash-derived (deterministic
    // across runs/executors), so the observed recall is reproducible.
    // planes=4, probeDepth=2 is the r14-measured operating point: recall
    // 0.80/0.80/0.93 at sf0.001/0.01/0.1 (BASELINE.md r14 table — the
    // synthetic embeddings are near-random, so per-plane agreement sits
    // just above 1/2 and depth 1 reads only 0.47–0.60; depth 2 probes
    // 11/16 buckets and clears the 0.7 floor at every scale).
    "q39_ann_lsh_topk" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val truth = operators.SimilarityOps.cosineTopK(q, emb, "vec_id", "embedding", k = 3)
        .select("query_id", "neighbor_id")
      val ann = operators.SimilarityOps.lshTopK(q, emb, "vec_id", "embedding",
          k = 3, planes = 4, probeDepth = 2)
        .select("query_id", "neighbor_id")
      ann.join(truth, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("hits"))
        .crossJoin(truth.agg(count(lit(1)).as("n")))
        .select(lit("ann_lsh_recall_ge_0.7").as("metric"),
          (col("hits") >= col("n") * 0.7).as("ok"))
    },

    // -- embedding near-dup pairs (brute force = oracle-checkable; the LSH
    //    variant is the scale path, ground-truthed by this one) ------------
    "q44_cosine_neardup" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val v = spark.table("embeddings")
        .select(col("vec_id").as("doc"), col("embedding").as("vec"),
          operators.SimilarityOps.norm(col("embedding")).as("nrm"))
      // no broadcast hint: this is the declared brute-force ground-truth
      // query (q45 is the scale path) and forcing a broadcast of the whole
      // corpus would OOM at scale — let AQE pick the join strategy
      v.as("a").join(v.as("b"), col("a.doc") < col("b.doc"))
        .withColumn("cosine",
          operators.SimilarityOps.dot(col("a.vec"), col("b.vec")) /
            (col("a.nrm") * col("b.nrm")))
        .filter(col("cosine") >= 0.3)
        .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("doc_a", "doc_b")
    },

    // bounded-recall check against the q44 brute-force pair set: every
    // LSH pair is exact-verified (subset of the true set), so recall is
    // |lsh| / |truth|. Under multi-probed random-hyperplane LSH a true
    // pair at angle θ collides iff its signatures differ in <= 1 of the
    // `planes` sign bits: P = p^planes + planes·p^(planes-1)·(1−p) with
    // p = 1 − θ/π. The check asserts the observed pair count lands
    // within ±30% of the sum of those per-pair probabilities — a
    // theory-anchored band (observed/expected ≈ 1.02 at sf0.01), emitted
    // as a boolean row the oracle matches as a literal.
    "q45_cosine_neardup_lsh" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val planes = 4
      val v = spark.table("embeddings")
        .select(col("vec_id").as("doc"), col("embedding").as("vec"),
          operators.SimilarityOps.norm(col("embedding")).as("nrm"))
      val truth = v.as("a").join(v.as("b"), col("a.doc") < col("b.doc"))
        .withColumn("cosine",
          operators.SimilarityOps.dot(col("a.vec"), col("b.vec")) /
            (col("a.nrm") * col("b.nrm")))
        .filter(col("cosine") >= 0.3)
      val p = lit(1.0) -
        acos(greatest(lit(-1.0), least(col("cosine"), lit(1.0)))) / lit(math.Pi)
      val pHit = pow(p, planes) + lit(planes.toDouble) * pow(p, planes - 1) * (lit(1.0) - p)
      val expected = truth.agg(sum(pHit).as("expected"))
      operators.SimilarityOps.cosineNearDupPairs(
          spark.table("embeddings"), "vec_id", "embedding", threshold = 0.3, planes = planes)
        .agg(count(lit(1)).as("observed"))
        .crossJoin(expected)
        .select(lit("lsh_pair_recall_in_theory_band").as("metric"),
          (col("observed") >= col("expected") * 0.7 &&
            col("observed") <= col("expected") * 1.3).as("ok"))
    },

    // -- embedding-space dedup clustering: connected components over the
    //    brute-force cosine pair set (same Components core as q60, driven
    //    by a different pair source — semantic dup groups, not textual).
    //    Threshold 0.4 yields 42 multi-scale clusters on this corpus
    //    (0.3 merges half the corpus into one ball — too loose to dedup) -
    "q66_embedding_clusters" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val v = spark.table("embeddings")
        .select(col("vec_id").as("doc"), col("embedding").as("vec"),
          operators.SimilarityOps.norm(col("embedding")).as("nrm"))
      val pairs = v.as("a").join(v.as("b"), col("a.doc") < col("b.doc"))
        .filter(operators.SimilarityOps.dot(col("a.vec"), col("b.vec")) /
          (col("a.nrm") * col("b.nrm")) >= 0.4)
        .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      operators.Components.connectedComponents(pairs)
        .select(col("doc"), col("cluster"))
        .orderBy("doc")
    },

    // -- int8 embedding quantization: the 4× memory/shuffle lever for
    //    similarity search at corpus scale, as pure codegen'd built-ins
    //    (transform/aggregate — no UDF, no shuffle; a narrow map over
    //    the embeddings scan). Oracle recomputes the same symmetric
    //    scheme in DuckDB lambda SQL: identical IEEE double arithmetic
    //    (float max → /127.0 → round-half-away-from-zero on both
    //    engines), so codes match EXACTLY — pinned via per-vector code
    //    sums/extrema rather than raw arrays to keep the compare scalar.
    "q80_quantize_int8" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val q = operators.Quantize.quantizeInt8(spark.table("embeddings"))
      q.select(col("vec_id"), col("q_scale"),
          aggregate(col("q_codes"), lit(0L), (a, x) => a + x).as("codes_sum"),
          aggregate(col("q_codes"), lit(0L), (a, x) => a + abs(x)).as("codes_l1"),
          array_max(col("q_codes")).as("code_max"),
          array_min(col("q_codes")).as("code_min"))
        .orderBy("vec_id")
    },

    // -- IVF materialized ANN index, oracle-checked: build the
    //    signature-partitioned index (the lakehouse IVF layout — probes
    //    prune to partition files via PartitionFilters, pinned in
    //    PlanSpec), query it at probeDepth=2, and bound recall against
    //    the q38 brute-force truth as a literal boolean row (the q39
    //    pattern — no ANSI oracle can rebuild the xxhash64 hyperplanes).
    //    planes=4 is the measured knee for this corpus (q39 note);
    //    depth 2 probes 11 of 16 buckets — recall 0.80/0.80/0.93 at
    //    sf0.001/0.01/0.1 (BASELINE.md r14 table), so the floor is 0.7,
    //    the same contract as q39 (index ≡ runtime-LSH semantics).
    //    The index lives in a temp dir per run: the BUILD is part of
    //    what the query times (one corpus pass, partitioned write). ------
    "q75_ann_ivf_index" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val truth = operators.SimilarityOps.cosineTopK(q, emb, "vec_id", "embedding", k = 3)
        .select("query_id", "neighbor_id")
      val path = java.nio.file.Files.createTempDirectory("graft_ivf_").toString
      materializedThen {
        operators.AnnIndex.build(emb, "vec_id", "embedding", path, planes = 4)
        val ann = operators.AnnIndex.query(spark, path, q, "vec_id", "embedding",
            k = 3, planes = 4, probeDepth = 2)
          .select("query_id", "neighbor_id")
        ann.join(truth, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
          .crossJoin(truth.agg(count(lit(1)).as("n")))
          .select(lit("ivf_probe2_recall_ge_0.7").as("metric"),
            (col("hits") >= col("n") * 0.7).as("ok"))
      } {
        deleteRec(new java.io.File(path))
      }
    },

    // -- quantized IVF index under the same bounded-recall contract as
    //    q75: packed int8 vector storage (one byte per element, byte-dot
    //    re-rank) must keep recall ≥0.7 vs the q38 brute-force truth at
    //    probeDepth=2. Bucket routing hashes the original floats, so any
    //    recall loss vs q75 could come only from quantized re-ranking —
    //    the contract pins the 4×-smaller index as a drop-in. ----------
    "q82_ann_ivf_quantized" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val truth = operators.SimilarityOps.cosineTopK(q, emb, "vec_id", "embedding", k = 3)
        .select("query_id", "neighbor_id")
      val path = java.nio.file.Files.createTempDirectory("graft_ivfq_").toString
      materializedThen {
        operators.AnnIndex.buildQuantized(emb, "vec_id", "embedding", path, planes = 4)
        val ann = operators.AnnIndex.queryQuantized(spark, path, q, "vec_id", "embedding",
            k = 3, planes = 4, probeDepth = 2)
          .select("query_id", "neighbor_id")
        ann.join(truth, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
          .crossJoin(truth.agg(count(lit(1)).as("n")))
          .select(lit("ivf_quantized_probe2_recall_ge_0.7").as("metric"),
            (col("hits") >= col("n") * 0.7).as("ok"))
      } {
        deleteRec(new java.io.File(path))
      }
    },

    // -- distributed k-means (Lloyd's): deterministic init (k smallest
    //    ids), fixed 2 updates; assignment is one codegen'd scan against
    //    driver-held centroids, the update shuffle carries only
    //    partitions × k × dim partial sums — never a vector ------------
    "q100_kmeans" -> qd { spark =>
      import org.apache.spark.sql.functions._
      operators.KMeansOps.clusterProfile(
          spark.table("embeddings"), "vec_id", "embedding", k = 8, iters = 2)
        .orderBy("cluster")
    },

    // -- IVF with a LEARNED coarse quantizer: k-means cells instead of
    //    hyperplane buckets (q75's geometry, adaptive cells); probe list
    //    = nearest-2-cells, partition-pruned scan, exact re-rank.
    //    Measured recall@3: 0.93 at sf0.01, ≥0.7 the oracle floor ------
    "q102_ann_kmeans_ivf" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val truth = operators.SimilarityOps.cosineTopK(q, emb, "vec_id", "embedding", k = 3)
        .select("query_id", "neighbor_id")
      val path = java.nio.file.Files.createTempDirectory("graft_kivf_").toString
      materializedThen {
        val cent = operators.AnnIndex.buildKMeans(emb, "vec_id", "embedding",
          path, k = 8, iters = 2)
        val ann = operators.AnnIndex.queryKMeans(spark, path, q, "vec_id",
            "embedding", cent, k = 3, nProbe = 2)
          .select("query_id", "neighbor_id")
        ann.join(truth, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
          .crossJoin(truth.agg(count(lit(1)).as("n")))
          .select(lit("kmeans_ivf_probe2_recall_ge_0.7").as("metric"),
            (col("hits") >= col("n") * 0.7).as("ok"))
      } {
        deleteRec(new java.io.File(path))
      }
    },

    // -- quality-aware semantic dedup survivorship: keep the LONGEST
    //    doc of each near-dup neighborhood (ties → smallest id), not
    //    the earliest-crawled one; same cluster-keyed join shape -------
    "q105_semdedup_priority" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      val joined = emb.join(
        spark.table("documents").select(col("doc_id").as("vec_id"), col("n_chars")),
        Seq("vec_id"))
      val cent = operators.KMeansOps.fit(emb, "vec_id", "embedding", k = 8, iters = 2)
      operators.KMeansOps.semDedupByPriority(joined, "vec_id", "embedding",
          "n_chars", cent, tau = 0.35)
        .select(col("id").as("vec_id"), col("cluster").cast("long").as("cluster"),
          col("priority").as("n_chars"), col("kept"))
        .orderBy("vec_id")
    },

    // -- sampled centroid training (the 100 TB regime: Lloyd's on a
    //    deterministic 1/16 md5 sample, assignment over everything) ----
    "q106_kmeans_sampled" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      val cent = operators.KMeansOps.fitSampled(emb, "vec_id", "embedding",
        k = 8, iters = 2, sampleHexPrefix = "0")
      operators.KMeansOps.profile(emb, "vec_id", "embedding", cent)
        .orderBy("cluster")
    },

    // -- cross-batch semantic dedup: centroids fit on the CURATED corpus
    //    only (the stored snapshot artifact), the new batch assigned to
    //    them with no re-clustering; dropped vs same-cluster history (any
    //    id) or smaller-id same-cluster batch rows --------------------
    "q103_incremental_semdedup" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      val history = emb.filter(col("vec_id") % 4 =!= 0)
      val batch = emb.filter(col("vec_id") % 4 === 0)
      val cent = operators.KMeansOps.fit(history, "vec_id", "embedding", k = 8, iters = 2)
      operators.KMeansOps.incrementalSemDedup(history, batch, "vec_id",
          "embedding", cent, tau = 0.35)
        .select(col("id").as("vec_id"), col("cluster").cast("long").as("cluster"),
          col("kept"))
        .orderBy("vec_id")
    },

    // -- SemDeDup-style semantic dedup: k-means buckets the corpus, then
    //    near-dup candidates are an equi-join WITHIN clusters (Σ|c|² pair
    //    work, k the scale dial) — never the all-pairs cross join -------
    "q101_semdedup" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      val cent = operators.KMeansOps.fit(emb, "vec_id", "embedding", k = 8, iters = 2)
      operators.KMeansOps.semDedup(emb, "vec_id", "embedding", cent, tau = 0.35)
        .select(col("id").as("vec_id"), col("cluster").cast("long").as("cluster"),
          col("kept"))
        .orderBy("vec_id")
    },

    // -- product-quantized ANN with exact re-rank (r15): 16-byte codes
    //    (16× smaller than float32) rank candidates via ADC lookups, the
    //    top k·rerank survivors re-rank EXACTLY against the base table —
    //    recall at the q82 probe geometry must clear the same 0.7 floor,
    //    and the measured index bytes/vector is part of the contract ----
    "q114_ann_pq_rerank" -> qd { spark =>
      import org.apache.spark.sql.functions._
      val emb = spark.table("embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val truth = operators.SimilarityOps.cosineTopK(q, emb, "vec_id", "embedding", k = 3)
        .select("query_id", "neighbor_id")
      val path = java.nio.file.Files.createTempDirectory("graft_pq_").toString
      materializedThen {
        val model = operators.AnnIndex.buildPq(emb, "vec_id", "embedding", path,
          planes = 4, m = 16, ksub = 64)
        val ann = operators.AnnIndex.queryPq(spark, path, q, emb, "vec_id", "embedding",
            model, k = 3, planes = 4, probeDepth = 2, rerank = 8)
          .select("query_id", "neighbor_id")
        val bytes = spark.read.parquet(path)
          .agg(max(length(col("codes"))).as("bytes_per_vector"))
        ann.join(truth, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
          .crossJoin(truth.agg(count(lit(1)).as("n")))
          .crossJoin(bytes)
          .select(lit("pq_rerank_probe2_recall_ge_0.7").as("metric"),
            (col("hits") >= col("n") * 0.7).as("ok"),
            col("bytes_per_vector").cast("long").as("bytes_per_vector"))
      } {
        deleteRec(new java.io.File(path))
      }
    },
  )

  // ---- Lloyd's-replay oracle fragments (shared by the k-means family:
  // q100/q101/q103/q105/q106). One assignment step, one centroid-update
  // step, and the fixed 2-iteration fit chain — composed per query so
  // the five oracles can never drift apart on the replay itself (the
  // q136/q140 derived-oracle discipline applied intra-family). Each
  // helper returns margin-stripped SQL; compose with plain newlines.

  /** Assignment: each `src` row to its nearest `cents` centroid
    * (expanded-dot-product distance, ties -> smaller cluster id). */
  private def lloydAssign(outA: String, outS: String, src: String,
                          cents: String, withV: Boolean): String = {
    val proj = if (withV) s"$src.vec_id, $src.v" else s"$src.vec_id"
    val sel = if (withV) "vec_id, v, cl" else "vec_id, cl"
    s"""$outA AS (SELECT $proj, c.cl,
       |              row_number() OVER (PARTITION BY $src.vec_id
       |                ORDER BY list_inner_product(c.cv, c.cv) - 2*list_inner_product($src.v, c.cv), c.cl) rn
       |       FROM $src, $cents c),
       |$outS AS (SELECT $sel FROM $outA WHERE rn = 1)""".stripMargin
  }

  /** Centroid update: per-cluster component means over 64 dims. */
  private def lloydUpdate(outC: String, srcS: String): String =
    s"""$outC AS (SELECT cl, list(m ORDER BY i) cv FROM
       |        (SELECT cl, i, sum(v[i]) / count(*) m FROM $srcS, range(1, 65) t(i) GROUP BY cl, i)
       |       GROUP BY cl)""".stripMargin

  /** Deterministic init (k=8 smallest ids) + two Lloyd's iterations
    * over `fitRel`, ending at centroids `c2`. */
  private def lloydFit(fitRel: String): String = Seq(
    s"""c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, v AS cv
       |       FROM $fitRel ORDER BY vec_id LIMIT 8)""".stripMargin,
    lloydAssign("a1", "s1", fitRel, "c0", withV = true),
    lloydUpdate("c1", "s1"),
    lloydAssign("a2", "s2", fitRel, "c1", withV = true),
    lloydUpdate("c2", "s2")).mkString(",\n")

  /** Final-assignment cluster profile (q100/q106's shared tail). */
  private val lloydProfile: String =
    """SELECT s3.cl AS cluster, CAST(count(*) AS BIGINT) AS n_members,
      |       CAST(min(vec_id) AS BIGINT) AS min_member,
      |       round(sqrt(list_inner_product(c2.cv, c2.cv)), 6) AS centroid_norm
      |FROM s3 JOIN c2 ON s3.cl = c2.cl
      |GROUP BY s3.cl, c2.cv ORDER BY cluster""".stripMargin

  protected def similarityOracle: Map[String, String] = Map(
    "q38_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT query_id, vec_id AS neighbor_id,
        |             list_cosine_similarity(qv, embedding::DOUBLE[]) AS c
        |      FROM embeddings, q WHERE vec_id != query_id),
        |r AS (SELECT query_id, neighbor_id,
        |             row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank,
        |             round(c, 6) AS cosine
        |      FROM s)
        |SELECT query_id, neighbor_id, rank, cosine FROM r
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // bounded boolean checks — the Spark side computes recall vs its own
    // brute-force ground truth and emits (metric, ok); the oracle pins
    // the expected literals (ok=true means the bound held)
    "q39_ann_lsh_topk" ->
      "SELECT 'ann_lsh_recall_ge_0.7' AS metric, true AS ok",

    "q45_cosine_neardup_lsh" ->
      "SELECT 'lsh_pair_recall_in_theory_band' AS metric, true AS ok",

    "q44_cosine_neardup" ->
      """SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
        |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
        |ORDER BY doc_a, doc_b""".stripMargin,

    // closure over the double-precision cosine pair predicate (the q44
    // regime that is already hash-stable cross-engine)
    "q66_embedding_clusters" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |reach(v, r) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.v)
        |SELECT v AS doc, MIN(r) AS cluster FROM reach GROUP BY v ORDER BY doc""".stripMargin,

    // IVF index probe recall bound holds (hyperplanes not ANSI-expressible
    // → literal boolean contract, like q39)
    "q75_ann_ivf_index" ->
      "SELECT 'ivf_probe2_recall_ge_0.7' AS metric, true AS ok",

    "q82_ann_ivf_quantized" ->
      "SELECT 'ivf_quantized_probe2_recall_ge_0.7' AS metric, true AS ok",

    // same symmetric scheme in DuckDB lambda SQL; double arithmetic and
    // round-half-away-from-zero agree bit-for-bit with the Spark side
    "q80_quantize_int8" ->
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
        |           / 127.0 AS q_scale
        |  FROM embeddings),
        |c AS (
        |  SELECT vec_id, q_scale,
        |         list_transform(embedding,
        |           x -> CASE WHEN q_scale = 0 THEN 0
        |                     ELSE CAST(round(CAST(x AS DOUBLE) / q_scale) AS INTEGER)
        |                END) AS codes
        |  FROM q)
        |SELECT vec_id, q_scale,
        |       CAST(list_sum(codes) AS BIGINT) AS codes_sum,
        |       CAST(list_sum(list_transform(codes, y -> abs(y))) AS BIGINT) AS codes_l1,
        |       CAST(list_max(codes) AS INTEGER) AS code_max,
        |       CAST(list_min(codes) AS INTEGER) AS code_min
        |FROM c ORDER BY vec_id""".stripMargin,

    // full Lloyd's replay in SQL: deterministic init (k smallest ids),
    // two update steps as chained CTEs, final assignment + profile.
    // Assignment margins (min |d2−d1| ≥ 6.7e-6 across SFs, measured) sit
    // 6+ orders above double-fold noise, so argmins match exactly; the
    // centroid norm is rounded like q38's cosine
    "q100_kmeans" ->
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),\n" +
        lloydFit("e") + ",\n" +
        lloydAssign("a3", "s3", "e", "c2", withV = false) + "\n" +
        lloydProfile),

    // same Lloyd's CTEs + the SemDeDup keep rule: kept iff no SAME-CLUSTER
    // smaller-id row has cosine ≥ τ (min in-cluster |cos−τ| ≥ 3.6e-5 at
    // the checked SFs — far above double-fold noise)
    "q101_semdedup" ->
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),\n" +
        lloydFit("e") + ",\n" +
        lloydAssign("a3", "s3", "e", "c2", withV = true) + "\n" +
        """SELECT s.vec_id, s.cl AS cluster,
          |       NOT EXISTS (SELECT 1 FROM s3 a
          |                   WHERE a.cl = s.cl AND a.vec_id < s.vec_id
          |                     AND list_cosine_similarity(a.v, s.v) >= 0.35) AS kept
          |FROM s3 s ORDER BY vec_id""".stripMargin),

    // bounded boolean check (the q39/q75 pattern): recall vs the Spark
    // side's own brute-force truth, floor well under the measured 0.93
    "q102_ann_kmeans_ivf" ->
      "SELECT 'kmeans_ivf_probe2_recall_ge_0.7' AS metric, true AS ok",

    // bounded boolean check (the q82 pattern) + the storage contract:
    // m=16 one-byte PQ codes per 64-dim vector = 16 bytes (16× vs float32)
    "q114_ann_pq_rerank" ->
      ("SELECT 'pq_rerank_probe2_recall_ge_0.7' AS metric, true AS ok, " +
        "CAST(16 AS BIGINT) AS bytes_per_vector"),

    // Lloyd's fit over the HISTORY slice only, batch rows assigned to the
    // stored centroids, then the cross-batch keep rule: dropped by any
    // same-cluster history row OR a smaller-id same-cluster batch row
    // within τ (margins: fit ≥2.6e-5, assignment ≥3.8e-5, |cos−τ| ≥2.9e-5
    // across SFs — all far above double-fold noise)
    "q103_incremental_semdedup" ->
      ("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
         |           WHERE vec_id % 4 <> 0),
         |bt AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
         |       WHERE vec_id % 4 = 0),""".stripMargin + "\n" +
        lloydFit("e") + ",\n" +
        lloydAssign("hs", "h", "e", "c2", withV = true) + ",\n" +
        lloydAssign("bs", "b", "bt", "c2", withV = true) + "\n" +
        """SELECT s.vec_id, s.cl AS cluster,
          |       NOT (EXISTS (SELECT 1 FROM h a
          |                    WHERE a.cl = s.cl
          |                      AND list_cosine_similarity(a.v, s.v) >= 0.35)
          |            OR EXISTS (SELECT 1 FROM b a
          |                       WHERE a.cl = s.cl AND a.vec_id < s.vec_id
          |                         AND list_cosine_similarity(a.v, s.v) >= 0.35)) AS kept
          |FROM b s ORDER BY vec_id""".stripMargin),

    // same Lloyd's CTEs + the PRIORITY keep rule: dropped by any
    // same-cluster mate with more chars (ties → smaller id) within τ;
    // priority comparisons are integer-exact
    "q105_semdedup_priority" ->
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),\n" +
        lloydFit("e") + ",\n" +
        lloydAssign("a3", "s3", "e", "c2", withV = true) + ",\n" +
        """d AS (SELECT s3.vec_id, s3.v, s3.cl, doc.n_chars
          |      FROM s3 JOIN documents doc ON doc.doc_id = s3.vec_id)
          |SELECT s.vec_id, s.cl AS cluster, s.n_chars,
          |       NOT EXISTS (SELECT 1 FROM d a
          |                   WHERE a.cl = s.cl
          |                     AND (a.n_chars > s.n_chars
          |                          OR (a.n_chars = s.n_chars AND a.vec_id < s.vec_id))
          |                     AND list_cosine_similarity(a.v, s.v) >= 0.35) AS kept
          |FROM d s ORDER BY vec_id""".stripMargin),

    // Lloyd's fit restricted to the deterministic md5 1/16 sample (es),
    // final assignment + profile over the FULL corpus (margins: fit
    // ≥3.5e-4, full assignment ≥1.1e-5 across SFs)
    "q106_kmeans_sampled" ->
      ("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         |es AS (SELECT * FROM e
         |       WHERE substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'),""".stripMargin + "\n" +
        lloydFit("es") + ",\n" +
        lloydAssign("a3", "s3", "e", "c2", withV = false) + "\n" +
        lloydProfile),
  )
}
