package graft

import org.apache.spark.sql.functions._

import operators._

/** Pipeline-operator unit tests. */
class OperatorsSpec extends SparkTestBase {

  private lazy val docs = {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d.cache().count()
    d
  }

  test("native SimHash64 matches the array-ops reference formulation") {
    val both = docs.limit(50).select(
      DedupOps.simhash(col("text")).as("fast"),
      DedupOps.simhashArrayOps(col("text")).as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() == 0)
    // blank and empty inputs → 0
    val edge = spark.sql("SELECT * FROM VALUES (''), ('   '), ('one') t(s)")
      .select(DedupOps.simhash(col("s")).as("h")).collect()
    assert(edge(0).getLong(0) == 0L && edge(1).getLong(0) == 0L && edge(2).getLong(0) != 0L)
  }

  test("native ShingleSet matches the array-ops reference formulation") {
    for (k <- Seq(1, 3, 7)) {
      val fast = DedupOps.shingleSets(docs.limit(40), "doc_id", "text", k)
        .selectExpr("doc", "sz", "sort_array(shset) AS s")
      val ref = DedupOps.shingleSetsArrayOps(docs.limit(40), "doc_id", "text", k)
        .selectExpr("doc", "sz", "sort_array(shset) AS s")
      assert(fast.exceptAll(ref).count() == 0 && ref.exceptAll(fast).count() == 0,
        s"shingle sets differ at k=$k")
    }
    // blank text: single zero-fold shingle, matching the composed version
    val edge = spark.sql("SELECT '' AS text, 1L AS doc_id")
    val a = DedupOps.shingleSets(edge, "doc_id", "text", 3).selectExpr("sz", "shset").head()
    assert(a.getInt(0) == 1 && a.getSeq[Long](1) == Seq(0L))
  }

  test("native MinHashSig matches the array-ops reference formulation") {
    val sets = DedupOps.shingleSets(docs.limit(40), "doc_id", "text", 3)
    val fast = DedupOps.minhashSignatures(sets, 16).orderBy("doc")
    val ref = DedupOps.minhashSignaturesArrayOps(sets, 16).orderBy("doc")
    assert(fast.exceptAll(ref).count() == 0 && ref.exceptAll(fast).count() == 0)
  }

  test("exactDedup removes exact duplicates, keeps lowest id") {
    val d = spark.sql(
      "SELECT * FROM VALUES (1L,'a b c'), (2L,'a  b   c'), (3L,'x y') t(doc_id, text)")
    val out = DedupOps.exactDedup(d, "doc_id", "text").orderBy("doc_id").collect()
    // whitespace-collapse canonicalization folds rows 1 and 2
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("jaccardPairs finds identical docs with jaccard 1.0") {
    val d = spark.sql(
      """SELECT * FROM VALUES
        | (1L, 'the quick brown fox jumps over the lazy dog'),
        | (2L, 'the quick brown fox jumps over the lazy dog'),
        | (3L, 'completely different words here nothing shared at all') t(doc_id, text)""".stripMargin)
    val out = DedupOps.jaccardPairs(d, "doc_id", "text", k = 3, threshold = 0.5).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 2L)
    assert(out.head.getDouble(2) == 1.0)
  }

  test("default shingle-DF cap changes no jaccard result at sf0.01") {
    // max shingle df at sf0.01 is 7 ≪ the default cap of 1000, so the
    // default-on cap must be a semantic no-op on the oracle-gated corpus
    val d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val capped = DedupOps.jaccardPairs(d, "doc_id", "text", 3, 0.6)
    val uncapped = DedupOps.jaccardPairs(d, "doc_id", "text", 3, 0.6, maxShingleDF = 0)
    assert(capped.exceptAll(uncapped).count() == 0 && uncapped.exceptAll(capped).count() == 0)
  }

  test("shingle-DF cap drops boilerplate-only pairs, consistently in both paths") {
    // 4 docs share a 6-token boilerplate prefix (its 4 pure shingles have
    // df=4); unique tails otherwise, d3 identical to d1. Cap 3 removes the
    // boilerplate shingles, so pairs overlapping ONLY via boilerplate
    // disappear and Jaccard is over the capped universe in both paths.
    val d = spark.sql(
      """SELECT * FROM VALUES
        | (1L, 'lorem ipsum dolor sit amet consectetur alpha beta gamma delta'),
        | (2L, 'lorem ipsum dolor sit amet consectetur epsilon zeta eta theta'),
        | (3L, 'lorem ipsum dolor sit amet consectetur alpha beta gamma delta'),
        | (4L, 'lorem ipsum dolor sit amet consectetur iota kappa lambda mu') t(doc_id, text)""".stripMargin)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: every pair shares the 4 boilerplate shingles → J = 4/12 ≥ 0.3
    val uncapped = pairs(DedupOps.jaccardPairs(d, "doc_id", "text", 3, 0.3, maxShingleDF = 0))
    assert(uncapped == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    // capped at 3: only the identical pair survives, at J = 1.0
    val capped = DedupOps.jaccardPairs(d, "doc_id", "text", 3, 0.3, maxShingleDF = 3)
    val cappedRows = capped.collect()
    assert(pairs(capped) == Set((1L, 3L)))
    assert(cappedRows.head.getDouble(2) == 1.0)
    // LSH path applies the same cap → identical verified pair set
    val lsh = pairs(DedupOps.minhashLshPairs(d, "doc_id", "text", 3, 0.3, maxShingleDF = 3))
    assert(lsh == Set((1L, 3L)))
  }

  test("minhashLshPairs agrees with exact jaccardPairs on near-dups") {
    val exact = DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.6)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minhashLshPairs(docs, "doc_id", "text", 3, 0.6)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("simhash pairs are a subset of low-distance ground truth") {
    val pairs = DedupOps.simhashPairs(docs, "doc_id", "text", maxDist = 3).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getInt(2) <= 3))
  }

  test("md5TokenHash64 matches a JVM-side md5 reference (oracle portability)") {
    // The q37 oracle recomputes this hash in DuckDB as
    // ('0x'||substr(md5(t),1,16))::UBIGINT; the contract is "first 8 md5
    // bytes, big-endian". Pin it against java.security.MessageDigest.
    val got = spark.sql("SELECT * FROM VALUES ('hello'),('world'),('a'),('123'),('Zx9') t(s)")
      .select(col("s"), DedupOps.md5TokenHash64(col("s")).as("h")).collect()
    got.foreach { r =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(r.getString(0).getBytes("UTF-8"))
      val expect = java.nio.ByteBuffer.wrap(md, 0, 8).getLong
      assert(r.getLong(1) == expect, s"hash mismatch for '${r.getString(0)}'")
    }
  }

  test("portable simhash pairs ⊇ native-path structure: banding core shared") {
    // Same banding join, different signature scheme: every emitted pair
    // must satisfy the Hamming bound (the banding core is shared code,
    // so this guards the refactor seam).
    val sigs = DedupOps.simhashSigsPortable(docs, "doc_id", "text")
    val pairs = DedupOps.simhashPairsFromSigs(sigs, maxDist = 3).collect()
    assert(pairs.forall(_.getInt(2) <= 3))
  }

  test("tokenCount / quality / langId edge cases") {
    val r = spark.sql("SELECT * FROM VALUES (''), ('  '), ('the fox'), ('el la de') t(s)")
      .select(TextOps.tokenCount(col("s")).as("n"),
        TextOps.langId(col("s")).as("lang")).collect()
    assert(r(0).getInt(0) == 0 && r(1).getInt(0) == 0)
    assert(r(2).getInt(0) == 2 && r(2).getString(1) == "en")
    assert(r(3).getString(1) == "es")
  }

  test("trigramLmScores: in-domain text scores lower than gibberish; " +
    "unseen trigrams hit the smoothed floor") {
    import spark.implicits._
    val ref = Seq("the quick brown fox jumps over the lazy dog",
      "the rain in spain stays mainly in the plain",
      "pack my box with five dozen liquor jugs")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val docs = Seq(
      (10L, "the quick brown fox"),          // in-domain: seen trigrams
      (11L, "0101 1100 0011 1010"),          // digit noise: ref has no digits → all unseen
      (12L, "ab")                            // < 3 chars: no trigrams, no row
    ).toDF("doc_id", "text")
    val r = TextOps.trigramLmScores(ref, docs).orderBy("doc_id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(10L, 11L), "short doc must emit no row")
    val (inDomain, gibberish) = (r(0).getLong(2), r(1).getLong(2))
    assert(inDomain < gibberish,
      s"in-domain $inDomain must score below gibberish $gibberish")
    // every gibberish trigram is unseen → its score is exactly the
    // smoothed floor -ln(1/(N+V)), i.e. maximal for the model
    val docs2 = Seq((20L, "99 99")).toDF("doc_id", "text")
    val floorScore = TextOps.trigramLmScores(ref, docs2).head().getLong(2)
    assert(gibberish == floorScore, "all-unseen docs must share the max score")
  }

  test("native CharWindows matches the transform+substr reference formulation") {
    val both = docs.limit(60).select(
      sort_array(TextOps.charTrigrams(col("text"))).as("fast"),
      sort_array(TextOps.charTrigramsArrayOps(col("text"))).as("ref"))
    assert(both.filter(not(col("fast") <=> col("ref"))).count() == 0)
    // edge cases: short, exact-3, multibyte code points
    val edge = spark.sql("SELECT * FROM VALUES ('ab'), ('abc'), ('héllo ü') t(s)")
      .select(TextOps.charTrigrams(col("s")).as("w"),
        TextOps.charTrigramsArrayOps(col("s")).as("r")).collect()
    assert(edge(0).getSeq[String](0).isEmpty)
    assert(edge(1).getSeq[String](0) == Seq("abc"))
    assert(edge(2).getSeq[String](0) == edge(2).getSeq[String](1) &&
      edge(2).getSeq[String](0).head == "hél")
  }

  test("dsirWeights: target-like text weighs positive, background-like negative") {
    import spark.implicits._
    // target = letter text, background bulk = digit text; the corpus
    // holds both, so target-looking docs get p_target ≫ p_raw
    val target = Seq((0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the rain in spain stays mainly in the plain")).toDF("doc_id", "text")
    val noise = (10L to 29L).map(i => (i, s"000$i 111$i 010 101 0011 1100")).toDF("doc_id", "text")
    val corpus = target.union(noise)
    val w = TextOps.dsirWeights(target, corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(w(0L) > 0 && w(1L) > 0, s"target docs must weigh positive: $w")
    assert((10L to 29L).forall(w(_) < 0), "background docs must weigh negative")
    assert(w(0L) > w(10L))
    // degenerate identity: target == corpus → every bucket's ratio is
    // exactly 1 → all weights exactly 0
    val self = TextOps.dsirWeights(corpus, corpus).collect()
    assert(self.nonEmpty && self.forall(_.getLong(2) == 0L))
  }

  test("rollingHash is order-sensitive, fingerprint is whitespace-robust") {
    val r = spark.sql("SELECT * FROM VALUES ('a b c'), ('c b a'), ('a  b  c') t(s)")
      .select(TextOps.rollingHash(col("s")).as("rh"),
        TextOps.fingerprint(col("s")).as("fp")).collect()
    assert(r(0).getLong(0) != r(1).getLong(0))
    assert(r(0).getString(1) != r(1).getString(1))
    assert(r(0).getString(1) == r(2).getString(1)) // ws-collapsed
    assert(r(0).getLong(0) == r(2).getLong(0))
  }

  test("native DotProduct matches the array-ops reference formulation bit-for-bit") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    val pairs = emb.as("a").crossJoin(emb.as("b")).limit(500)
      .select(SimilarityOps.dot(col("a.embedding"), col("b.embedding")).as("fast"),
        SimilarityOps.dotArrayOps(col("a.embedding"), col("b.embedding")).as("ref"))
    assert(pairs.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("native LshSignature matches the array-ops reference formulation bit-for-bit") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // Cover every plane count used in production (4, 8, 12) plus an odd one.
    for (planes <- Seq(4, 7, 8, 12)) {
      val sigs = emb.select(
        SimilarityOps.lshSignature(col("embedding"), planes).as("fast"),
        SimilarityOps.lshSignatureArrayOps(col("embedding"), planes).as("ref"))
      assert(sigs.filter(col("fast") =!= col("ref")).count() == 0,
        s"signature mismatch at planes=$planes")
    }
  }

  test("LshSignature null elements: defined zero-contribution semantics") {
    // null components read as 0.0 (sparse-vector semantics) — NOT the
    // composed form's null-poisoned plane (bit forced to 0). Pin against
    // the reference formulation over an explicitly null-zeroed copy.
    val withNulls = spark.sql(
      """SELECT * FROM VALUES
        | (array(CAST(1.5 AS FLOAT), CAST(NULL AS FLOAT), CAST(-2.0 AS FLOAT), CAST(0.5 AS FLOAT))),
        | (array(CAST(NULL AS FLOAT), CAST(NULL AS FLOAT), CAST(3.0 AS FLOAT), CAST(-1.0 AS FLOAT))),
        | (array(CAST(0.25 AS FLOAT), CAST(2.0 AS FLOAT), CAST(NULL AS FLOAT), CAST(NULL AS FLOAT)))
        | t(vec)""".stripMargin)
    for (planes <- Seq(4, 12)) {
      val sigs = withNulls.select(
        SimilarityOps.lshSignature(col("vec"), planes).as("fast"),
        SimilarityOps.lshSignatureArrayOps(
          transform(col("vec"), x => coalesce(x, lit(0.0f))), planes).as("ref"))
      assert(sigs.filter(col("fast") =!= col("ref")).count() == 0,
        s"null-element signature mismatch at planes=$planes")
    }
  }

  test("probeMasks rejects Hamming balls past the codegen/fan-out cap") {
    // 512-mask cap: each mask is one generated XOR + one exploded probe
    // row per query
    assert(SimilarityOps.probeMasks(12, 3).size == 299) // fine
    val e = intercept[IllegalArgumentException](SimilarityOps.probeMasks(12, 6))
    assert(e.getMessage.contains("probe") && e.getMessage.contains("512"))
    // the ball is COUNTED arithmetically before enumeration — an
    // astronomically large request errors instantly instead of hanging
    // inside combinations()
    val t0 = System.nanoTime()
    intercept[IllegalArgumentException](SimilarityOps.probeMasks(63, 31))
    assert((System.nanoTime() - t0) / 1e9 < 1.0, "huge ball must fail fast")
  }

  test("benched q66 (LSH pair source) refines oracle q66 within a recall band") {
    // The bench swaps q66's oracle-certified all-pairs source for LSH
    // mining whose recall < 1 by construction; the correctness gate does
    // not see that plan. This referee pins what the swap guarantees:
    //  (1) refinement / precision 1 — every benched edge is
    //      cosine-verified, so each benched cluster must sit inside
    //      exactly one oracle cluster (a split is legal, a merge or a
    //      doc outside any oracle cluster is a bug);
    //  (2) a doc-level recall floor for the probeDepth=2 configuration
    //      (measured 0.86 / 0.82 / 0.92 at sf0.001/0.01/0.1).
    val dir = "/root/testdata/sf0.001"
    val exact = SparkEntry.queries("q66_embedding_clusters")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bench = SparkEntry.benchOverrides("q66_embedding_clusters")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    bench.groupBy(_._2).values.foreach { cluster =>
      assert(cluster.keys.forall(exact.contains),
        "benched cluster contains a doc the exact clustering left unclustered")
      assert(cluster.keys.map(exact).toSet.size == 1,
        "benched cluster spans two oracle clusters (phantom merge)")
    }
    val recall = bench.size.toDouble / exact.size
    assert(recall >= 0.7, f"doc-level recall $recall%.3f below the 0.7 band")
  }

  test("lshTopK probeDepth widens recall monotonically vs brute-force truth") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    def hits(depth: Int) = SimilarityOps.lshTopK(q, emb, "vec_id", "embedding",
        k = 3, planes = 4, probeDepth = depth)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = SimilarityOps.cosineTopK(q, emb, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val r1 = (hits(1) & truth).size.toDouble / truth.size
    val r2 = (hits(2) & truth).size.toDouble / truth.size
    assert(r2 >= r1, f"depth-2 recall $r2%.2f must not trail depth-1 $r1%.2f")
    assert(r2 >= 0.5, f"depth-2 recall $r2%.2f below sanity floor")
  }

  test("cosineTopK returns self-similar vector first") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dup = emb.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(100000L))
    val corpus = emb.union(dup)
    val top = SimilarityOps.cosineTopK(
      emb.filter(col("vec_id") === 0), corpus, "vec_id", "embedding", 1).collect()
    assert(top.length == 1)
    assert(top.head.getLong(1) == 100000L) // the planted exact duplicate
    assert(math.abs(top.head.getDouble(3) - 1.0) < 1e-12)
  }

  test("curation pipeline: decision precedence and auditability") {
    val d = spark.sql(
      """SELECT * FROM VALUES
        | (1L, 'the quick brown fox jumps over the lazy dog again and again today'),
        | (2L, 'the quick brown fox jumps over the lazy dog again and again today'),
        | (3L, 'the quick brown fox jumps over the lazy dog again and again tonight'),
        | (4L, 'tiny'),
        | (5L, 'a completely different long document with many various interesting words in it for quality scoring purposes and more words to pass the floor')
        | t(doc_id, text)""".stripMargin)
    val out = operators.Pipeline.curate(d, "doc_id", "text",
        nearDupThreshold = 0.5, minQuality = 0.15)
      .select("doc_id", "decision").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "kept")
    assert(out(2L) == "exact_dup")   // identical text, higher id
    assert(out(3L) == "near_dup")    // one-word difference
    assert(out(4L) == "low_quality") // single token
    assert(out(5L) == "kept")
  }

  test("curation completes on a 50%-duplicated corpus (no forced broadcast)") {
    // Web-crawl corpora routinely run 30–50% duplicates, making the drop
    // sets O(corpus)-sized — the regime where the r6 forced broadcast()
    // would OOM a driver at scale. Duplicate every document (near-dup via
    // a one-token suffix for odd clones, exact for even) and require the
    // un-hinted pipeline to complete and drop every clone.
    // Synthetic corpus: every token embeds the doc id, so originals share
    // no shingles with each other (no accidental cross-dups), and the
    // near clone's one-token suffix leaves J = 10/11 ≫ 0.5 (recall ≈ 1
    // on the 16-band curve).
    val base = spark.range(0, 100).selectExpr("id AS doc_id",
      """concat_ws(' ', 'a'||id, 'b'||id, 'c'||id, 'd'||id, 'e'||id, 'f'||id,
        |          'g'||id, 'h'||id, 'i'||id, 'j'||id, 'k'||id, 'l'||id) AS text""".stripMargin)
    val clones = base.select(
      (col("doc_id") + lit(1000000L)).as("doc_id"),
      when(col("doc_id") % 2 === 1, concat(col("text"), lit(" zclone")))
        .otherwise(col("text")).as("text"))
    val corpus = base.union(clones)
    val out = operators.Pipeline.curate(corpus, "doc_id", "text",
        nearDupThreshold = 0.5, minQuality = 0.0)
      .groupBy("decision").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.getOrElse("exact_dup", 0L) + out.getOrElse("near_dup", 0L) == 100L,
      s"every clone must be dropped as a duplicate: $out")
    assert(out.getOrElse("kept", 0L) == 100L, s"every original must survive: $out")
  }

  test("curate with pre-mined pair evidence ≡ curate mining inline") {
    // the q46 memo path: pair evidence persisted per corpus snapshot and
    // threaded through knownNearDupPairs must change nothing about the
    // decisions vs inline mining with identical parameters
    val premined = operators.DedupOps.minhashLshPairs(
      docs, "doc_id", "text", 3, 0.9, knownHot = None).select("doc_a", "doc_b")
    val viaEvidence = operators.Pipeline.curate(docs, "doc_id", "text",
        knownNearDupPairs = Some(premined))
      .select("doc_id", "decision").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val inline = operators.Pipeline.curate(docs, "doc_id", "text")
      .select("doc_id", "decision").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaEvidence == inline,
      s"evidence-fed curation diverged: ${viaEvidence.toSet.diff(inline.toSet)}")
  }

  test("token shards: distributed prefix-sum ≡ global window, budget respected") {
    val budget = 500L
    val dist = Sharding.tokenShards(docs, "doc_id", "text", budget)
    val glob = Sharding.tokenShardsGlobal(docs, "doc_id", "text", budget)
    assert(dist.exceptAll(glob).count() == 0 && glob.exceptAll(dist).count() == 0,
      "two-level scan must equal the single global window")
    // every shard's token mass stays under budget + one straddling doc
    val maxDoc = dist.agg(max("ntok")).head().getLong(0)
    val over = dist.groupBy("shard").agg(sum("ntok").as("t"))
      .filter(col("t") > budget + maxDoc).count()
    assert(over == 0, "no shard may exceed budget + one straddling document")
    // shards are contiguous in doc order and start at 0
    val ids = dist.select("shard").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(ids.head == 0L && ids.zipWithIndex.forall { case (s, i) => s == i })
  }

  test("token shards: the data-row window is partitioned (no single-task scan)") {
    // the global-window formulation would show Exchange SinglePartition
    // feeding a Window over every document row; the production operator
    // must window over pid partitions instead
    val plan = Sharding.tokenShards(docs, "doc_id", "text", 500L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(pid"),
      s"expected the scan window to partition by pid:\n$plan")
  }

  test("decontamination flags exactly the docs sharing a k-gram with the benchmark") {
    val corp = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, 'the quick brown fox jumps over'),
        |  (2L, 'completely unrelated words here now'),
        |  (3L, 'ends with quick brown fox'),
        |  (4L, 'short doc'),
        |  (5L, 'fox brown quick reversed order text') t(doc_id, text)""".stripMargin)
    val bench = spark.sql(
      "SELECT * FROM VALUES (100L, 'quick brown fox appears in eval') t(doc_id, text)")
    val bad = Decontaminate.contaminatedIds(corp, bench, "doc_id", "text", 3)
      .collect().map(_.getLong(0)).toSet
    // docs 1 and 3 contain the 3-gram "quick brown fox"; 5 has the words
    // but not the sequence; 4 is under k tokens; 2 shares nothing
    assert(bad == Set(1L, 3L), bad)
    val flagged = Decontaminate.flag(corp, bench, "doc_id", "text", 3)
      .select("doc_id", "contaminated").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flagged == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false, 5L -> false))
  }

  test("decontamination report: each grain fires independently, clean docs absent") {
    import org.apache.spark.sql.functions.col
    val run = (1 to 30).map(i => s"w$i").mkString(" ")
    // doc 10: ngram-only overlap (one shared 3-gram, run too short for a
    // span); doc 11: a full 30-token verbatim copy (span + ngram); doc 12:
    // token-disjoint from the benchmark (embedding grain only); doc 13: clean
    val corp = spark.sql(
      s"""SELECT * FROM VALUES
         |  (10L, 'alpha beta gamma then different tail entirely'),
         |  (11L, '$run'),
         |  (12L, 'nothing shared with eval tokens at all'),
         |  (13L, 'totally clean text body here') t(doc_id, text)""".stripMargin)
    val bench = spark.sql(
      s"SELECT * FROM VALUES (1L, 'alpha beta gamma closes the eval'), (2L, '$run') t(doc_id, text)")
    def emb(rows: String) = spark.sql(
      s"SELECT vec_id, CAST(embedding AS ARRAY<FLOAT>) AS embedding FROM VALUES $rows t(vec_id, embedding)")
    // doc 12's vector is parallel to bench vec 1 (cosine 1.0); docs
    // 10/11/13 sit orthogonal to both benchmark vectors
    val corpEmb = emb(
      "(10L, array(1.0, 0.0)), (11L, array(1.0, 0.0)), (12L, array(0.0, 2.0)), (13L, array(1.0, 0.0))")
    val benchEmb = emb("(1L, array(0.0, 1.0)), (2L, array(0.0, -1.0))")
    val out = Decontaminate.report(corp, bench, corpEmb, benchEmb,
        minSpan = 20, cosTau = 0.3)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), Option(r.get(3)), r.getInt(4)))).toMap
    assert(out.keySet == Set(10L, 11L, 12L), out)
    assert(out(10L) == ((true, 0L, None, 1)), out(10L))         // ngram only
    assert(out(11L)._1 && out(11L)._2 == 30L && out(11L)._3.isEmpty &&
      out(11L)._4 == 2, out(11L))                               // ngram + span
    assert(out(12L) == ((false, 0L, Some(1.0d), 1)), out(12L))  // semantic only
  }

  test("connected components: chains close transitively, labels = component min") {
    // 1-2-3-4 chain (diameter 3 forces >1 propagation round), 10-11 pair,
    // 20 isolated via self-pair, 30 absent from any pair
    val pairs = spark.sql(
      """SELECT * FROM VALUES (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L)
        | t(doc_a, doc_b)""".stripMargin)
    val labels = Components.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L), labels)
  }

  test("connected components: distributed label propagation ≡ driver union-find") {
    // same labels from both paths — the adaptive threshold must be a pure
    // performance choice, never a semantics one. The chain through 7→1
    // merges two multi-hop chains into one component.
    val pairs = spark.sql(
      """SELECT * FROM VALUES (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L),
        |                     (5L, 6L), (6L, 7L), (7L, 1L)
        | t(doc_a, doc_b)""".stripMargin)
    def labels(limit: Long) = Components.connectedComponents(pairs, localEdgeLimit = limit)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = labels(Long.MaxValue)
    val dist = labels(0) // 0 forces the iterative distributed path
    assert(local == dist, s"local $local != distributed $dist")
    assert(local(7L) == 1L && local(5L) == 1L && local(20L) == 20L, local.toString)
  }

  test("dedupByClusters keeps the min-id member per cluster and all unpaired docs") {
    val corpus = spark.sql(
      "SELECT * FROM VALUES (1L,'a'),(2L,'a'),(3L,'a'),(4L,'a'),(10L,'b'),(11L,'b'),(30L,'c') t(doc_id, text)")
    val pairs = spark.sql(
      "SELECT * FROM VALUES (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L) t(doc_a, doc_b)")
    val kept = Components.dedupByClusters(corpus, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 30L), kept)
  }

  test("connected components: drop-set join is not broadcast-hinted") {
    // the drop set is O(duplicates) — at a 50%-dup crawl it is O(corpus),
    // so the anti-join must stay AQE-decided (same contract as curation)
    val pairs = spark.sql("SELECT * FROM VALUES (1L, 2L) t(doc_a, doc_b)")
    // check the ANALYZED plan: EliminateResolvedHint folds ResolvedHint
    // into the Join's JoinHint before optimization, so asserting on the
    // optimized plan text is vacuous (it passes even with broadcast())
    val qe = Components.dedupByClusters(docs, pairs, "doc_id").queryExecution
    val hints = qe.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"no forced broadcast allowed:\n${qe.analyzed}")
    assert(!qe.optimizedPlan.toString.contains("strategy=broadcast"),
      s"no folded broadcast hint allowed:\n${qe.optimizedPlan}")
  }

  test("real PNG decode round-trips dimensions and exact pixels; JPEG and corrupt bytes handled") {
    // PNG: lossless, so decoded luminance is bit-exact vs the generator
    for (id <- Seq(0L, 3L, 7L, 199L, 205L)) {
      val d = MediaOps.ImageIoCodec.decode(MediaOps.testPngBytes(id)).get
      val (w, h, base) = (16 + (id % 8).toInt, 12 + (id % 5).toInt, (id % 200).toInt)
      assert(d.width == w && d.height == h)
      assert(d.gray.sum.toLong == h.toLong * (w.toLong * base + w.toLong * (w - 1) / 2))
    }
    // JPEG through the same interface: dimensions survive, pixels lossy
    val img = new java.awt.image.BufferedImage(
      20, 10, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    val jd = MediaOps.ImageIoCodec.decode(out.toByteArray).get
    assert(jd.width == 20 && jd.height == 10)
    // corrupt bytes: dropped (None), never thrown
    assert(MediaOps.ImageIoCodec.decode(Array[Byte](1, 2, 3)).isEmpty)
    assert(MediaOps.ImageIoCodec.decode("not an image".getBytes).isEmpty)
    // 16-bit grayscale reads as a single-band raster with 0-65535
    // samples — the luminance contract (0-255) must still hold
    val img16 = new java.awt.image.BufferedImage(
      4, 3, java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    img16.getRaster.setSample(0, 0, 0, 65535) // white
    val out16 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img16, "png", out16)
    val d16 = MediaOps.ImageIoCodec.decode(out16.toByteArray).get
    assert(d16.gray.forall(v => v >= 0 && v <= 255),
      s"16-bit gray must normalize to 0-255, got max ${d16.gray.max}")
    assert(d16.gray(0) == 255 && d16.gray(1) == 0)
  }

  test("area-average downscale: exact block means, crop-to-multiple on odd dims") {
    // 3x5 raster, factor 2 -> 1x2: block means with floor, trailing
    // row/col dropped
    val img = MediaOps.DecodedImage(5, 3, Array(
      10, 20, 30, 40, 99,
      12, 22, 32, 42, 99,
      99, 99, 99, 99, 99))
    val r = MediaOps.downscale(img, 2)
    assert(r.width == 2 && r.height == 1)
    assert(r.gray.toSeq == Seq((10 + 20 + 12 + 22) / 4, (30 + 40 + 32 + 42) / 4))
    // factor 1 is identity
    val id1 = MediaOps.downscale(img, 1)
    assert(id1.width == 5 && id1.gray.toSeq == img.gray.toSeq)
    // gradient closed form at factor 2: pixel2(x2) = base + 2*x2
    val d = MediaOps.ImageIoCodec.decode(MediaOps.testPngBytes(3L)).get
    val r2 = MediaOps.downscale(d, 2)
    val base = 3 % 200
    for (x2 <- 0 until r2.width)
      assert(r2.gray(x2) == base + 2 * x2, s"x2=$x2")
  }

  test("real WAV decode round-trips 8-bit samples exactly; 16-bit and corrupt handled") {
    for (id <- Seq(0L, 7L, 99L, 205L)) {
      val a = MediaOps.JavaSoundCodec.decode(MediaOps.testWavBytes(id)).get
      val (n, base) = (400 + (id % 100).toInt, (id % 200).toInt)
      assert(a.sample_rate == 8000 && a.channels == 1 && a.samples.length == n)
      assert(a.samples.zipWithIndex.forall { case (s, i) => s == base + i % 50 })
    }
    // 16-bit PCM written by AudioSystem itself, read through the same
    // interface: high byte survives as unsigned 8-bit
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = Array.tabulate(100)(i => (i * 256).toShort)
    val raw = new Array[Byte](200)
    for (i <- pcm.indices) {
      raw(2 * i) = (pcm(i) & 0xFF).toByte
      raw(2 * i + 1) = ((pcm(i) >> 8) & 0xFF).toByte
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, 100)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    val a16 = MediaOps.JavaSoundCodec.decode(out.toByteArray).get
    assert(a16.samples.length == 100)
    assert(a16.samples.zipWithIndex.forall { case (s, i) => s == (i ^ 0x80) })
    // corrupt bytes drop, never throw
    assert(MediaOps.JavaSoundCodec.decode("not audio".getBytes).isEmpty)
    assert(MediaOps.JavaSoundCodec.decode(Array[Byte](82, 73, 70, 70)).isEmpty)
  }

  test("16-bit sample conversion honors the stream's encoding (signed XOR, unsigned pass-through)") {
    def fmt(signed: Boolean) = new javax.sound.sampled.AudioFormat(
      if (signed) javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
      else javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
      8000f, 16, 1, 2, 8000f, false)
    // little-endian 16-bit frames with high bytes 0, 1, 127, 128, 255
    val raw = Array[Int](0, 1, 127, 128, 255)
      .flatMap(hi => Array(0x34.toByte, hi.toByte))
    // signed stream: high byte is two's-complement → offset into 0-255
    assert(MediaOps.JavaSoundCodec.toSamples(fmt(signed = true), raw).get.toSeq ==
      Seq(0x80, 0x81, 0xFF, 0x00, 0x7F))
    // unsigned stream: high byte IS the unsigned sample — no XOR (the
    // pre-r14 code offset every sample by 128 here)
    assert(MediaOps.JavaSoundCodec.toSamples(fmt(signed = false), raw).get.toSeq ==
      Seq(0, 1, 127, 128, 255))
    // unsupported depth: None, not garbage
    val f24 = new javax.sound.sampled.AudioFormat(8000f, 24, 1, true, false)
    assert(MediaOps.JavaSoundCodec.toSamples(f24, new Array[Byte](6)).isEmpty)
  }

  test("downscale block sums survive factors whose pixel sum exceeds Int.MaxValue") {
    // 2902² white pixels: 255·2902² = 2 147 509 020 > Int.MaxValue — an
    // Int accumulator wraps negative and floor-divides to a wrong pixel
    val f = 2902
    val img = MediaOps.DecodedImage(f, f, Array.fill(f * f)(255))
    val r = MediaOps.downscale(img, f)
    assert(r.width == 1 && r.height == 1 && r.gray(0) == 255)
  }

  test("planesFor: corpus-sized LSH planes reproduce the measured knees and clamp") {
    // the r14 recall-map operating point (2k vectors) and the r12
    // 10×-scaling configuration (20k) fall out of the same policy
    assert(SimilarityOps.planesFor(2000) == 4)
    assert(SimilarityOps.planesFor(20000) == 8)
    // clamps: tiny corpora floor at 4 planes, no corpus exceeds 24
    assert(SimilarityOps.planesFor(1) == 4)
    assert(SimilarityOps.planesFor(Long.MaxValue / 4) == 24)
    // monotone in corpus size (the dial never shrinks as data grows)
    val sizes = Seq(100L, 1000L, 10000L, 100000L, 1000000L, 10000000L)
    val planes = sizes.map(SimilarityOps.planesFor(_))
    assert(planes == planes.sorted, s"not monotone: $planes")
    intercept[IllegalArgumentException](SimilarityOps.planesFor(0))
  }

  test("cosineNearDupPairsSized == explicit planes at the derived setting") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val sized = SimilarityOps.cosineNearDupPairsSized(
        emb, "vec_id", "embedding", threshold = 0.4, expectedVectors = n)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = SimilarityOps.cosineNearDupPairs(
        emb, "vec_id", "embedding", threshold = 0.4,
        planes = SimilarityOps.planesFor(n), probeDepth = 2)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sized == explicit && sized.nonEmpty)
  }

  test("distributed decode pipeline: encode and decode partition-parallel, features sane") {
    docs.createOrReplaceTempView("documents")
    val decoded = MediaOps.decodeImages(MediaOps.pngTable(docs)).collect()
    assert(decoded.length == docs.count())
    assert(decoded.forall(_.features.length == 4))
    // every feature cell is a mean luminance inside the gradient's range
    assert(decoded.forall(d => d.features.forall(f => f >= 0f && f < 224f)))
    // checksum parity vs the single-node codec
    val one = decoded.find(_.doc_id == 1L).get
    val ref = MediaOps.ImageIoCodec.decode(MediaOps.testPngBytes(1L)).get
    assert(one.checksum == ref.gray.sum.toLong)
  }

  test("stratified quota: two-stage salted plan == naive single window, any salt count") {
    import org.apache.spark.sql.expressions.Window
    val naive = docs
      .withColumn("__k", md5(col("doc_id").cast("string")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("source").orderBy(col("__k"), col("doc_id"))))
      .filter(col("__rn") <= 7).select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq
    for (salts <- Seq(1, 3, 16)) {
      val got = QuotaSample.stratifiedQuota(docs, "source", "doc_id", 7, salts)
        .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
      assert(got == naive, s"salts=$salts diverged from the naive selection")
    }
    // quota >= group size keeps everything; output schema is unchanged
    val all = QuotaSample.stratifiedQuota(docs, "source", "doc_id", 1000)
    assert(all.count() == docs.count())
    assert(all.schema == docs.schema)
  }

  test("token quota: bucket-histogram path == naive window at every budget regime") {
    for (b <- Seq(1L, 50L, 700L, 1000000L)) {
      val fast = QuotaSample.tokenQuota(docs, "source", "doc_id", "text", b)
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getBoolean(3))).toSeq
      val naive = QuotaSample.tokenQuotaNaive(docs, "source", "doc_id", "text", b)
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getBoolean(3))).toSeq
      assert(fast == naive, s"budget=$b diverged from the naive window")
    }
    // budget below any doc: the first-doc rule keeps exactly one per source
    val one = QuotaSample.tokenQuota(docs, "source", "doc_id", "text", 1L)
      .filter(col("kept")).groupBy("source").count().collect()
    assert(one.nonEmpty && one.forall(_.getLong(1) == 1L))
    // kept token mass respects the budget (unless it's that single overshoot)
    val m = QuotaSample.tokenQuota(docs, "source", "doc_id", "text", 700L)
      .filter(col("kept")).groupBy("source")
      .agg(sum("n_tokens").as("t"), count(lit(1)).as("c")).collect()
    assert(m.forall(r => r.getLong(1) <= 700L || r.getLong(2) == 1L))
    // and a huge budget keeps everything
    assert(QuotaSample.tokenQuota(docs, "source", "doc_id", "text", 1000000L)
      .filter(!col("kept")).count() == 0)
  }

  test("PII detection counts and redaction reach a clean fixpoint") {
    val rows = spark.sql(
      """SELECT * FROM VALUES
        |  ('mail me at jo.doe+x@sub.example.co.uk thanks'),
        |  ('server 192.168.0.1 and 10.0.0.255 up'),
        |  ('call +4915712345678 or +1234567 now'),
        |  ('a@b.io 1.2.3.4 +7654321 all three'),
        |  ('no pii here, just words and 42 dots.')
        |  t(text)""".stripMargin)
      .select(Privacy.piiCounts(col("text")).as("c"),
        Privacy.redact(col("text")).as("red"))
    val got = rows.select("c.emails", "c.ips", "c.phones", "red").collect()
    assert(got.map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq((1, 0, 0), (0, 2, 0), (0, 0, 2), (1, 1, 1), (0, 0, 0)))
    assert(got(3).getString(3) == "<EMAIL> <IP> <PHONE> all three")
    // redaction is complete: re-scanning redacted text finds nothing
    val residual = rows.select(Privacy.piiCounts(col("red")).as("r"))
      .selectExpr("r.emails + r.ips + r.phones AS n")
      .agg(sum("n")).head().getLong(0)
    assert(residual == 0L)
  }

  test("native RepetitionStats matches the array-ops reference formulation") {
    val both = docs.select(
      QualityFilters.repetitionStats(col("text")).as("fast"),
      QualityFilters.repetitionStatsArrayOps(col("text")).as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("repetition stats count duplicate tokens and bigrams exactly") {
    val r = spark.sql(
      """SELECT * FROM VALUES
        |  ('a b a b a'), ('x y z'), ('w'), ('')
        |  t(text)""".stripMargin)
      .select(QualityFilters.repetitionStats(col("text")).as("r"))
      .select("r.tokens", "r.dup_tokens", "r.bigrams", "r.dup_bigrams")
      .collect().map(x => (x.getInt(0), x.getInt(1), x.getInt(2), x.getInt(3))).toSeq
    // 'a b a b a': 5 tokens {a,b} -> 3 dup; 4 bigrams {ab,ba} -> 2 dup
    assert(r == Seq((5, 3, 4, 2), (3, 0, 2, 0), (1, 0, 0, 0), (0, 0, 0, 0)))
  }

  test("shared-gram stats flag the planted cross-document boilerplate") {
    val d = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, 'the quick brown fox jumps over the lazy dog'),
        |  (2L, 'the quick brown fox jumps high above everything else'),
        |  (3L, 'completely different words in this one right here ok'),
        |  (4L, 'too short')
        |  t(doc_id, text)""".stripMargin)
    val got = QualityFilters.sharedGramStats(d, "doc_id", "text", n = 5)
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // docs 1+2 share exactly one 5-gram: 'the quick brown fox jumps';
    // doc 4 has < 5 tokens and drops out of the profile entirely
    assert(got == Seq((1L, 5L, 1L), (2L, 5L, 1L), (3L, 5L, 0L)))
  }

  test("native RuleStats matches the composed formulation, edge strings included") {
    val spark2 = spark
    import spark2.implicits._
    // a structured variant of the corpus docs: lines, bullets, ellipses,
    // dup lines, PII-ish tails — the q162 fixture's ingredient list
    val structured = docs.limit(60).select(concat(
      col("text"), lit("\n- bullet tail ...\n"), col("text"),
      lit("\n# the end.\ncontact user9@example.com now\nlorem IPSUM { x")).as("text"))
    val edge = Seq("", "   ", "a", "...", "…", "....", ".....", "# #",
      "x\n\n\n", " - x ", "•", "• dot", "the The THE the", "lorem IPSUM",
      "LOREM İPSUM", "Lorem\nipsum", "a{b", "tail ...", "tail …",
      "line \r", "ends.\nends.\n  ends. ", "? ! \" .", "..", ". . .",
      "…… …", "-", "*x", "the\tbe to\nof and that have with")
      .toDF("text")
    for (d <- Seq(structured, edge)) {
      val both = d.select(
        QualityFilters.ruleStats(col("text")).as("fast"),
        QualityFilters.ruleStatsArrayOps(col("text")).as("ref"))
      assert(both.filter(col("fast") =!= col("ref")).count() == 0,
        both.filter(col("fast") =!= col("ref")).collect().mkString("\n"))
      // the single-boolean gate verdict == the report's conjunction,
      // across two distinct threshold operating points
      for (p <- Seq(QualityFilters.RuleParams(),
          QualityFilters.RuleParams(minWords = 3, maxWords = 60,
            minMeanWordLen = 2.5, maxMeanWordLen = 7.5, maxSymbolRatio = 0.05,
            maxBulletLineRatio = 0.2, maxEllipsisLineRatio = 0.1,
            minAlphaWordRatio = 0.95, minStopHits = 1, maxDupLineRatio = 0.0,
            minTermLines = 2, banLoremIpsum = false, banBrace = false))) {
        val g = d.select(QualityFilters.rulePass(col("text"), p).as("gate"),
          QualityFilters.ruleVerdicts(
            QualityFilters.ruleStatsArrayOps(col("text")), p).as("v"))
        val mism = g.filter(col("gate") =!= (col("v.r_words") && col("v.r_mean_len") &&
          col("v.r_symbols") && col("v.r_bullets") && col("v.r_ellipsis") &&
          col("v.r_alpha") && col("v.r_stopwords") && col("v.r_dup_lines") &&
          col("v.r_terminal") && col("v.r_lorem") && col("v.r_brace")))
        assert(mism.count() == 0, mism.collect().mkString("\n"))
      }
    }
  }

  test("repetition fractions match an independent Scala reference exactly") {
    val spark2 = spark
    import spark2.implicits._
    def ref(text: String): Seq[Double] = {
      val toks = text.trim.split("\\s+").filter(_.nonEmpty)
      val lens = toks.map(t => t.codePointCount(0, t.length))
      val total = lens.map(_.toLong).sum.toDouble
      (2 to 10).map { n =>
        if (total == 0 || toks.length < n) 0.0
        else {
          val grams = toks.sliding(n).map(_.mkString(" ")).toVector
          val counts = grams.groupBy(identity).map { case (g, o) => g -> o.size }
          if (n <= 4)
            counts.map { case (g, c) =>
              c.toLong * (g.codePointCount(0, g.length) - (n - 1)) }.max.toDouble / total
          else {
            val covered = Array.fill(toks.length)(false)
            grams.zipWithIndex.foreach { case (g, i) =>
              if (counts(g) >= 2) (i until i + n).foreach(covered(_) = true) }
            covered.zip(lens).collect { case (true, l) => l.toLong }.sum.toDouble / total
          }
        }
      }
    }
    val texts = docs.limit(40).collect().map(_.getAs[String]("text")).toSeq
      .map(t => t + " " + t) ++                      // force real dup grams
      Seq("", "a", "a a a a a a a a a a a a", "x y x y x y x y x y x y",
        "the cat sat on the mat the cat sat on the mat",
        "é 你 é 你 é 你 é 你 é 你 é 你",
        "one two three four five six seven eight nine ten eleven")
    val got = texts.toDF("text")
      .select(col("text"), QualityFilters.repFractions(col("text")).as("r"))
      .collect().map(r => r.getString(0) -> r.getStruct(1))
    got.foreach { case (t, row) =>
      val want = ref(t)
      (0 until 9).foreach(i =>
        assert(row.getDouble(i) == want(i),
          s"n=${i + 2} got ${row.getDouble(i)} want ${want(i)} on '${t.take(60)}'"))
    }
  }

  test("rule stats count lines, bullets, ellipses, terminals, and dups exactly") {
    val text = "the cat sat.\n- bullet line ...\nthe cat sat.\n* another bullet!\nplain line"
    val r = spark.range(1).select(lit(text).as("text"))
      .select(QualityFilters.ruleStats(col("text")).as("r"))
      .select("r.n_tokens", "r.n_chars", "r.n_alpha_tokens", "r.n_stop_hits",
        "r.n_symbols", "r.n_lines", "r.n_bullet_lines", "r.n_ellipsis_lines",
        "r.n_term_lines", "r.n_dup_lines", "r.has_lorem", "r.has_brace")
      .head()
    assert(r.getInt(0) == 15)          // whitespace tokens across newlines
    assert(r.getInt(1) == 58)          // summed token lengths
    assert(r.getInt(2) == 12)          // '-', '*', '...' carry no letter
    assert(r.getInt(3) == 1)           // 'the' is the only Gopher stopword
    assert(r.getDouble(4) == 1.0)      // one '...' run, no '#'/'…'
    assert(r.getInt(5) == 5)
    assert(r.getInt(6) == 2)           // '-' and '*' starters
    assert(r.getInt(7) == 1)           // one line ends '...'
    assert(r.getInt(8) == 4)           // '.'x2, '!', and the '...' tail's '.'
    assert(r.getInt(9) == 1)           // 'the cat sat.' repeats once
    assert(!r.getBoolean(10) && !r.getBoolean(11))
  }

  test("rule report flags exactly the violated Gopher/C4 rules per doc") {
    val p = QualityFilters.RuleParams(minWords = 3, maxWords = 100,
      minMeanWordLen = 2.0, maxMeanWordLen = 8.0, maxSymbolRatio = 0.2,
      maxBulletLineRatio = 0.5, maxEllipsisLineRatio = 0.4,
      minAlphaWordRatio = 0.7, minStopHits = 1, maxDupLineRatio = 0.4,
      minTermLines = 1)
    val cases: Seq[(Long, String, Set[String])] = Seq(
      (1L, "the of and.", Set.empty),
      (2L, "to the.", Set("r_words")),     // 'the.' misses the exact probe; 'to' hits
      (3L, "a b the c.", Set("r_mean_len")),
      (4L, "the cathedral keeps many markers going # strong #.", Set("r_symbols")),
      (5L, "- the cat sat.\n- the dog ran.\nplain end.", Set("r_bullets")),
      // two of eight tokens are '...' runs, so the symbol ratio trips too
      (6L, "the cat ...\nthe dog ...\nplain end.", Set("r_ellipsis", "r_symbols")),
      (7L, "the 123 456 789 000.", Set("r_alpha")),
      (8L, "cats dogs run fast.", Set("r_stopwords")),
      (9L, "the cat sat.\nthe cat sat.\nthe cat sat.", Set("r_dup_lines")),
      (10L, "the cat sat", Set("r_terminal")),
      (11L, "the Lorem Ipsum generator sat.", Set("r_lorem")),
      (12L, "the code block { sat.", Set("r_brace")),
      (13L, ("the " * 100) + "end.", Set("r_words")),              // 101 > maxWords
      (14L, "", Set("r_words", "r_mean_len", "r_stopwords", "r_terminal")))
    val df = spark.createDataFrame(cases.map(c => (c._1, c._2)))
      .toDF("doc_id", "text")
    // the repetition-tier columns are informational here (checkRepetition
    // is off — short probe docs legally exceed top-gram fractions, which
    // is exactly why Gopher pairs that tier with the word-count floor);
    // only the 11 core rules participate in rule_pass and this audit
    val core = Set("r_words", "r_mean_len", "r_symbols", "r_bullets",
      "r_ellipsis", "r_alpha", "r_stopwords", "r_dup_lines", "r_terminal",
      "r_lorem", "r_brace")
    val got = QualityFilters.ruleReport(df, "doc_id", "text", p).collect()
      .map { row =>
        val failed = row.schema.fieldNames
          .filter(n => core(n) && !row.getAs[Boolean](n)).toSet
        (row.getAs[Long]("doc_id"), failed, row.getAs[Boolean]("rule_pass"))
      }.sortBy(_._1)
    cases.foreach { case (id, _, want) =>
      val (_, failed, pass) = got(id.toInt - 1)
      assert(failed == want, s"doc $id")
      assert(pass == want.isEmpty, s"doc $id pass flag")
    }
  }

  test("incremental dedup == plain anti-join; empty history admits all") {
    val hist = docs.filter(col("doc_id") % 3 === 0)
    val batch = docs.filter(col("doc_id") % 3 =!= 0)
    val got = IncrementalDedup.dedupAgainstHistory(batch, hist, "doc_id", "text")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val fp = TextOps.fingerprint(col("text"))
    val expect = batch.join(hist.select(fp.as("__h")).distinct(),
        fp === col("__h"), "left_anti")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == expect)
    // prebuilt/persisted history-filter path selects identically
    val blob = IncrementalDedup.buildHistoryFilter(hist, "text")
    val pre = IncrementalDedup.dedupAgainstHistory(batch, hist, "doc_id", "text",
        historyBlob = Some(blob))
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(pre == expect)
    val none = IncrementalDedup.dedupAgainstHistory(
      batch, hist.filter(lit(false)), "doc_id", "text")
    assert(none.count() == batch.count())
  }

  test("sized incremental dedup selects identically to the 2^20 default") {
    // Right-sizing moves only filter capacity (a cost/fpp dial), never
    // the verified output: bloom has no false negatives at any size, and
    // the verify join is exact.
    val hist = docs.filter(col("doc_id") % 3 === 0)
    val batch = docs.filter(col("doc_id") % 3 =!= 0)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val default = ids(IncrementalDedup.dedupAgainstHistory(batch, hist, "doc_id", "text"))
    val sized = ids(IncrementalDedup.dedupAgainstHistorySized(batch, hist,
      "doc_id", "text", expectedHistoryDocs = hist.count(), expectedBatchDocs = batch.count()))
    assert(sized == default)
    // headroom policy is shared with the streaming geometry
    assert(IncrementalDedup.sizedMaxDistinct(10000) ==
      math.ceil(10000 * graft.streaming.StreamingDedup.CapacityHeadroom).toLong)
    assert(IncrementalDedup.sizedMaxDistinct(10) == 1024L) // floor
  }

  test("q60 pair-evidence memo: memoized clustering ≡ fresh mining, and replays") {
    // q60 clusters over the per-corpus-snapshot pair memo (one mining pass
    // shared with q35); parity pin: the memoized path must equal clustering
    // over freshly mined pairs, on the first call AND on a replay
    val dir = "/root/testdata/sf0.001"
    val q60 = SparkEntry.queries("q60_dedup_clusters")
    def toPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val first = toPairs(q60(spark, dir))
    val replay = toPairs(q60(spark, dir)) // second call hits the memo
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    val fresh = toPairs(Components.connectedComponents(
      DedupOps.jaccardPairs(corpus, "doc_id", "text", k = 3, threshold = 0.6)))
    assert(first.toSet == fresh.toSet,
      s"memoized clusters diverge from fresh mining: ${first.toSet} vs ${fresh.toSet}")
    assert(replay == first)
  }

  test("SnapshotStore: build-once-probe-forever round-trip for hot list, bloom, centroids, pairs") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val corpus = "/root/testdata/sf0.001/documents.parquet"
    val store = new SnapshotStore(spark, root)

    // hot-shingle list: build persists; a FRESH store instance loads cold
    var built = 0
    def mineHot(): Array[Long] = {
      built += 1
      DedupOps.hotShingles(DedupOps.shingleSets(docs, "doc_id", "text", 3), 5)
    }
    val hot1 = store.getOrBuildLongs(corpus, "hot-k3-c5")(mineHot())
    val hot2 = new SnapshotStore(spark, root).getOrBuildLongs(corpus, "hot-k3-c5")(mineHot())
    assert(built == 1, "second getOrBuild must load, not rebuild")
    assert(hot1.sorted.toSeq == hot2.sorted.toSeq && hot1.nonEmpty)
    // the q35-class query runs COLD from the stored artifact, same answer
    val inline = DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.6)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromStore = DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.6,
        knownHot = Some(hot2))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromStore == inline)

    // history bloom (q64-class): stored blob drives incremental dedup cold
    val history = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val bloom = store.getOrBuildBytes(corpus, "history-bloom")(
      IncrementalDedup.buildHistoryFilter(history, "text", maxDistinct = 1 << 14))
    val bloomCold = new SnapshotStore(spark, root).getOrBuildBytes(corpus, "history-bloom")(
      sys.error("must not rebuild"))
    assert(java.util.Arrays.equals(bloom, bloomCold))

    // sampled centroids (q101-class): semantic dedup from stored centroids
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cent = store.getOrBuildVectors(corpus, "centroids-k4")(
      KMeansOps.fit(emb, "vec_id", "embedding", k = 4, iters = 2))
    val centCold = new SnapshotStore(spark, root).getOrBuildVectors(corpus, "centroids-k4")(
      sys.error("must not rebuild"))
    assert(cent.length == 4 && cent.zip(centCold).forall { case (a, b) => a.sameElements(b) })
    val fresh = KMeansOps.semDedup(emb, "vec_id", "embedding",
      KMeansOps.fit(emb, "vec_id", "embedding", k = 4, iters = 2), tau = 0.35)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet
    val cold = KMeansOps.semDedup(emb, "vec_id", "embedding", centCold, tau = 0.35)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet
    assert(cold == fresh)

    // distributed artifact (q97-class pair evidence) stays a parquet scan
    val pairs = store.getOrBuildDf(corpus, "pair-evidence")(
      DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.6).select("doc_a", "doc_b"))
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == inline)

    // staleness: a different corpus mtime yields a DIFFERENT artifact path
    val p1 = store.artifactPath(corpus, "hot-k3-c5")
    assert(p1.contains("-m") && p1.startsWith(root))
    ()
  }

  test("curateFull: every decision class lands on the constructed doc, stages in order") {
    import spark.implicits._
    val span = (1 to 30).map(i => s"shared$i").mkString(" ") // >= minSpan=20 verbatim run
    val near = (1 to 15).map(i => s"common$i").mkString(" ") // < minSpan: survives span stage
    val corpus = Seq(
      (0L, "s0", "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "s1", "  alpha beta   gamma delta epsilon zeta eta theta "), // exact dup of 0 (normalized)
      (2L, "s2", "   "),                                                // blank -> empty
      (3L, "s3", s"prefix3a prefix3b $span suffix3a suffix3b"),
      (4L, "s4", s"other4a other4b other4c $span tail4a tail4b tail4c"), // loses the span, stays kept
      (5L, "s5", s"$near ending5"),
      (6L, "s6", s"$near ending6"),                                     // near-dup of 5 -> dropped
      (7L, "s7", "doc seven body words here now"),
      (8L, "s8", "doc eight body words here now two"),                  // sem-dup of 7 via embeddings
      (9L, "s9", "nine one two three four five six seven"),
      (10L, "s9", "ten one two three four five six eight")              // same source: one over_quota
    ).toDF("doc_id", "source", "text")
    // embeddings: 7 and 8 identical (cos 1 >= tau); everyone else far apart
    val embRows = Seq(
      7L -> Array(1f, 0f, 0f, 0f), 8L -> Array(1f, 0f, 0f, 0f),
      0L -> Array(0f, 1f, 0f, 0f), 3L -> Array(0f, 0f, 1f, 0f),
      4L -> Array(0f, 0f, 0f, 1f), 5L -> Array(0f, -1f, 0f, 0f),
      9L -> Array(0f, 0f, -1f, 0f), 10L -> Array(0f, 0f, 0f, -1f))
    val embs = embRows.toDF("vec_id", "emb")
      .withColumn("emb", col("emb").cast("array<float>"))
    // threshold 0.8: at the 0.9 default a 3-gram near-dup needs a shared
    // verbatim run past minSpan=20, which the span stage correctly eats
    // first — the 15-token overlap here is a J=0.867 near-dup that only
    // the near-dup stage can catch
    val out = Pipeline.curateFull(corpus, embs, "doc_id", "text", "source",
        vecIdCol = "vec_id", vecCol = "emb",
        nearDupThreshold = 0.8, semK = 4, tokenBudget = 10L)
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    assert(out(0L)._1 == "kept")
    assert(out(1L)._1 == "exact_dup")
    assert(out(2L)._1 == "empty")
    assert(out(3L)._1 == "kept" && out(3L)._2 == 0L, s"doc3: ${out(3L)}")
    // doc 4 loses the 30-token span (higher id), but survives near-dup
    // BECAUSE the similarity is judged on the CLEANED text
    assert(out(4L)._1 == "kept" && out(4L)._2 == 30L, s"doc4: ${out(4L)}")
    assert(out(5L)._1 == "kept")
    assert(out(6L)._1 == "near_dup")
    assert(out(7L)._1 == "kept")
    assert(out(8L)._1 == "sem_dup")
    // same-source pair over a 10-token budget: exactly one survives
    val s9 = Seq(out(9L)._1, out(10L)._1).sorted
    assert(s9 == Seq("kept", "over_quota"), s"s9 pair: $s9")
  }

  test("seedCrawlNbScores: seed-vocabulary docs score above crawl-vocabulary docs") {
    import spark.implicits._
    val seedTxt = (0 until 8).map(i => (i.toLong,
      s"the curated encyclopedia article number unique$i discusses science history and literature topics"))
    val crawlTxt = (8 until 16).map(i => (i.toLong,
      s"click here buy cheap pills now winner unique$i free casino bonus offer today"))
    val all = (seedTxt ++ crawlTxt).toDF("doc_id", "text")
    val seed = all.filter($"doc_id" < 8)
    val crawl = all.filter($"doc_id" >= 8)
    // held-out probes sharing vocabulary with one class each
    val probes = Seq(
      (100L, "a curated article about science history and literature"),
      (101L, "buy cheap casino bonus click here now free")).toDF("doc_id", "text")
    val p = TextOps.seedCrawlNbScores(seed, crawl, probes).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(p(100L)._1 > p(101L)._1, s"probe scores: $p")
    assert(p(100L)._2 && !p(101L)._2, s"probe decisions: $p")
    // the training docs themselves separate cleanly
    val self = TextOps.seedCrawlNbScores(seed, crawl, all).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert((0L until 8L).forall(self(_)), s"seed docs must be seed_like: $self")
    assert((8L until 16L).forall(id => !self(id)), s"crawl docs must not: $self")
    // blank docs carry no features and emit no row
    val blank = Seq((200L, "   ")).toDF("doc_id", "text")
    assert(TextOps.seedCrawlNbScores(seed, crawl, blank).count() == 0)
  }

  test("perplexity buckets: reference-like text lands head, gibberish tail, terciles cover") {
    import spark.implicits._
    val ref = Seq((100L, "the quick brown fox jumps over the lazy dog again and again"),
      (101L, "the lazy dog sleeps while the quick fox runs over the hill")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),   // reference-like
      (1L, "the lazy fox runs over the quick brown dog"),    // reference-like
      (2L, "qzx vbnk wyyrt plomj xxzzq kjhgf qwerty zxcvb"), // gibberish
      (3L, "mmmnb vvvcx ppplo qqqaz wwwsx eeedc rrrfv"),     // gibberish
      (4L, "the dog and the fox run over the hill"),
      (5L, "a dog jumps while a fox sleeps on the hill")
    ).toDF("doc_id", "text")
    val out = TextOps.perplexityBuckets(ref, corpus).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out.size == 6)
    // terciles of 6: 2 head-threshold, value-based assignment
    assert(out(0L) == "head" && out(1L) == "head", s"$out")
    assert(out(2L) == "tail" && out(3L) == "tail", s"$out")
    assert(Set("head", "middle", "tail").subsetOf(out.values.toSet), s"$out")
  }

  test("NB model is a snapshot artifact: store round-trip, incremental gate uses it fixed") {
    import spark.implicits._
    val history = Seq(
      (0L, "the curated encyclopedia article discusses science history and literature alpha"),
      (2L, "a curated reference article covers science literature and history beta"),
      (4L, "curated encyclopedia reference text on history science literature gamma"),
      (6L, "click here buy cheap pills now winner free casino bonus offer"),
      (8L, "free casino winner click buy now cheap bonus pills offer today")
    ).toDF("doc_id", "text")
    // fit on the snapshot's seed/crawl split, round-trip through the store
    val model = TextOps.seedCrawlNbFit(
      history.filter($"doc_id" < 6), history.filter($"doc_id" >= 6))
    val root = java.nio.file.Files.createTempDirectory("graft-nb-store").toString
    val store = new SnapshotStore(spark, root)
    val corpus = "/root/testdata/sf0.001/documents.parquet"
    store.getOrBuildLongPairs(corpus, "nb-quality")(TextOps.nbModelToRows(model))
    val cold = TextOps.nbModelFromRows(
      new SnapshotStore(spark, root).getOrBuildLongPairs(corpus, "nb-quality")(
        sys.error("must not rebuild")))
    assert(cold == model)
    // scoring with the reloaded model is identical to the fresh one
    val batch = Seq(
      (11L, "a curated article about science history and literature"),
      (13L, "buy cheap casino bonus click here now free today")
    ).toDF("doc_id", "text")
    val a = TextOps.nbScore(model, batch).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val b = TextOps.nbScore(cold, batch).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(a == b && a.size == 2)
    // curateIncremental with the stored model: the crawl-like batch doc
    // drops as low_quality, the seed-like one is kept
    val embs = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 2L -> Array(0f, 1f, 0f, 0f),
      4L -> Array(0f, 0f, 1f, 0f), 6L -> Array(0f, 0f, 0f, 1f),
      8L -> Array(-1f, 0f, 0f, 0f), 11L -> Array(0f, -1f, 0f, 0f),
      13L -> Array(0f, 0f, -1f, 0f)).toDF("vec_id", "emb")
      .withColumn("emb", col("emb").cast("array<float>"))
    val out = Pipeline.curateIncremental(history, batch, embs, "doc_id", "text",
        vecIdCol = "vec_id", vecCol = "emb", semK = 2,
        nbModel = Some(cold))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(13L) == "low_quality" && out(11L) == "kept", s"$out")
    // hook off: no low_quality class (q115's path unchanged)
    val off = Pipeline.curateIncremental(history, batch, embs, "doc_id", "text",
        vecIdCol = "vec_id", vecCol = "emb", semK = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(off.values.forall(_ != "low_quality"), s"$off")
  }

  test("curateFull quality gate: low_quality fires on crawl-like text, matches the scorer") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "s0", "the curated encyclopedia article discusses science history and literature alpha"),
      (1L, "s1", "a curated reference article covers science literature and history beta"),
      (2L, "s2", "curated encyclopedia reference text on history science literature gamma"),
      (3L, "s3", "click here buy cheap pills now winner free casino bonus offer"),   // crawl-like
      (4L, "s4", "free casino winner click buy now cheap bonus pills offer today"),  // crawl-like
      (5L, "s5", "another curated article about science and history delta")
    ).toDF("doc_id", "source", "text")
    val embRows = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0f, 1f, 0f, 0f),
      2L -> Array(0f, 0f, 1f, 0f), 3L -> Array(0f, 0f, 0f, 1f),
      4L -> Array(0f, -1f, 0f, 0f), 5L -> Array(-1f, 0f, 0f, 0f))
    val embs = embRows.toDF("vec_id", "emb")
      .withColumn("emb", col("emb").cast("array<float>"))
    // seed = sources s0-s2+s5 (the curated slice); crawl sample = the rest
    val seedF = col("source").isin("s0", "s1", "s2", "s5")
    val out = Pipeline.curateFull(corpus, embs, "doc_id", "text", "source",
        vecIdCol = "vec_id", vecCol = "emb",
        semK = 4, tokenBudget = 1000L, seedFilter = Some(seedF))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(3L) == "low_quality" && out(4L) == "low_quality", s"decisions: $out")
    assert(Seq(0L, 1L, 2L, 5L).forall(out(_) == "kept"), s"decisions: $out")
    // the gate's drop set IS the standalone scorer's below-zero set (here
    // span removal rewrites nothing, so cleaned text = raw text)
    val scorerDrops = TextOps.seedCrawlNbScores(
        corpus.filter(seedF), corpus.filter(!seedF), corpus)
      .filter(col("nb_score_u") < 0L).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(scorerDrops == out.filter(_._2 == "low_quality").keySet, s"$scorerDrops vs $out")
    // hook off -> no low_quality class, everything else unchanged
    val off = Pipeline.curateFull(corpus, embs, "doc_id", "text", "source",
        vecIdCol = "vec_id", vecCol = "emb", semK = 4, tokenBudget = 1000L)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(off.values.forall(_ != "low_quality"), s"decisions with hook off: $off")
    // rank-based mode: the worst floor(0.4 * 6) = 2 docs by score drop —
    // exactly the two crawl-like docs (they score lowest), regardless of
    // where the absolute threshold sits
    val ranked = Pipeline.curateFull(corpus, embs, "doc_id", "text", "source",
        vecIdCol = "vec_id", vecCol = "emb", semK = 4, tokenBudget = 1000L,
        seedFilter = Some(seedF), lowQualityFraction = 0.4)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(ranked.filter(_._2 == "low_quality").keySet == Set(3L, 4L), s"$ranked")
  }

  test("curateFull decontamination: both grains drop, precedence holds, hook off unchanged") {
    import spark.implicits._
    val run13 = (1 to 16).map(i => s"e$i").mkString(" ")
    val corpus = Seq(
      (10L, "s0", s"prefix words here then $run13 and a tail"),    // 13-gram grain
      (11L, "s1", "entirely original article nothing shared with the eval suite at all one"),
      (12L, "s2", "plain original text disjoint from evaluation tokens completely two"), // cosine grain
      (13L, "s3", "another clean original document with its own words three")
    ).toDF("doc_id", "source", "text")
    val bench = Seq((1L, "b", s"eval item starts $run13 closes")).toDF("doc_id", "source", "text")
    val embRows = Seq(
      10L -> Array(1f, 0f), 11L -> Array(0f, 1f),
      12L -> Array(3f, 4f), 13L -> Array(-1f, 0f))
    val embs = embRows.toDF("vec_id", "emb").withColumn("emb", col("emb").cast("array<float>"))
    // bench vector parallel to doc 12 only (cosine 1.0); 10/11/13 at ≤ 0.8?
    // 12=(3,4)/5 vs bench (0.6,0.8): cos=1. 10=(1,0): cos 0.6 > 0.4! use tau 0.9
    val benchEmb = Seq(1L -> Array(0.6f, 0.8f)).toDF("vec_id", "emb")
      .withColumn("emb", col("emb").cast("array<float>"))
    val out = Pipeline.curateFull(corpus, embs, "doc_id", "text", "source",
        vecIdCol = "vec_id", vecCol = "emb", semK = 2, tokenBudget = 1000L,
        benchmark = Some(bench), benchmarkEmb = Some(benchEmb),
        contamNgramK = 13, contamCosTau = 0.9)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(10L) == "contaminated" && out(12L) == "contaminated", s"decisions: $out")
    assert(out(11L) == "kept" && out(13L) == "kept", s"decisions: $out")
    // hook off: no contaminated class, the grains' docs survive curation
    val off = Pipeline.curateFull(corpus, embs, "doc_id", "text", "source",
        vecIdCol = "vec_id", vecCol = "emb", semK = 2, tokenBudget = 1000L)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(off.values.forall(_ != "contaminated"), s"decisions with hook off: $off")
    assert(off(10L) == "kept" && off(12L) == "kept", s"$off")
  }

  test("pair detectors' eager mode: identical pairs, base cache released, leaf plan") {
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lazyPairs = pairsOf(DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.6))
    val eagerDf = DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.6, eager = true)
    // NOTE: no global persistent-RDD count assertions here — suites share
    // one SparkSession and run in parallel, so counts race (and a
    // clearCache() would clobber sibling suites' caches mid-run). The
    // release itself is a one-line unpersist in finishPairs; what this
    // test pins is the eager contract: identical pairs, materialized
    // leaf result.
    assert(pairsOf(eagerDf) == lazyPairs)
    // materialized result: the plan is a leaf, no recompute through lineage
    assert(eagerDf.queryExecution.optimizedPlan.collectLeaves().forall(
      _.getClass.getSimpleName.contains("LogicalRDD")),
      eagerDf.queryExecution.optimizedPlan.toString)
  }

  test("curateIncremental: each cross-stage decision lands on the constructed batch doc") {
    import spark.implicits._
    val span = (1 to 30).map(i => s"hshared$i").mkString(" ")
    val near = (1 to 15).map(i => s"hcommon$i").mkString(" ")
    val history = Seq(
      (0L, "history alpha beta gamma delta epsilon"),
      (2L, s"hpre1 hpre2 $span hpost1 hpost2"),
      (4L, s"$near hending4"),
      (6L, "history six body words here now")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "  history alpha beta   gamma delta epsilon "), // exact dup of 0 (normalized)
      (3L, s"bpre1 bpre2 bpre3 $span btail1 btail2"),      // contaminated: span cut, then kept
      (5L, s"$near hending5"),                             // cross near-dup of 4 (J=0.867 @ 0.8)
      (7L, "batch seven body words here now"),             // sem-dup of 6 via embeddings
      (9L, "fresh batch content nothing shared at all")    // kept untouched
    ).toDF("doc_id", "text")
    val embs = Seq(
      6L -> Array(1f, 0f, 0f, 0f), 7L -> Array(1f, 0f, 0f, 0f),
      0L -> Array(0f, 1f, 0f, 0f), 2L -> Array(0f, 0f, 1f, 0f),
      4L -> Array(0f, 0f, 0f, 1f), 3L -> Array(0f, -1f, 0f, 0f),
      5L -> Array(0f, 0f, -1f, 0f), 9L -> Array(0f, 0f, 0f, -1f),
      1L -> Array(0f, 0.5f, 0.5f, 0f)
    ).toDF("vec_id", "emb").withColumn("emb", col("emb").cast("array<float>"))
    val out = Pipeline.curateIncremental(history, batch, embs, "doc_id", "text",
        vecIdCol = "vec_id", vecCol = "emb",
        nearDupThreshold = 0.8, semK = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out.keySet == Set(1L, 3L, 5L, 7L, 9L), "batch rows only")
    assert(out(1L)._1 == "exact_dup")
    assert(out(3L)._1 == "kept" && out(3L)._2 == 30L, s"doc3: ${out(3L)}")
    assert(out(5L)._1 == "near_dup")
    assert(out(7L)._1 == "sem_dup")
    assert(out(9L)._1 == "kept" && out(9L)._2 == 0L)
  }

  test("curateIncremental decontamination: eval grains drop batch docs before history stages") {
    import spark.implicits._
    val run13 = (1 to 16).map(i => s"v$i").mkString(" ")
    val history = Seq((0L, "history base document words entirely original")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, s"lead in words $run13 trailing words"),                 // 13-gram eval grain
      (3L, "clean fresh batch content with no overlaps anywhere"),  // cosine eval grain
      (5L, "another clean fresh batch document all original")       // kept
    ).toDF("doc_id", "text")
    val bench = Seq((100L, s"eval question $run13 eval answer")).toDF("doc_id", "text")
    val embs = Seq(0L -> Array(0f, 1f), 1L -> Array(0f, -1f),
        3L -> Array(1f, 0f), 5L -> Array(0f, -1f))
      .toDF("vec_id", "emb").withColumn("emb", col("emb").cast("array<float>"))
    val benchEmb = Seq(100L -> Array(1f, 0f)).toDF("vec_id", "emb")
      .withColumn("emb", col("emb").cast("array<float>"))
    val out = Pipeline.curateIncremental(history, batch, embs, "doc_id", "text",
        vecIdCol = "vec_id", vecCol = "emb", semK = 1,
        benchmark = Some(bench), benchmarkEmb = Some(benchEmb),
        contamNgramK = 13, contamCosTau = 0.9)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "contaminated" && out(3L) == "contaminated", s"decisions: $out")
    assert(out(5L) == "kept", s"decisions: $out")
    // hook off: no contaminated class in the prior shape
    val off = Pipeline.curateIncremental(history, batch, embs, "doc_id", "text",
        vecIdCol = "vec_id", vecCol = "emb", semK = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(off.values.forall(_ != "contaminated"), s"decisions with hook off: $off")
  }

  // one-hot test embeddings: identical vectors are sem-dups, the rest
  // are orthogonal (cosine 0)
  private def oneHot(dims: Int, rows: (Long, Int)*) = {
    val spark2 = spark
    import spark2.implicits._
    rows.map { case (i, d) => val v = Array.fill(dims)(0.0f); v(d) = 1.0f; (i, v) }
      .toDF("vec_id", "emb")
  }

  // a two-language model: `xxId`'s text is the `xx` class, every other doc
  // `en`; the `xx` text is repeated so both classes carry similar trigram
  // mass (a tiny class would win every trigram it has not seen)
  private def langModel(docs: org.apache.spark.sql.DataFrame, xxId: Long) = {
    val xx = docs.filter(col("doc_id") === xxId).select(col("text"))
    TextOps.langNbFit(docs.filter(col("doc_id") =!= xxId)
      .select(col("text"), lit("en").as("lang"))
      .union((1 to 20).map(_ => xx.select(col("text"), lit("xx").as("lang"))).reduce(_ union _)))
  }

  // every gate passes these rules except a doc with a brace
  private val gateRules = QualityFilters.RuleParams(minWords = 3, minStopHits = 1,
    minTermLines = 0)

  test("curateFull: every stage on, each decision class lands on its constructed doc") {
    import spark.implicits._
    val span = "the " + (1 to 29).map(i => s"spanw$i").mkString(" ")  // >= minSpan=20
    val near = "the " + (1 to 14).map(i => s"common$i").mkString(" ") // < minSpan
    val run13 = (1 to 16).map(i => s"evalw$i").mkString(" ")          // 13-gram grain
    val corpus = Seq(
      (0L, "s0", "the alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "s1", "  the alpha beta   gamma delta epsilon zeta eta theta "),
      (2L, "s2", "qzxv vbnkq wyyrt plomj xxzzq kjhgf qwrtz zxcvb"),
      (3L, "s3", s"the prefix3a prefix3b $span suffix3a suffix3b"),
      (4L, "s4", span),                                 // cut to nothing by the span stage
      (5L, "s5", s"$near ending5"),
      (6L, "s6", s"$near ending6"),
      (7L, "s7", "the doc seven body words here now"),
      (8L, "s8", "the doc eight body words here now two"),
      (9L, "s9", "the alpha beta gamma delta epsilon zeta eta theta {"),
      (10L, "s10", s"the lead words $run13 trailing words"),
      (11L, "s11", "the cosine grain document with fresh words only"),
      (12L, "c12", "the click here buy cheap pills now winner free casino bonus offer"),
      (13L, "c13", "the free casino winner click buy now cheap bonus pills offer today"),
      (14L, "sq", "the nine one two three four five six seven"),
      (15L, "sq", "the ten one two three four five six eight")
    ).toDF("doc_id", "source", "text")
    // 7 and 8 share a vector; 11's is the benchmark's
    val embs = oneHot(16, (0L to 15L).map(i => i -> (if (i == 8L) 7 else i.toInt)): _*)
    val bench = Seq((100L, "b", s"eval item starts $run13 closes")).toDF("doc_id", "source", "text")
    val benchEmb = oneHot(16, 100L -> 11)
    val lang = langModel(corpus, 2L)
    val out = Pipeline.curateFull(corpus, embs, "doc_id", "text", "source",
        vecIdCol = "vec_id", vecCol = "emb",
        nearDupThreshold = 0.8, semK = 4, tokenBudget = 10L,
        seedFilter = Some(!col("source").isin("c12", "c13")),
        benchmark = Some(bench), benchmarkEmb = Some(benchEmb),
        contamNgramK = 13, contamCosTau = 0.9,
        langModel = Some(lang), ruleParams = Some(gateRules))
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    val expected = Map(0L -> "kept", 1L -> "exact_dup", 2L -> "wrong_lang",
      3L -> "kept", 4L -> "empty", 5L -> "kept", 6L -> "near_dup", 7L -> "kept",
      8L -> "sem_dup", 9L -> "rule_filtered", 10L -> "contaminated",
      11L -> "contaminated", 12L -> "low_quality", 13L -> "low_quality")
    assert(expected.forall { case (i, d) => out(i)._1 == d }, s"decisions: $out")
    assert(out(4L)._2 == 30L, s"doc4: ${out(4L)}")
    assert(Seq(out(14L)._1, out(15L)._1).sorted == Seq("kept", "over_quota"), s"$out")
    assert(out.size == 16)
  }

  test("curateIncremental: every stage on, each decision class lands on its batch doc") {
    import spark.implicits._
    val span = "the " + (1 to 29).map(i => s"hspan$i").mkString(" ")
    val near = "the " + (1 to 14).map(i => s"hcommon$i").mkString(" ")
    val run13 = (1 to 16).map(i => s"evalv$i").mkString(" ")
    val crawlText = "the click here buy cheap pills now winner free casino bonus offer"
    val history = Seq(
      (0L, "the alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"the hpre1 hpre2 $span hpost1 hpost2"),
      (4L, s"$near hending4"),
      (6L, "the history six body words here now"),
      (8L, crawlText)
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "  the alpha beta   gamma delta epsilon zeta eta theta "),
      (3L, "qzxv vbnkq wyyrt plomj xxzzq kjhgf qwrtz zxcvb"),
      (5L, "the batch five words here now {"),
      (7L, s"the lead words $run13 trailing words"),
      (9L, "the cosine grain batch document fresh words"),
      (11L, span),                                     // all of it a history run
      (13L, "the free casino winner click buy now cheap bonus pills offer today"),
      (15L, s"$near hending15"),
      (17L, "the batch seventeen body words here now"),
      (19L, "the fresh batch content nothing shared at all")
    ).toDF("doc_id", "text")
    // 17 shares history 6's vector; 9's is the benchmark's
    val embs = oneHot(20, (0L to 19L).map(i => i -> (if (i == 17L) 6 else i.toInt)): _*)
    val bench = Seq((100L, s"eval question $run13 eval answer")).toDF("doc_id", "text")
    val benchEmb = oneHot(20, 100L -> 9)
    val all = history.union(batch)
    val lang = langModel(all, 3L)
    val crawl = all.filter(col("doc_id").isin(8L, 13L))
    val nb = TextOps.seedCrawlNbFit(all.filter(!col("doc_id").isin(8L, 13L)), crawl)
    val out = Pipeline.curateIncremental(history, batch, embs, "doc_id", "text",
        vecIdCol = "vec_id", vecCol = "emb", nearDupThreshold = 0.8, semK = 4,
        nbModel = Some(nb), benchmark = Some(bench), benchmarkEmb = Some(benchEmb),
        contamCosTau = 0.9, langModel = Some(lang), ruleParams = Some(gateRules))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val expected = Map(1L -> "exact_dup", 3L -> "wrong_lang", 5L -> "rule_filtered",
      7L -> "contaminated", 9L -> "contaminated", 11L -> "empty",
      13L -> "low_quality", 15L -> "near_dup", 17L -> "sem_dup", 19L -> "kept")
    assert(out.keySet == expected.keySet, s"batch rows only: $out")
    assert(expected.forall { case (i, d) => out(i)._1 == d }, s"decisions: $out")
    assert(out(11L)._2 == 30L, s"doc11: ${out(11L)}")
  }

  test("curateFromHtml domain gate: dropped pages keep one audit row, zero tokens") {
    import spark.implicits._
    val d = Seq(
      (0L, "s0", "http://blocked.example.com/a", "the alpha beta gamma delta epsilon zeta"),
      (1L, "s1", "http://blocked.example.com/b", "the second blocked page words here now"),
      (2L, "s2", "http://big.example.com/1", "the first big host page with eight words"),
      (3L, "s3", "http://big.example.com/2", "the second big host page has eight words"),
      (4L, "s4", "http://big.example.com/3", "the third big host page carries eight words"),
      (5L, "s5", "http://ok.example.com/x", "the fresh page with its own words here"),
      (6L, "s6", "http://other.example.com/y", "the fresh page with its own words here")
    ).toDF("doc_id", "source", "url", "text")
    val pages = HtmlExtract.htmlTable(d).join(d.select("doc_id", "source", "url"), Seq("doc_id"))
    val out = Pipeline.curateFromHtml(pages, oneHot(8, (0L to 6L).map(i => i -> i.toInt): _*)
          .withColumnRenamed("emb", "embedding"),
        "doc_id", "html", "source", urlCol = Some("url"),
        domainBlocklist = Some(Seq("blocked.example.com").toDF("domain")),
        domainTokenBudget = 10L)
      .collect()
    assert(out.map(_.getLong(0)).sorted.toSeq == (0L to 6L), "one row per page")
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(0L).getString(2) == "blocked_domain" && byId(1L).getString(2) == "blocked_domain")
    // 8 tokens a page against a 10-token cap: one big-host page survives
    val big = Seq(2L, 3L, 4L).map(i => byId(i).getString(2))
    assert(big.count(_ == "over_domain_quota") == 2, big.toString)
    assert(byId(6L).getString(2) == "exact_dup" && byId(5L).getString(2) == "kept")
    for (r <- out if Set("blocked_domain", "over_domain_quota")(r.getString(2))) {
      assert(r.getLong(3) == 0L && r.isNullAt(4) && r.isNullAt(5), r.toString)
      assert(r.getString(1) == s"s${r.getLong(0)}", r.toString)
    }
  }

  test("leakageFreeSplit: components share a split, no pair straddles, reproducible") {
    import spark.implicits._
    val docsDf = (0L to 30L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // 1-2-3 chain (one component), 10-11 pair, everything else singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Sharding.leakageFreeSplit(docsDf, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out.size == 31)
    // every component member carries the min-id key and one split
    assert(Seq(1L, 2L, 3L).map(out(_)).distinct.size == 1 && out(1L)._1 == 1L)
    assert(out(10L) == out(11L) && out(10L)._1 == 10L)
    assert(out(20L)._1 == 20L)
    // the leakage contract, stated directly: no pair across splits
    for ((a, b) <- Seq((1L, 2L), (2L, 3L), (10L, 11L)))
      assert(out(a)._2 == out(b)._2, s"pair ($a,$b) straddles splits")
    // deterministic: a second run is identical (splits are metadata)
    val again = Sharding.leakageFreeSplit(docsDf, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(again == out)
    // all three splits appear over enough singletons (hash spread)
    val splits = out.values.map(_._2).toSet
    assert(splits == Set("train", "validation", "test"), splits.toString)
    intercept[IllegalArgumentException] {
      Sharding.leakageFreeSplit(docsDf, pairs, "doc_id", trainPct = 90, valPct = 10)
    }
  }

  test("trainingOrder: copies = epochs, budget conserved, copies interleave, deterministic") {
    import spark.implicits._
    // A (weight 3): 10 docs x 10 tokens; B (weight 1): 5 docs x 20 tokens
    val docs =
      (0 until 10).map(i => (i.toLong, "A", Seq.fill(10)("w").mkString(" "))) ++
      (10 until 15).map(i => (i.toLong, "B", Seq.fill(20)("w").mkString(" ")))
    val df = docs.toDF("doc_id", "source", "text")
    val weights = Seq("A" -> 3.0, "B" -> 1.0)
    val out = Sharding.trainingOrder(df, "source", "doc_id", "text", weights,
        totalBudget = 400L, shardBudget = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // A: target 300 = 3 full epochs of mass 100 -> every A doc 3 copies;
    // B: target 100 = 1 full epoch -> every B doc 1 copy
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert((0L until 10L).forall(byDoc(_) == Seq(1L, 2L, 3L)), byDoc.toString)
    assert((10L until 15L).forall(byDoc(_) == Seq(1L)), byDoc.toString)
    // budget conserved exactly here (targets divide masses): 400 tokens
    assert(out.map(_._3).sum == 400L, out.map(_._3).sum.toString)
    // 8 shards of 50 tokens; interleave: doc 0's three copies do NOT sit
    // in consecutive shards-by-construction (md5 spreads them)
    assert(out.map(_._4).distinct.sorted.toSeq == (0L until 8L).toSeq, out.mkString(","))
    // deterministic: identical on a second run
    val again = Sharding.trainingOrder(df, "source", "doc_id", "text", weights,
        totalBudget = 400L, shardBudget = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.sorted.toSeq == out.sorted.toSeq)
  }

  test("incrementalSplit: inherit history split, bridge flag, fresh md5 components") {
    import spark.implicits._
    val histSplits = Seq((100L, "test"), (200L, "train"), (101L, "test"))
      .toDF("doc_id", "split")
    val batch = Seq(1L, 2L, 3L, 5L, 6L).toDF("doc_id")
    val pairs = Seq(
      (101L, 1L),             // doc 1 near-dups a TEST history doc
      (200L, 3L), (100L, 3L), // doc 3 bridges train and test history
      (5L, 6L)                // fresh batch-only component
    ).toDF("doc_a", "doc_b")
    val out = Sharding.incrementalSplit(histSplits, batch, pairs, "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getBoolean(3)))).toMap
    assert(out.size == 5)
    // inheritance: the test twin pulls doc 1 into test, not bridged
    assert(out(1L)._2 == "test" && !out(1L)._3, s"$out")
    // doc 3's component holds history docs in TWO splits: inherit =
    // min-id history member's split (100 -> test), flagged bridged
    assert(out(3L)._2 == "test" && out(3L)._3, s"$out")
    // fresh component: both members share one split, key = min id
    assert(out(5L)._1 == 5L && out(6L)._1 == 5L && out(5L)._2 == out(6L)._2, s"$out")
    // singleton: own key, deterministic md5 rule
    assert(out(2L)._1 == 2L, s"$out")
    // determinism: identical on a second run
    val again = Sharding.incrementalSplit(histSplits, batch, pairs, "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getBoolean(3)))).toMap
    assert(again == out)
  }

  test("shardManifest: counts/range/fingerprint per shard; fingerprint is id-order-invariant") {
    import spark.implicits._
    val docs = (0L until 30L).map(i => (i, Seq.fill(10)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val m = Sharding.shardManifest(
        Sharding.tokenShards(docs, "doc_id", "text", budget = 100L))
      .orderBy("shard").collect()
    assert(m.length == 3)
    assert(m.forall(r => r.getLong(1) == 10L && r.getLong(2) == 100L), m.mkString(","))
    assert(m(0).getLong(3) == 0L && m(0).getLong(4) == 9L)
    assert(m(2).getLong(3) == 20L && m(2).getLong(4) == 29L)
    // fingerprint = md5 over the ASCENDING id list, independent of the
    // assignment relation's row order
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest((0L to 9L).mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(m(0).getString(5) == expect, m(0).getString(5))
    val shuffled = Sharding.shardManifest(
        Sharding.tokenShards(docs, "doc_id", "text", budget = 100L)
          .orderBy(rand(7)))
      .orderBy("shard").collect()
    assert(shuffled.map(_.getString(5)).toSeq == m.map(_.getString(5)).toSeq)
  }

  test("curriculumShards: shard index monotone in score order; unscored docs excluded") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, Seq.fill(10)("w").mkString(" ")))
      .toDF("doc_id", "text")
    // score = reversed id, so curriculum order is the REVERSE of id order
    val scores = (0L until 39L).map(i => (i, 1000L - i)).toDF("doc_id", "lm_score_u")
    val out = Sharding.curriculumShards(docs, "doc_id", "text", scores, budget = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 39 has no score row: excluded
    assert(out.length == 39 && !out.exists(_._1 == 39L), out.length.toString)
    // shard boundaries follow ASCENDING score: 10 docs of 10 tokens per
    // 100-token shard, and score order is reverse id order
    val byScore = out.sortBy(r => (r._2, r._1))
    assert(byScore.map(_._4).toSeq == byScore.indices.map(i => (i * 10L) / 100L), s"${byScore.toSeq}")
    // the highest-id doc (lowest score) lands in shard 0
    assert(out.find(_._1 == 38L).get._4 == 0L, out.mkString(","))
    assert(out.find(_._1 == 0L).get._4 == 3L, out.mkString(","))
  }

  test("qualityKeepClusters: argmax-score keep, null-score loses, singleton kept") {
    import spark.implicits._
    val docs = (0L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // cluster {0,1,2} and pair {4,5}; 3 and 6 singletons
    val pairs = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("doc_a", "doc_b")
    // 1 outscores 0 and 2; doc 4 has NO score row, 5 does
    val scores = Seq((0L, 10L), (1L, 99L), (2L, 50L), (5L, -3L), (3L, 1L), (6L, 2L))
      .toDF("doc_id", "nb_score_u")
    val out = DedupOps.qualityKeepClusters(docs, pairs, scores, "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out.size == 7)
    // highest score wins the {0,1,2} cluster - NOT the min id
    assert(out(1L) == ((0L, true)) && !out(0L)._2 && !out(2L)._2, s"$out")
    // a scored member beats an unscored one even with a negative score
    assert(out(5L) == ((4L, true)) && !out(4L)._2, s"$out")
    // singletons: own cluster, kept
    assert(out(3L) == ((3L, true)) && out(6L) == ((6L, true)), s"$out")
    // tie score -> min id keeps (deterministic)
    val tied = DedupOps.qualityKeepClusters(docs,
        Seq((0L, 2L)).toDF("doc_a", "doc_b"),
        Seq((0L, 7L), (2L, 7L)).toDF("doc_id", "nb_score_u"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(tied(0L) && !tied(2L), s"$tied")
  }

  test("epochRepetition: whole passes + md5-rank head; zero-weight excluded; naive parity") {
    import spark.implicits._
    // A: 10 docs x 10 tokens (mass 100); B: 5 docs x 20 tokens (mass
    // 100); C: 4 docs x 5 tokens (mass 20, weight 0 - excluded)
    val docs =
      (0 until 10).map(i => (i.toLong, "A", Seq.fill(10)("w").mkString(" "))) ++
      (10 until 15).map(i => (i.toLong, "B", Seq.fill(20)("w").mkString(" "))) ++
      (15 until 19).map(i => (i.toLong, "C", Seq.fill(5)("w").mkString(" ")))
    val df = docs.toDF("doc_id", "source", "text")
    val weights = Seq("A" -> 3.0, "B" -> 1.0, "C" -> 0.0)
    val out = QuotaSample.epochRepetition(df, "source", "doc_id", "text",
        weights, totalBudget = 450L)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out.size == 19)
    // naive recomputation: same arithmetic, naive running sum down
    // (md5(id), id) order - the q104 selection rule
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val wsum = 4.0
    for ((src, w) <- weights) {
      val rows = docs.filter(_._2 == src)
        .map(d => (d._1, d._3.trim.split("\\s+").length.toLong))
      val mass = rows.map(_._2).sum
      val target = 450.0 * w / wsum
      val full = math.floor(target / mass).toLong
      val rem = math.floor(target - full * mass).toLong
      val ordered = rows.sortBy { case (id, _) => (md5(id.toString), id) }
      var cum = 0L
      val head = scala.collection.mutable.Set.empty[Long]
      if (rem >= 1) ordered.zipWithIndex.foreach { case ((id, n), i) =>
        cum += n
        if (cum <= rem || i == 0) head += id
      }
      rows.foreach { case (id, n) =>
        val expect = full + (if (head(id)) 1L else 0L)
        assert(out(id) == ((src, n, expect)), s"$src doc $id: ${out(id)} != $expect")
      }
    }
    // zero-weight source: every doc at 0 epochs
    assert((15L until 19L).forall(out(_)._3 == 0L), out.toString)
    // up-sampling fired: source A docs carry >= 3 whole passes
    assert((0L until 10L).forall(out(_)._3 >= 3L), out.toString)
    // a POSITIVE-weight recipe entry naming a source absent from the
    // corpus must be an error (its budget share would silently deflate
    // every real source's target); a zero-weight phantom is harmless
    val typo = intercept[IllegalArgumentException] {
      QuotaSample.epochRepetition(df, "source", "doc_id", "text",
        Seq("A" -> 3.0, "B" -> 1.0, "Z_TYPO" -> 1.0), totalBudget = 450L)
    }
    assert(typo.getMessage.contains("Z_TYPO"), typo.getMessage)
    val zeroPhantom = QuotaSample.epochRepetition(df, "source", "doc_id", "text",
      Seq("A" -> 3.0, "B" -> 1.0, "C" -> 0.0, "GONE" -> 0.0), totalBudget = 450L)
    assert(zeroPhantom.count() == 19)
  }

  test("temperatureMixture: budgets follow mass^alpha; selection equals the scalar quota") {
    import spark.implicits._
    // source A: 10 docs x 10 tokens (mass 100); source B: 20 docs x 20 tokens (mass 400)
    val rows = (0 until 10).map(i => (i.toLong, "A", (1 to 10).map(j => s"a$i$j").mkString(" "))) ++
      (0 until 20).map(i => (100L + i, "B", (1 to 20).map(j => s"b$i$j").mkString(" ")))
    val df = rows.toDF("doc_id", "source", "text")
    // alpha=0.5: weights sqrt(100)=10, sqrt(400)=20 -> budgets floor(B/3), floor(2B/3)
    val out = QuotaSample.temperatureMixture(df, "source", "doc_id", "text", 0.5, 300L)
    val buds = out.select("source", "budget").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(buds == Map("A" -> 100L, "B" -> 200L), buds.toString)
    // per-source selection == the scalar tokenQuota at that source's budget
    for ((src, b) <- buds) {
      val mix = out.filter(col("source") === src).select("doc_id", "kept")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val scalar = QuotaSample.tokenQuota(df.filter(col("source") === src),
          "source", "doc_id", "text", b)
        .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
      assert(mix == scalar, s"source $src diverges from scalar quota")
    }
    // alpha=0: even split; alpha=1: proportional to mass
    val even = QuotaSample.temperatureMixture(df, "source", "doc_id", "text", 0.0, 300L)
      .select("source", "budget").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(even == Map("A" -> 150L, "B" -> 150L), even.toString)
    val nat = QuotaSample.temperatureMixture(df, "source", "doc_id", "text", 1.0, 300L)
      .select("source", "budget").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nat == Map("A" -> 60L, "B" -> 240L), nat.toString)
  }

  test("GVID video container: mux/demux round-trip, sampled decode, corrupt drop") {
    import spark.implicits._
    val frames = (0 until 5).map(i => MediaOps.testPngBytes(i.toLong))
    val bytes = VideoOps.GvidContainer.mux(10, frames)
    val vs = VideoOps.GvidContainer.demux(bytes).get
    assert(vs.fps == 10 && vs.frames.size == 5)
    assert(vs.frames.zip(frames).forall { case (a, b) => java.util.Arrays.equals(a, b) })
    assert(VideoOps.GvidContainer.demux("not a video".getBytes("UTF-8")).isEmpty)
    // every=2 over doc 3 (6 frames) decodes exactly frames 0, 2, 4, with
    // per-frame ts and nonzero checksums from the REAL PNG decode
    val media = Seq((3L, VideoOps.testGvidBytes(3L))).toDF("doc_id", "content")
    val out = VideoOps.decodeFrames(media, every = 2).orderBy("frame_idx").collect()
    assert(out.map(_.getInt(1)).toSeq == Seq(0, 2, 4))
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 200L, 400L))
    assert(out.forall(_.getLong(5) > 0))
  }

  test("media-integrity gate: each bad class flags, healthy and text-only docs pass") {
    import spark.implicits._
    // decodeStatus: one pass, failures kept as ok=false rows
    val media = Seq(
      (0L, MediaOps.testPngBytes(0L)),          // healthy gradient
      (3L, Array[Byte](1, 2, 3)),               // undecodable
      (5L, MediaOps.constPngBytes(5L, 0)),      // black -> extreme mean
      (6L, MediaOps.constPngBytes(6L, 100))     // uniform mid-gray -> blank
    ).toDF("doc_id", "content")
    val st = MediaOps.decodeStatus(media).collect().map(m => m.doc_id -> m).toMap
    assert(st(0L).ok && st(0L).checksum > 0 && !st(0L).uniform)
    assert(!st(3L).ok)
    assert(st(5L).ok && st(5L).checksum == 0L && st(5L).uniform)
    assert(st(6L).ok && st(6L).uniform)
    // uniformity is exact per-pixel min==max, NOT grid-mean equality: a
    // checkerboard's 2x2 grid-cell means coincide (every cell averages
    // the same mix) but the raster is not uniform and must NOT flag
    val checker = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val r = img.getRaster
      for (y <- 0 until 16; x <- 0 until 16)
        r.setSample(x, y, 0, if ((x + y) % 2 == 0) 40 else 160)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val cst = MediaOps.decodeStatus(Seq((9L, checker)).toDF("doc_id", "content"))
      .collect().head
    assert(cst.ok && !cst.uniform, "balanced checkerboard must not read as uniform")
    val cf = cst.features
    assert(cf.forall(_ == cf.head),
      "fixture sanity: the checkerboard's grid means must coincide " +
        "(otherwise this test no longer discriminates the two rules")
    // the curateFull gate: docs 3/5/6 drop as bad_media; 0 (healthy
    // image) and 1 (text-only, no media row) pass through to kept
    val corpus = Seq(
      (0L, "s0", "doc zero healthy image body words"),
      (1L, "s1", "doc one text only body words here"),
      (3L, "s3", "doc three corrupt asset body words"),
      (5L, "s5", "doc five black asset body words"),
      (6L, "s6", "doc six uniform asset body words")
    ).toDF("doc_id", "source", "text")
    val embs = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0f, 1f, 0f, 0f),
      3L -> Array(0f, 0f, 1f, 0f), 5L -> Array(0f, 0f, 0f, 1f),
      6L -> Array(0f, -1f, 0f, 0f)).toDF("vec_id", "emb")
      .withColumn("emb", col("emb").cast("array<float>"))
    val out = Pipeline.curateFull(corpus, embs, "doc_id", "text", "source",
        vecIdCol = "vec_id", vecCol = "emb", semK = 2, tokenBudget = 1000L,
        media = Some(media))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(3L) == "bad_media" && out(5L) == "bad_media" && out(6L) == "bad_media", s"$out")
    assert(out(0L) == "kept" && out(1L) == "kept", s"$out")
  }

  test("video-integrity gate: each bad class flags, healthy and video-less docs pass") {
    import spark.implicits._
    // decodeStatus over REAL MP4 containers: demux-fail, dead payloads
    // (demuxes, zero frames decode), blank stream, healthy
    val videos = Seq(
      (0L, Mp4Container.mux(6, Seq(MediaOps.testPngBytes(0L), MediaOps.testPngBytes(1L)))),
      (3L, Array[Byte](1, 2, 3)),                                        // demux fail
      (5L, Mp4Container.mux(6, Seq(Array[Byte](9, 9), Array[Byte](8)))), // dead payloads
      (6L, Mp4Container.mux(6, Seq(MediaOps.constPngBytes(6L, 100),
        MediaOps.constPngBytes(6L, 100))))                               // blank stream
    ).toDF("doc_id", "content")
    val st = VideoOps.decodeStatus(videos, container = Mp4Container)
      .collect().map(v => v.doc_id -> v).toMap
    assert(st(0L).ok && st(0L).n_decoded == 2 && !st(0L).uniform)
    assert(!st(3L).ok)
    assert(st(5L).ok && st(5L).n_frames == 2 && st(5L).n_decoded == 0)
    assert(st(6L).ok && st(6L).n_decoded == 2 && st(6L).uniform)
    // the curateFull video arm: docs 3/5/6 drop as bad_media; 0 (healthy
    // video) and 1 (no video row) pass through to kept
    val corpus = Seq(
      (0L, "s0", "doc zero healthy video body words"),
      (1L, "s1", "doc one text only body words here"),
      (3L, "s3", "doc three corrupt container body words"),
      (5L, "s5", "doc five dead payloads body words"),
      (6L, "s6", "doc six blank stream body words")
    ).toDF("doc_id", "source", "text")
    val embs = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0f, 1f, 0f, 0f),
      3L -> Array(0f, 0f, 1f, 0f), 5L -> Array(0f, 0f, 0f, 1f),
      6L -> Array(0f, -1f, 0f, 0f)).toDF("vec_id", "emb")
      .withColumn("emb", col("emb").cast("array<float>"))
    val out = Pipeline.curateFull(corpus, embs, "doc_id", "text", "source",
        vecIdCol = "vec_id", vecCol = "emb", semK = 2, tokenBudget = 1000L,
        video = Some(videos), videoContainer = Mp4Container)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(3L) == "bad_media" && out(5L) == "bad_media" && out(6L) == "bad_media", s"$out")
    assert(out(0L) == "kept" && out(1L) == "kept", s"$out")
    // gate off => no bad_media decisions at all (prior shape unchanged)
    val off = Pipeline.curateFull(corpus, embs, "doc_id", "text", "source",
        vecIdCol = "vec_id", vecCol = "emb", semK = 2, tokenBudget = 1000L)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(off.values.forall(_ != "bad_media"), s"$off")
  }

  test("audio-integrity gate: each bad class flags; overlapping arms don't fan out rows") {
    import spark.implicits._
    val clips = Seq(
      (0L, MediaOps.testWavBytes(0L)),            // healthy ramp
      (3L, Array[Byte](1, 2, 3)),                 // undecodable
      (5L, MediaOps.constWavBytes(5L, 128)),      // silent DC line
      (6L, MediaOps.constWavBytes(6L, 0, n = 0))  // zero samples
    ).toDF("doc_id", "content")
    val st = MediaOps.audioStatus(clips).collect().map(a => a.doc_id -> a).toMap
    assert(st(0L).ok && st(0L).n_samples == 400 && !st(0L).silent)
    assert(!st(3L).ok)
    assert(st(5L).ok && st(5L).silent)
    assert(st(6L).ok && st(6L).n_samples == 0)
    val corpus = Seq(
      (0L, "s0", "doc zero healthy audio body words"),
      (1L, "s1", "doc one text only body words here"),
      (3L, "s3", "doc three corrupt clip body words"),
      (5L, "s5", "doc five silent clip body words"),
      (6L, "s6", "doc six empty clip body words")
    ).toDF("doc_id", "source", "text")
    val embs = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0f, 1f, 0f, 0f),
      3L -> Array(0f, 0f, 1f, 0f), 5L -> Array(0f, 0f, 0f, 1f),
      6L -> Array(0f, -1f, 0f, 0f)).toDF("vec_id", "emb")
      .withColumn("emb", col("emb").cast("array<float>"))
    val out = Pipeline.curateFull(corpus, embs, "doc_id", "text", "source",
        vecIdCol = "vec_id", vecCol = "emb", semK = 2, tokenBudget = 1000L,
        audio = Some(clips))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(3L) == "bad_media" && out(5L) == "bad_media" && out(6L) == "bad_media", s"$out")
    assert(out(0L) == "kept" && out(1L) == "kept", s"$out")
    // a doc flagged by TWO arms must still yield exactly one output row
    val badBoth = Seq((3L, Array[Byte](9, 9, 9))).toDF("doc_id", "content")
    val rows = Pipeline.curateFull(corpus, embs, "doc_id", "text", "source",
        vecIdCol = "vec_id", vecCol = "emb", semK = 2, tokenBudget = 1000L,
        media = Some(badBoth), audio = Some(clips))
      .collect()
    assert(rows.length == 5, s"fan-out: ${rows.length} rows")
    assert(rows.count(r => r.getLong(0) == 3L) == 1)
  }

  test("incremental media gate: batch assets judged before text stages; hook off unchanged") {
    import spark.implicits._
    val history = Seq((0L, "history doc alpha beta gamma words")).toDF("doc_id", "text")
    val batch = Seq(
      (11L, "batch doc healthy video body words"),
      (13L, "batch doc corrupt video body words"),
      (15L, "batch doc silent audio body words")
    ).toDF("doc_id", "text")
    val embs = Seq(
      0L -> Array(0f, 1f), 11L -> Array(1f, 0f),
      13L -> Array(0f, -1f), 15L -> Array(-1f, 0f)).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val videos = Seq(
      (11L, Mp4Container.mux(6, Seq(MediaOps.testPngBytes(1L)))),
      (13L, Array[Byte](1, 2, 3))).toDF("doc_id", "content")
    val clips = Seq((15L, MediaOps.constWavBytes(15L, 128))).toDF("doc_id", "content")
    val out = Pipeline.curateIncremental(history, batch, embs, "doc_id", "text",
        semK = 1, video = Some(videos), videoContainer = Mp4Container,
        audio = Some(clips))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(13L) == "bad_media" && out(15L) == "bad_media", s"$out")
    assert(out(11L) == "kept", s"$out")
    // hook off => no bad_media (q115 shape unchanged)
    val off = Pipeline.curateIncremental(history, batch, embs, "doc_id", "text",
        semK = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(off.values.forall(_ != "bad_media"), s"$off")
  }

  test("AVI container: RIFF mux/demux round-trip, odd-length padding, corrupt drop") {
    // arbitrary payloads, odd and even lengths — byte-exact round-trip
    val frames = Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5, 6, 7), Array[Byte](9))
    val bytes = AviContainer.mux(25, frames)
    val vs = AviContainer.demux(bytes).get
    assert(vs.fps == 25 && vs.frames.size == 3)
    assert(vs.frames.zip(frames).forall { case (a, b) => java.util.Arrays.equals(a, b) })
    // PNG payloads through the real container
    val png = (0 until 4).map(i => MediaOps.testPngBytes(i.toLong))
    val vp = AviContainer.demux(AviContainer.mux(12, png)).get
    assert(vp.fps == 12 && vp.frames.zip(png).forall { case (a, b) => java.util.Arrays.equals(a, b) })
    // corrupt containers drop, not throw: garbage, truncation, wrong form
    assert(AviContainer.demux("definitely not RIFF".getBytes("UTF-8")).isEmpty)
    assert(AviContainer.demux(bytes.take(bytes.length / 2)).isEmpty)
    val wav = bytes.clone(); System.arraycopy("WAVE".getBytes("US-ASCII"), 0, wav, 8, 4)
    assert(AviContainer.demux(wav).isEmpty)
    // size-0 frame chunks (real MJPEG dropped-frame placeholders) are
    // EMITTED as empty payloads, keeping later frames' indices aligned
    val gap = AviContainer.demux(AviContainer.mux(10,
      Seq(Array[Byte](1, 2), Array.empty[Byte], Array[Byte](3)))).get
    assert(gap.frames.map(_.length).toSeq == Seq(2, 0, 1), gap.frames.map(_.length))
    // a camera file whose VIDEO stream is not stream 0: frames live in
    // '01dc' chunks; the demuxer must follow the strl order, not assume 00
    val shifted = {
      val b = AviContainer.mux(25, frames)
      val out = b.clone()
      // rewrite the single strh fccType 'vids' file into an
      // audio-then-video layout: inject nothing, just renumber — flip
      // every movi/idx1 chunk id from 00dc to 01dc and prepend a fake
      // 'auds' strl by patching the existing one is complex; instead
      // patch chunk ids AND splice a minimal auds strl before the vids
      // one so the vids stream really is index 1
      def fourcc(s2: String) = s2.getBytes("US-ASCII")
      def u32(v: Long) = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v.toInt).array()
      def u16(v: Int) = java.nio.ByteBuffer.allocate(2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putShort(v.toShort).array()
      val audStrh = fourcc("strh") ++ u32(56) ++ fourcc("auds") ++ fourcc("    ") ++
        u32(0) ++ u16(0) ++ u16(0) ++ u32(0) ++ u32(1) ++ u32(8000) ++ u32(0) ++ u32(0) ++
        u32(0) ++ u32(0xFFFFFFFFL) ++ u32(1) ++ u16(0) ++ u16(0) ++ u16(0) ++ u16(0)
      val audStrl = fourcc("LIST") ++ u32(audStrh.length + 4L) ++ fourcc("strl") ++ audStrh
      // find the existing vids strl (first LIST....strl) and insert before it
      def find(hay: Array[Byte], needle: Array[Byte], from: Int): Int =
        (from to hay.length - needle.length).find(i =>
          needle.indices.forall(j => hay(i + j) == needle(j))).getOrElse(-1)
      val strlAt = find(out, fourcc("strl"), 0) - 8 // back up over LIST+size
      val patched = out.take(strlAt) ++ audStrl ++ out.drop(strlAt)
      // renumber frame chunks and idx1 entries 00dc -> 01dc
      var i = 0
      while (i >= 0) {
        i = find(patched, fourcc("00dc"), i)
        if (i >= 0) { patched(i) = '0'; patched(i + 1) = '1'; i += 4 }
      }
      // grow the RIFF size and the hdrl LIST size by the spliced bytes
      def bump(at: Int): Unit = {
        val bbp = java.nio.ByteBuffer.wrap(patched, at, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val v = bbp.getInt
        java.nio.ByteBuffer.wrap(patched, at, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v + audStrl.length)
      }
      bump(4) // RIFF size
      bump(find(patched, fourcc("hdrl"), 0) - 4) // hdrl LIST size
      patched
    }
    val vs1 = AviContainer.demux(shifted)
      .getOrElse(fail("stream-1 video must demux"))
    assert(vs1.fps == 25 && vs1.frames.size == 3, s"fps=${vs1.fps} n=${vs1.frames.size}")
    assert(vs1.frames.zip(frames).forall { case (a, b) => java.util.Arrays.equals(a, b) })
  }

  test("AVI real-MJPEG payloads: genuine JPEG-per-frame decode through the shared codec") {
    import spark.implicits._
    val media = Seq((3L, AviContainer.testMjpegBytes(3L))).toDF("doc_id", "content")
    val out = VideoOps.decodeFrames(media, container = AviContainer)
      .orderBy("frame_idx").collect()
    assert(out.length == 5, out.mkString(","))
    // dimensions survive the lossy codec exactly: the q42 closed forms
    // at fid = 11*3 + frame_idx
    assert(out.forall { r =>
      val fid = 33L + r.getInt(1)
      r.getInt(3) == 16 + fid % 8 && r.getInt(4) == 12 + fid % 5
    }, out.mkString(","))
    // checksums match an in-JVM reference decode of the same JPEG bytes
    val stream = AviContainer.demux(AviContainer.testMjpegBytes(3L)).get
    val expect = stream.frames.map { f =>
      val d = MediaOps.ImageIoCodec.decode(f).get
      d.gray.foldLeft(0L)(_ + _)
    }
    assert(out.map(_.getLong(5)).toSeq == expect, s"${out.map(_.getLong(5)).toSeq} vs $expect")
    // a corrupt frame inside an otherwise-good container drops just itself
    val mixed = AviContainer.mux(12,
      Seq(MediaOps.testPngBytes(1L), Array[Byte](0, 1, 2), MediaOps.testPngBytes(2L)))
    val dec = VideoOps.decodeFrames(
      Seq((9L, mixed)).toDF("doc_id", "content"), container = AviContainer).collect()
    assert(dec.map(_.getInt(1)).sorted.toSeq == Seq(0, 2), dec.mkString(","))
  }

  test("MP4 container: ISO BMFF mux/demux round-trip, chunked layouts, audio-first, corrupt drop") {
    // arbitrary payloads - byte-exact round-trip at 1 sample/chunk
    val frames = Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5, 6, 7), Array[Byte](9))
    val bytes = Mp4Container.mux(25, frames)
    val vs = Mp4Container.demux(bytes).get
    assert(vs.fps == 25 && vs.frames.size == 3)
    assert(vs.frames.zip(frames).forall { case (a, b) => java.util.Arrays.equals(a, b) })
    // multi-sample chunks exercise the stsc run expansion, including a
    // short last chunk covered by a second run-length entry
    val many = (0 until 7).map(i => Array[Byte](i.toByte, (i + 1).toByte))
    for (spc <- Seq(2, 3, 7, 10)) {
      val vc = Mp4Container.demux(Mp4Container.mux(10, many, samplesPerChunk = spc)).get
      assert(vc.frames.size == 7, s"spc=$spc")
      assert(vc.frames.zip(many).forall { case (a, b) => java.util.Arrays.equals(a, b) },
        s"spc=$spc")
    }
    // PNG payloads through the real container
    val png = (0 until 4).map(i => MediaOps.testPngBytes(i.toLong))
    val vp = Mp4Container.demux(Mp4Container.mux(12, png)).get
    assert(vp.fps == 12 && vp.frames.zip(png).forall { case (a, b) => java.util.Arrays.equals(a, b) })
    // corrupt containers drop, not throw: garbage, truncation (loses the
    // trailing moov -> no sample tables), zeroed ftyp
    assert(Mp4Container.demux("definitely not ISO BMFF".getBytes("UTF-8")).isEmpty)
    assert(Mp4Container.demux(bytes.take(bytes.length / 2)).isEmpty)
    // an audio-first file: splice a minimal 'soun' trak before the video
    // one - the demuxer must pick the vide trak by hdlr, not trak order
    val audioFirst = {
      def cc4(s: String) = s.getBytes("US-ASCII")
      def u32be(v: Long) = java.nio.ByteBuffer.allocate(4).putInt(v.toInt).array()
      def bx(typ: String, body: Array[Byte]): Array[Byte] =
        u32be(8L + body.length) ++ cc4(typ) ++ body
      val sounTrak = bx("trak", bx("mdia",
        bx("hdlr", u32be(0) ++ u32be(0) ++ cc4("soun") ++
          u32be(0) ++ u32be(0) ++ u32be(0) ++ Array[Byte](0))))
      def find(hay: Array[Byte], needle: Array[Byte], from: Int): Int =
        (from to hay.length - needle.length).find(i =>
          needle.indices.forall(j => hay(i + j) == needle(j))).getOrElse(-1)
      val trakAt = find(bytes, cc4("trak"), 0) - 4 // back over the size field
      val patched = bytes.take(trakAt) ++ sounTrak ++ bytes.drop(trakAt)
      // grow the enclosing moov size by the spliced bytes
      val moovAt = find(patched, cc4("moov"), 0) - 4
      val sz = java.nio.ByteBuffer.wrap(patched, moovAt, 4).getInt
      java.nio.ByteBuffer.wrap(patched, moovAt, 4).putInt(sz + sounTrak.length)
      patched
    }
    val va = Mp4Container.demux(audioFirst).getOrElse(fail("audio-first must demux"))
    assert(va.fps == 25 && va.frames.size == 3, s"fps=${va.fps} n=${va.frames.size}")
    assert(va.frames.zip(frames).forall { case (a, b) => java.util.Arrays.equals(a, b) })
  }

  test("MP4 real-MJPEG payloads: genuine JPEG-per-sample decode through the shared codec") {
    import spark.implicits._
    val media = Seq((4L, Mp4Container.testJpegMp4Bytes(4L))).toDF("doc_id", "content")
    val out = VideoOps.decodeFrames(media, container = Mp4Container)
      .orderBy("frame_idx").collect()
    assert(out.length == 4, out.mkString(","))
    // dimensions survive the lossy codec exactly: the q42 closed forms
    // at fid = 13*4 + frame_idx; ts_ms = idx*125 (8 fps)
    assert(out.forall { r =>
      val fid = 52L + r.getInt(1)
      r.getInt(3) == 16 + fid % 8 && r.getInt(4) == 12 + fid % 5 &&
        r.getLong(2) == r.getInt(1) * 125L
    }, out.mkString(","))
    // checksums match an in-JVM reference decode of the same JPEG bytes
    val stream = Mp4Container.demux(Mp4Container.testJpegMp4Bytes(4L)).get
    val expect = stream.frames.map { f =>
      val d = MediaOps.ImageIoCodec.decode(f).get
      d.gray.foldLeft(0L)(_ + _)
    }
    assert(out.map(_.getLong(5)).toSeq == expect, s"${out.map(_.getLong(5)).toSeq} vs $expect")
    // a corrupt sample inside an otherwise-good container drops just itself
    val mixed = Mp4Container.mux(8,
      Seq(MediaOps.testPngBytes(1L), Array[Byte](0, 1, 2), MediaOps.testPngBytes(2L)))
    val dec = VideoOps.decodeFrames(
      Seq((9L, mixed)).toDF("doc_id", "content"), container = Mp4Container).collect()
    assert(dec.map(_.getInt(1)).sorted.toSeq == Seq(0, 2), dec.mkString(","))
  }

  test("MKV container: EBML mux/demux round-trip, audio-first track, corrupt drop") {
    // arbitrary payloads - byte-exact round-trip
    val frames = Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5, 6, 7), Array[Byte](9))
    val bytes = MkvContainer.mux(25, frames)
    val vs = MkvContainer.demux(bytes).get
    assert(vs.fps == 25 && vs.frames.size == 3)
    assert(vs.frames.zip(frames).forall { case (a, b) => java.util.Arrays.equals(a, b) })
    // PNG payloads through the real container
    val png = (0 until 4).map(i => MediaOps.testPngBytes(i.toLong))
    val vp = MkvContainer.demux(MkvContainer.mux(12, png)).get
    assert(vp.fps == 12 && vp.frames.zip(png).forall { case (a, b) => java.util.Arrays.equals(a, b) })
    // non-default TimestampScale (0.5 ms ticks) with NO DefaultDuration:
    // fps must come from tick deltas CONVERTED via the Info scale — the
    // 1 ms-tick assumption would misread 8 fps (250-tick deltas) as 4
    val scaled = MkvContainer.mux(8, frames, timestampScaleNs = 500000L,
      withDefaultDuration = false)
    val vscaled = MkvContainer.demux(scaled).get
    assert(vscaled.fps == 8, s"fps from scaled tick deltas, got ${vscaled.fps}")
    assert(vscaled.frames.zip(frames).forall { case (a, b) => java.util.Arrays.equals(a, b) })
    // corrupt containers drop, not throw: garbage, missing EBML header;
    // a truncated tail keeps the frames that demuxed before the cut
    assert(MkvContainer.demux("definitely not EBML at all".getBytes("UTF-8")).isEmpty)
    assert(MkvContainer.demux(bytes.drop(4)).isEmpty)
    val cut = MkvContainer.demux(bytes.take(bytes.length - 2))
    assert(cut.forall(_.frames.size <= 3))
    // an audio-first file, hand-built in EBML: Tracks = (soun entry as
    // track 1, video entry as track 2), blocks on track 2 - the demuxer
    // must select by TrackType, not take the first entry
    val audioFirst = {
      def idb(id: Long): Array[Byte] = {
        val len = if (id <= 0xFF) 1 else if (id <= 0xFFFF) 2
                  else if (id <= 0xFFFFFF) 3 else 4
        (0 until len).map(i => ((id >> (8 * (len - 1 - i))) & 0xFF).toByte).toArray
      }
      def vi(v: Long): Array[Byte] = {
        var len = 1
        while (len < 8 && v >= (1L << (7 * len)) - 1) len += 1
        val out = new Array[Byte](len)
        var x = v | (1L << (7 * len))
        var i = len - 1
        while (i >= 0) { out(i) = (x & 0xFF).toByte; x >>= 8; i -= 1 }
        out
      }
      def ub(v: Long): Array[Byte] = {
        var len = 1
        while (len < 8 && (v >>> (8 * len)) != 0) len += 1
        (0 until len).map(i => ((v >>> (8 * (len - 1 - i))) & 0xFF).toByte).toArray
      }
      def e(id: Long, body: Array[Byte]*): Array[Byte] = {
        val b = body.flatten.toArray; idb(id) ++ vi(b.length.toLong) ++ b
      }
      val hdr = e(0x1A45DFA3L, e(0x4282L, "matroska".getBytes("US-ASCII")))
      val info = e(0x1549A966L, e(0x2AD7B1L, ub(1000000L)))
      val soun = e(0xAEL, e(0xD7L, ub(1)), e(0x83L, ub(2)) /* audio */ ,
        e(0x86L, "A_PCM/INT/LIT".getBytes("US-ASCII")))
      val vide = e(0xAEL, e(0xD7L, ub(2)), e(0x83L, ub(1)) /* video */ ,
        e(0x23E383L, ub(1000000000L / 25)))
      val tracks = e(0x1654AE6BL, soun, vide)
      val clusters = frames.zipWithIndex.map { case (f, idx) =>
        e(0x1F43B675L, e(0xE7L, ub(idx * 40L)),
          e(0xA3L, vi(2L) ++ Array[Byte](0, 0, 0x80.toByte) ++ f))
      }
      hdr ++ e(0x18538067L, (Seq(info, tracks) ++ clusters): _*)
    }
    val va = MkvContainer.demux(audioFirst).getOrElse(fail("audio-first must demux"))
    assert(va.fps == 25 && va.frames.size == 3, s"fps=${va.fps} n=${va.frames.size}")
    assert(va.frames.zip(frames).forall { case (a, b) => java.util.Arrays.equals(a, b) })
  }

  test("AutoContainer: magic-byte sniff routes AVI/MP4/MKV/GVID; unknown magic drops") {
    import spark.implicits._
    val frames = Seq(MediaOps.testPngBytes(1L), MediaOps.testPngBytes(2L))
    val byFormat = Seq(
      "avi" -> AviContainer.mux(10, frames),
      "mp4" -> Mp4Container.mux(10, frames),
      "mkv" -> MkvContainer.mux(10, frames),
      "gvid" -> VideoOps.GvidContainer.mux(10, frames))
    for ((fmt, bytes) <- byFormat) {
      val vs = VideoOps.AutoContainer.demux(bytes)
        .getOrElse(fail(s"$fmt must route through AutoContainer"))
      assert(vs.fps == 10 && vs.frames.size == 2, fmt)
      assert(vs.frames.zip(frames).forall { case (a, b) => java.util.Arrays.equals(a, b) }, fmt)
    }
    assert(VideoOps.AutoContainer.demux("no known container magic here".getBytes).isEmpty)
    assert(VideoOps.AutoContainer.demux(Array[Byte](1, 2, 3)).isEmpty)
    // one decodeFrames pass over a heterogeneous column
    val mixed = Seq(
      (0L, AviContainer.mux(10, Seq(MediaOps.testPngBytes(3L)))),
      (1L, Mp4Container.mux(10, Seq(MediaOps.testPngBytes(4L)))),
      (2L, MkvContainer.mux(10, Seq(MediaOps.testPngBytes(5L))))
    ).toDF("doc_id", "content")
    val out = VideoOps.decodeFrames(mixed, container = VideoOps.AutoContainer)
      .orderBy("doc_id").collect()
    assert(out.length == 3, out.mkString(","))
    assert(out.map(r => r.getInt(3)).toSeq == Seq(3L, 4L, 5L).map(i => (16 + i % 8).toInt),
      out.mkString(","))
  }

  test("MKV real-MJPEG payloads: genuine JPEG-per-block decode through the shared codec") {
    import spark.implicits._
    val media = Seq((5L, MkvContainer.testMjpegMkvBytes(5L))).toDF("doc_id", "content")
    val out = VideoOps.decodeFrames(media, container = MkvContainer)
      .orderBy("frame_idx").collect()
    assert(out.length == 4, out.mkString(","))
    // dimensions survive the lossy codec exactly: the q42 closed forms
    // at fid = 17*5 + frame_idx; ts_ms = idx*200 (5 fps)
    assert(out.forall { r =>
      val fid = 85L + r.getInt(1)
      r.getInt(3) == 16 + fid % 8 && r.getInt(4) == 12 + fid % 5 &&
        r.getLong(2) == r.getInt(1) * 200L
    }, out.mkString(","))
    // checksums match an in-JVM reference decode of the same JPEG bytes
    val stream = MkvContainer.demux(MkvContainer.testMjpegMkvBytes(5L)).get
    val expect = stream.frames.map { f =>
      val d = MediaOps.ImageIoCodec.decode(f).get
      d.gray.foldLeft(0L)(_ + _)
    }
    assert(out.map(_.getLong(5)).toSeq == expect, s"${out.map(_.getLong(5)).toSeq} vs $expect")
    // a corrupt block inside an otherwise-good container drops just itself
    val mixed = MkvContainer.mux(5,
      Seq(MediaOps.testPngBytes(1L), Array[Byte](0, 1, 2), MediaOps.testPngBytes(2L)))
    val dec = VideoOps.decodeFrames(
      Seq((9L, mixed)).toDF("doc_id", "content"), container = MkvContainer).collect()
    assert(dec.map(_.getInt(1)).sorted.toSeq == Seq(0, 2), dec.mkString(","))
  }

  test("WARC reader: round-trip, gzip path, non-response skipping, hostile input") {
    import spark.implicits._
    import WarcIo._
    val pagesFix = Seq(
      "http://a.example.com/one" -> "<p>alpha beta gamma delta epsilon</p>",
      "https://b.example.com/two" -> "<p>one two three four five six</p>")
    for (gz <- Seq(false, true)) {
      val recs = parse(mux(pagesFix, gzip = gz))
      // warcinfo + (request + response) per page
      assert(recs.map(_.warc_type) ==
        IndexedSeq("warcinfo", "request", "response", "request", "response"), recs.toString)
      val resp = recs.filter(_.warc_type == "response")
      assert(resp.map(_.target_uri) == pagesFix.map(_._1).toIndexedSeq)
      assert(resp.map(_.body) == pagesFix.map(_._2).toIndexedSeq,
        "response bodies must round-trip byte-exact")
      assert(resp.forall(_.http_status == 200))
      // non-response records carry no body
      assert(recs.filter(_.warc_type != "response").forall(_.body == ""))
    }
    // hostile input: garbage, truncations, corruptions — never throws,
    // truncation keeps the records already parsed
    val base = mux(pagesFix)
    val rnd = new scala.util.Random(151)
    for (trial <- 0 until 200) {
      val bytes =
        if (trial % 3 == 0) { val b = new Array[Byte](rnd.nextInt(300)); rnd.nextBytes(b); b }
        else if (trial % 3 == 1) base.take(rnd.nextInt(base.length + 1))
        else {
          val b = base.clone()
          for (_ <- 0 to rnd.nextInt(6)) b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
          b
        }
      parse(bytes) // must not throw
    }
    val cut = parse(base.take(base.length - 10))
    assert(cut.nonEmpty && cut.length < 5, s"truncation keeps the parsed prefix: ${cut.length}")
    // a bad Content-Length ends the parse instead of throwing
    val bad = new String(base, java.nio.charset.StandardCharsets.ISO_8859_1)
      .replaceFirst("Content-Length: [0-9]+", "Content-Length: 999999")
    assert(parse(bad.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)).isEmpty)
    // distributed: records() explodes archives, pages() keeps 200-responses
    val archives = Seq((0L, mux(pagesFix)), (1L, mux(pagesFix.take(1), gzip = true)),
      (2L, Array[Byte](1, 2, 3))).toDF("file_id", "content")
    val pg = WarcIo.pages(archives).collect()
    assert(pg.length == 3 && pg.forall(_.getString(1).startsWith("<p>")))
  }

  test("WARC reader: charset-correct body decode on all three declaration paths") {
    import WarcIo._
    val multi = "<p>Café 你好世界 naïve résumé déjà-vu ﬁve</p>" // non-BMP-free but multi-byte
    // 1) charset on the HTTP header, 2) <meta charset> only, 3) undeclared → sniff
    val metaPage = "<html><head><meta charset=\"UTF-8\"></head><body>" + multi + "</body></html>"
    for (gz <- Seq(false, true)) {
      val recs = parse(muxModes(Seq(
        ("http://a/hdr", multi, 0),
        ("http://a/meta", metaPage, 1),
        ("http://a/sniff", multi, 2)), gzip = gz))
      val resp = recs.filter(_.warc_type == "response")
      assert(resp.map(_.body) == IndexedSeq(multi, metaPage, multi),
        "UTF-8 bodies must survive all three charset-declaration paths")
    }
    // declared legacy charset: latin-1 bytes decode per the label
    val latinBody = "café naïve" // as ISO-8859-1 bytes on the wire
    val latinWire = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=iso-8859-1" +
      "\r\n\r\n" + latinBody // latin-1 view == declared encoding here
    val rec = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://a/l1\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${latinWire.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1).length}" +
      "\r\n\r\n" + latinWire + "\r\n\r\n"
    val got = parse(rec.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    assert(got.head.body == latinBody, got.head.body)
    // undeclared NON-UTF-8 bytes: sniff fails strict UTF-8 → byte-preserving latin-1
    val rawWire = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + latinBody
    val rec2 = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://a/raw\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${rawWire.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1).length}" +
      "\r\n\r\n" + rawWire + "\r\n\r\n"
    val got2 = parse(rec2.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    assert(got2.head.body == latinBody, got2.head.body)
    // bogus charset label falls through to the sniff (UTF-8 bytes here) — total
    val u8 = new String(multi.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val bogusWire = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=not-a-charset" +
      "\r\n\r\n" + u8
    val rec3 = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://a/bogus\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${bogusWire.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1).length}" +
      "\r\n\r\n" + bogusWire + "\r\n\r\n"
    assert(parse(rec3.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)).head.body == multi)
    // a NON-ASCII-compatible declaration (utf-16) must NOT take the
    // ASCII shortcut: "Hi" as UTF-16BE is 0x00 0x48 0x00 0x69 — every
    // byte < 0x80, yet the label, not the byte view, is authoritative
    val u16 = new String("Hi".getBytes(java.nio.charset.StandardCharsets.UTF_16BE),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val u16Wire = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-16be" +
      "\r\n\r\n" + u16
    val rec4 = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://a/u16\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${u16Wire.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1).length}" +
      "\r\n\r\n" + u16Wire + "\r\n\r\n"
    assert(parse(rec4.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)).head.body == "Hi")
    // HTML5-prescan bounds: a charset= in an <a href> between two meta
    // tags (after the first <meta>, outside any meta tag's bounds) must
    // not shadow the real <meta charset> declaration
    val trap = "<html><head><meta name=\"viewport\" content=\"w\">" +
      "<a href=\"/x?charset=iso-8859-1\">l</a>" +
      "<meta charset=\"utf-8\"></head><body>" + multi + "</body></html>"
    val trapWire = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
      new String(trap.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.charset.StandardCharsets.ISO_8859_1)
    val rec5 = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://a/trap\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${trapWire.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1).length}" +
      "\r\n\r\n" + trapWire + "\r\n\r\n"
    assert(parse(rec5.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)).head.body == trap)
    // the warcTable multibyte page round-trips through the full distributed chain
    import spark.implicits._
    val docs = (0L to 9L).map(i => (i, s"alpha beta gamma delta epsilon doc$i"))
      .toDF("doc_id", "text")
    val intl = WarcIo.pages(WarcIo.warcTable(docs))
      .filter(col("target_uri").contains("intl.example.org"))
      .collect()
    assert(intl.length == 3, s"one intl page per archive: ${intl.length}")
    val exIntl = HtmlExtract.extract(
      WarcIo.pages(WarcIo.warcTable(docs))
        .filter(col("target_uri").contains("intl.example.org"))
        .withColumn("doc_id",
          regexp_extract(col("target_uri"), "Item([0-9]+)", 1).cast("long")),
      "doc_id", "html").collect()
    exIntl.foreach { r =>
      val fid = r.getLong(0) - WarcIo.IntlDocBase
      assert(r.getString(1) == WarcIo.intlText(fid), r.getString(1))
    }
  }

  test("incremental media dedup: history wins, smaller batch mate wins, asset-less pass") {
    import spark.implicits._
    val history = Seq((0L, "history doc zero entirely original words here"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, "batch doc one with its own words entirely"),
      (3L, "batch doc three other words all fresh here"),
      (5L, "batch doc five more distinct content words"),
      (7L, "batch doc seven no asset attached at all"))
      .toDF("doc_id", "text")
    val embs = Seq(0L -> Array(1f, 0f), 1L -> Array(0f, 1f), 3L -> Array(-1f, 0f),
        5L -> Array(0f, -1f), 7L -> Array(0.7f, 0.7f)).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val cent = operators.KMeansOps.fit(
      embs.filter($"vec_id" === 0L), "vec_id", "embedding", k = 1, iters = 1)
    // history asset = pattern class 1; batch: doc 1 class 1 (history
    // dup), docs 3 and 5 class 3 (mates — smaller id 3 keeps), doc 7
    // asset-less
    val histAssets = Seq((0L, MediaOps.perceptualPngBytes(1L))).toDF("doc_id", "content")
    val batchAssets = Seq(
      (1L, MediaOps.perceptualPngBytes(1L)),
      (3L, MediaOps.perceptualPngBytes(3L)),
      (5L, MediaOps.perceptualPngBytes(3L))).toDF("doc_id", "content")
    val out = Pipeline.curateIncremental(history, batch, embs, "doc_id", "text",
        semK = 1, semTau = 0.99,
        mediaDupHistory = Some(histAssets), mediaDupBatch = Some(batchAssets))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "media_dup", out.toString)  // history copy survives
    assert(out(3L) == "kept", out.toString)       // the smaller mate keeps
    assert(out(5L) == "media_dup", out.toString)
    assert(out(7L) == "kept", out.toString)       // no asset → untouched
    // the hook is all-or-nothing
    intercept[RuntimeException] {
      Pipeline.curateIncremental(history, batch, embs, "doc_id", "text",
        semK = 1, mediaDupHistory = Some(histAssets))
    }
  }

  test("curateFromHtml: extraction is stage 0; chrome-only pages classify as empty") {
    import spark.implicits._
    val texts = (
      Seq((0L, "s0", (1 to 30).map(i => s"a$i").mkString(" ")),    // clean content
        (1L, "s1", (1 to 30).map(i => s"a$i").mkString(" ")),      // exact dup of 0
        (2L, "s2", "tiny")) ++                                     // <5 words → no content
      (3L to 11L).map(k => (k, s"s$k",                             // distinct content
        (1 to 25).map(i => s"w${k}x$i").mkString(" "))))
      .toDF("doc_id", "source", "text")
    val pages = HtmlExtract.htmlTable(texts)
      .join(texts.select("doc_id", "source"), Seq("doc_id"))
    val embs = (0L to 11L).map { k =>
        k -> Array.tabulate(12)(i => if (i == k.toInt) 1f else 0f)
      }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val out = Pipeline.curateFromHtml(pages, embs, "doc_id", "html", "source")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // doc 1's EXTRACTED text equals doc 0's → exact_dup through the html
    // front; doc 2 yields no content blocks → empty; 0 and 3 keep
    assert(out(0L) == "kept" && out(3L) == "kept", out.toString)
    assert(out(1L) == "exact_dup", out.toString)
    assert(out(10L) == "kept", out.toString)
  }

  test("fused NB scorer ≡ composed explode/join/agg plan, row for row") {
    import spark.implicits._
    // training fixture + adversarial scoring inputs: mixed case, tabs,
    // multi-space runs, single tokens, unicode, near-sentinel strings
    val seed = Seq((0L, "the curated encyclopedia article discusses science"),
      (2L, "reference article covers literature and history")).toDF("doc_id", "text")
    val crawl = Seq((1L, "click here buy cheap pills now winner"),
      (3L, "free casino bonus offer today click")).toDF("doc_id", "text")
    val model = operators.TextOps.seedCrawlNbFit(seed, crawl)
    val docs = Seq(
      (10L, "The   Curated\tArticle About Science"),
      (11L, "buy cheap pills"),
      (12L, "single"),
      (13L, "  leading and trailing   "),
      (14L, "Ünïcode Tökens ärticle"),
      (15L, "__nb_doc__ feature that looks like the sentinel"),
      (16L, (1 to 300).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val fused = operators.TextOps.nbScore(model, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val composed = operators.TextOps.nbScoreComposed(model, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(fused == composed,
      s"fused minus composed: ${fused -- composed}; composed minus fused: ${composed -- fused}")
    // the fused scoring plan carries no exchange at all
    val plan = operators.TextOps.nbScore(model, docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"fused NB scoring must be shuffle-free:\n$plan")
    // fit parity: the single-job sentinel fold produces the exact model
    // the two-job formulation did (doc-count priors included)
    assert(model.priorU == math.floor(math.log(2.0 / 2.0) * 1e6).toLong)
    val m2 = operators.TextOps.seedCrawlNbFit(seed.unionByName(crawl.limit(0)), crawl)
    assert(m2 == model)
  }

  test("URL canonicalization: each rule, rule interactions, hostile inputs, domain") {
    import spark.implicits._
    def canon(urls: String*): Seq[String] =
      urls.toDF("u").select(operators.UrlOps.canonicalize(col("u"))).collect()
        .map(_.getString(0)).toSeq
    // scheme+host lowered, PATH case preserved
    assert(canon("HTTP://WWW.Example.COM/CaseSensitive/Path") ==
      Seq("http://www.example.com/CaseSensitive/Path"))
    // default ports stripped; non-default and cross-scheme defaults kept
    assert(canon("http://a.com:80/x", "https://a.com:443/x",
        "http://a.com:443/x", "https://a.com:8080/x", "http://a.com:80") ==
      Seq("http://a.com/x", "https://a.com/x",
        "http://a.com:443/x", "https://a.com:8080/x", "http://a.com"))
    // fragments always dropped; tracking params healed in every position
    assert(canon(
        "https://a.com/p?id=5#Section",
        "https://a.com/p?utm_source=x&id=5",
        "https://a.com/p?id=5&utm_source=x&utm_campaign=y",
        "https://a.com/p?utm_a=1&utm_b=2",
        "https://a.com/p?gclid=z&fbclid=w&page=2",
        "https://a.com/p?page=2&msclkid=q#frag") ==
      Seq("https://a.com/p?id=5", "https://a.com/p?id=5",
        "https://a.com/p?id=5", "https://a.com/p",
        "https://a.com/p?page=2", "https://a.com/p?page=2"))
    // hostile/degenerate inputs pass through (total, no throw)
    assert(canon("not a url at all", "", "   x  ") ==
      Seq("not a url at all", "", "x"))
    // domain: authority minus userinfo/port/www
    val doms = Seq("https://www.News.Example.com:8443/a?b=1",
        "http://user:pw@host.org/x", "no-scheme", "https://plain.io")
      .toDF("u")
      .select(operators.UrlOps.domain(operators.UrlOps.canonicalize(col("u"))))
      .collect().map(_.getString(0)).toSeq
    assert(doms == Seq("news.example.com", "host.org", "", "plain.io"), doms.toString)
    // fixture ↔ canonicalizer agreement on every residue class (the
    // closed form q145's oracle reconstructs)
    val ids = (0L until 120L).toSeq
    val got = operators.UrlOps.urlTable(ids.toDF("doc_id"))
      .select(col("doc_id"), operators.UrlOps.canonicalize(col("url")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    ids.foreach { id =>
      val q = if (id % 9 == 0) "" else if (id % 2 == 0) s"?id=$id" else "?page=2"
      val port = if (id % 11 == 0) ":8080" else ""
      val scheme = if (id % 2 == 0) "http" else "https"
      val expect = s"$scheme://www.host${id % 7}.example.com$port/Articles/Item$id$q"
      assert(got(id) == expect, s"id=$id: ${got(id)} != $expect")
    }
  }

  test("perceptual hashing: aHash/dHash closed forms, Hamming banding, near-miss behavior") {
    import spark.implicits._
    def dec(id: Long) = MediaOps.ImageIoCodec.decode(MediaOps.perceptualPngBytes(id)).get
    val h0 = MediaOps.aHash64(dec(0)); val h1 = MediaOps.aHash64(dec(1))
    val h2 = MediaOps.aHash64(dec(2)); val h3 = MediaOps.aHash64(dec(3))
    // the ±1-checker perturbation is invisible to aHash (same cell order)
    assert(h0 == h2)
    assert(java.lang.Long.bitCount(h0 ^ h1) == 64) // mirrored gradient
    assert(java.lang.Long.bitCount(h0 ^ h3) == 32) // horizontal vs vertical
    // dHash reads gradient DIRECTION: ascending rows → no brighter-than-
    // right cells; descending → all of them
    assert(MediaOps.dHash64(dec(0)) == 0L)
    assert(MediaOps.dHash64(dec(1)) == -1L) // all 64 bits
    // near-miss: zeroing ONE 4x4 cell flips exactly its bit (τ=2 pairs
    // it); zeroing three cells is Hamming 3 (dropped at τ=2)
    def patched(cells: Seq[Int]): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        32, 32, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val r = img.getRaster
      for (y <- 0 until 32; x <- 0 until 32) {
        val cell = (y / 4) * 8 + x / 4
        r.setSample(x, y, 0, if (cells.contains(cell)) 0 else 8 * x)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val one = MediaOps.aHash64(MediaOps.ImageIoCodec.decode(patched(Seq(7))).get)
    val three = MediaOps.aHash64(MediaOps.ImageIoCodec.decode(patched(Seq(5, 6, 7))).get)
    assert(java.lang.Long.bitCount(h0 ^ one) == 1)
    assert(java.lang.Long.bitCount(h0 ^ three) == 3)
    val media = Seq(
      (0L, MediaOps.perceptualPngBytes(0L)),
      (1L, patched(Seq(7))),                 // Hamming 1 from doc 0
      (2L, patched(Seq(5, 6, 7))),           // Hamming 3 — out at τ=2
      (3L, Array[Byte](9, 9, 9))             // undecodable: excluded, no throw
    ).toDF("doc_id", "content")
    val pairs = MediaOps.perceptualDupPairs(media, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // (0,2) is Hamming 3 — out; (1,2) differ only at cells 5,6 → in
    assert(pairs == Set((0L, 1L, 1), (1L, 2L, 2)), pairs.toString)
  }

  test("video segment near-dup: aligned frame-hash runs through real MP4 demux") {
    import spark.implicits._
    // scene hashes are distinct and exactly 8·s bits
    val hashes = (0 to 6).map(s => MediaOps.aHash64(
      MediaOps.ImageIoCodec.decode(VideoOps.scenePngBytes(s)).get))
    assert(hashes.map(java.lang.Long.bitCount) == (0 to 6).map(_ * 8))
    assert(hashes.distinct.size == 7)
    // handcrafted: A = scenes 1..6, B = scenes 3..6 then 1,2 → the
    // aligned overlap is A[2..5] = B[0..3] (4 frames); the trailing
    // B-frames 1,2 match A positions 0,1 on a DIFFERENT diagonal (run
    // 2 < 4 → filtered)
    def vid(scenes: Seq[Int]) = Mp4Container.mux(6, scenes.map(VideoOps.scenePngBytes))
    val vids = Seq(
      (1L, vid(Seq(1, 2, 3, 4, 5, 6))),
      (2L, vid(Seq(3, 4, 5, 6, 1, 2))),
      (3L, vid(Seq(0, 0, 0, 0, 0, 0))),   // black video: no partner here
      (9L, Array[Byte](1, 2, 3))          // corrupt container: excluded
    ).toDF("doc_id", "content")
    val segs = VideoOps.videoDupSegments(vids, container = Mp4Container, minFrames = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(segs.toSet == Set((1L, 2L, 2L, 0L, 4L)), segs.mkString(","))
    // the hot-frame cap excludes boilerplate frames (the black scene):
    // two all-black videos pair only when the cap allows the black hash
    val blacks = Seq((1L, vid(Seq(0, 0, 0, 0, 0, 0))),
      (2L, vid(Seq(0, 0, 0, 0, 0, 0)))).toDF("doc_id", "content")
    assert(VideoOps.videoDupSegments(blacks, container = Mp4Container,
      minFrames = 4, maxFrameOccurrences = 4).count() == 0)
    val uncapped = VideoOps.videoDupSegments(blacks, container = Mp4Container,
      minFrames = 4, maxFrameOccurrences = 0).collect()
    assert(uncapped.nonEmpty)
  }

  test("audio envelope hash: closed forms, gain invariance, banding") {
    import spark.implicits._
    def h(id: Long) = MediaOps.audioHash64(
      MediaOps.JavaSoundCodec.decode(MediaOps.audioDupWavBytes(id)).get)
    val (h0, h1, h2, h3) = (h(0), h(1), h(2), h(3))
    // hand-derived bit patterns: ramp → upper half, reversed → lower
    // half, triangle → middle 32; uniform gain shift invisible
    assert(h0 == -1L << 32, f"ramp bits 32..63, got $h0%016x")
    assert(h1 == (1L << 32) - 1, f"reversed bits 0..31, got $h1%016x")
    assert(h2 == h0, "uniform +1 gain must not move any envelope bit")
    assert(h3 == (((1L << 48) - 1) & ~((1L << 16) - 1)), f"triangle bits 16..47, got $h3%016x")
    assert(java.lang.Long.bitCount(h0 ^ h1) == 64 &&
      java.lang.Long.bitCount(h0 ^ h3) == 32)
    // pairs: classes pair at Hamming 0; undecodable clips excluded
    val clips = Seq((0L, MediaOps.audioDupWavBytes(0)),
      (2L, MediaOps.audioDupWavBytes(2)), (5L, MediaOps.audioDupWavBytes(5)),
      (9L, Array[Byte](1, 2, 3))).toDF("doc_id", "content")
    val pairs = MediaOps.audioDupPairs(clips, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((0L, 2L, 0)), pairs.toString)
  }

  test("BPE: incremental trainer ≡ spec trainer, code-point symbols, 4096-merge scale") {
    // randomized parity: the incremental pair-count trainer must emit
    // the exact merge table of the recount-per-merge spec form,
    // including tie-breaks, exhaustion, and pair-reappearance cases
    val rnd = new scala.util.Random(181)
    for (trial <- 0 until 150) {
      val alpha = "abcd"
      def rw(len: Int) = (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val vocab = (0 until (3 + rnd.nextInt(10)))
        .map(_ => (rw(1 + rnd.nextInt(8)), 1L + rnd.nextInt(5))).toSeq
      val nm = 1 + rnd.nextInt(12)
      assert(Bpe.train(vocab, nm).merges == Bpe.trainReference(vocab, nm).merges,
        s"trial $trial vocab=$vocab nm=$nm")
    }
    // non-BMP characters are ONE symbol (code points, not UTF-16 units):
    // the merge table never contains unpaired surrogates
    val emoji = Bpe.fitOnText("😀x 😀x 😀x", 1)
    assert(emoji.merges == IndexedSeq(("😀", "x")), emoji.merges.toString)
    assert(Bpe.compiled(emoji).encodeWord("😀x").toSeq == Seq("😀x"))
    assert(Bpe.compiled(emoji).encodeWord("😀y").toSeq == Seq("😀", "y"))
    // a GPT-2-class merge budget completes in bounded time on a real-
    // shaped vocabulary (the spec form would be O(merges × symbols))
    val big = new scala.util.Random(4096)
    val bigVocab = (0 until 30000).map { i =>
      val len = 4 + big.nextInt(12)
      ((0 until len).map(_ => ('a' + big.nextInt(26)).toChar).mkString,
        1L + big.nextInt(1000))
    }.distinct.toSeq
    val t0 = System.nanoTime()
    val m4k = Bpe.train(bigVocab, 4096)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(m4k.merges.length == 4096, m4k.merges.length.toString)
    // wall-clock recorded for the log only — a timing assert would
    // flake on a loaded host independent of any code change
    info(f"4096 merges over ${bigVocab.size} words: $secs%.1f s")
  }

  test("BPE: deterministic training, sequential encode ≡ rank-based greedy, fit parity") {
    import spark.implicits._
    // textbook fixture: pair counts and tie-breaks all exercised
    val m = Bpe.fitOnText("low lower lowest low low", numMerges = 4)
    // (l,o) ties (o,w) at 5 → lexicographically smallest pair wins;
    // then (lo,w) 5, (low,e) 2, then a 3-way count-1 tie among
    // (lowe,r)/(lowe,s)/(s,t) → "lowe r" sorts first
    assert(m.merges == IndexedSeq(("l", "o"), ("lo", "w"), ("low", "e"), ("lowe", "r")),
      m.merges.toString)
    val c = Bpe.compiled(m)
    assert(c.encodeWord("lowest").toSeq == Seq("lowe", "s", "t"))
    assert(c.encodeWord("low").toSeq == Seq("low"))
    assert(c.encodeWord("zzz").toSeq == Seq("z", "z", "z")) // OOV chars pass through

    // sequential-in-training-order encode ≡ rank-based greedy encode
    // (the equivalence the oracle's recursive replay relies on)
    def rankGreedy(model: Bpe.BpeModel, word: String): Seq[String] = {
      val rank = model.merges.zipWithIndex.toMap
      var syms = word.map(_.toString).toVector
      var done = false
      while (!done && syms.length > 1) {
        val best = syms.zip(syms.tail).flatMap(p => rank.get(p).map(p -> _))
          .sortBy(_._2).headOption
        best match {
          case None => done = true
          case Some(((a, b), _)) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                out += a + b; i += 2
              } else { out += syms(i); i += 1 }
            }
            syms = out.result()
        }
      }
      syms
    }
    val rnd = new scala.util.Random(143)
    for (trial <- 0 until 200) {
      val alpha = "abc"
      def rw(len: Int) = (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val seed = (0 until 12).map(_ => rw(2 + rnd.nextInt(6))).mkString(" ")
      val model = Bpe.fitOnText(seed, 1 + rnd.nextInt(8))
      val word = rw(1 + rnd.nextInt(12))
      assert(Bpe.compiled(model).encodeWord(word).toSeq == rankGreedy(model, word),
        s"trial $trial: seed=$seed word=$word merges=${model.merges}")
    }

    // distributed fit ≡ local fit on the same content
    val df = Seq("low lower", "lowest low", "low").toDF("text")
    assert(Bpe.fit(df, "text", numMerges = 4).merges ==
      Bpe.fitOnText("low lower lowest low low", 4).merges)
    // expressions: count ≡ tokens length, blanks → 0, codegen path
    val sm = Bpe.SeedModel
    val rows = Seq((1L, "the fast table scan"), (2L, "   "), (3L, ""))
      .toDF("id", "text")
      .select(col("id"), Bpe.tokenCount(col("text"), sm).as("n"),
        size(Bpe.tokens(col("text"), sm)).as("sz"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rows.collect { case (1L, n, sz) => n == sz && n >= 4 }.forall(identity))
    assert(rows.contains((2L, 0L, 0)) && rows.contains((3L, 0L, 0)), rows.toString)
    // guards
    intercept[IllegalArgumentException](Bpe.fitOnText("   ", 4))
    intercept[IllegalArgumentException](Bpe.fitOnText("ab", 0))
    // model exhausts merges gracefully when the vocab runs dry
    assert(Bpe.fitOnText("ab", 10).merges == IndexedSeq(("a", "b")))
    // SnapshotStore artifact round-trip (the q119 model discipline):
    // byte shape is stable and the stored model encodes identically
    assert(Bpe.modelFromBytes(Bpe.modelToBytes(sm)) == sm)
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_store_").toString
    try {
      val store = new operators.SnapshotStore(spark, dir)
      val stored = Bpe.modelFromBytes(
        store.getOrBuildBytes("/root/testdata/sf0.001/documents.parquet", "bpe_seed_model")(Bpe.modelToBytes(sm)))
      assert(stored == sm)
      // second read hits the store (build must not run again)
      var built = false
      val again = store.getOrBuildBytes("/root/testdata/sf0.001/documents.parquet", "bpe_seed_model") {
        built = true; Bpe.modelToBytes(sm)
      }
      assert(!built && Bpe.modelFromBytes(again) == sm)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("HTML extraction: block segmentation, zones, link density, entities") {
    import HtmlExtract._
    val page =
      """<html><head><title>Nine word title that clears the word floor easily</title>
        |<style>p { color: red; }</style></head>
        |<body>
        |<nav><a href="/">Home</a> <a href="/x">More</a> extra nav words here beyond the floor</nav>
        |<script>if (1 < 2) { alert("</p> fake close inside string is fine"); }</script>
        |<p>The first real paragraph carries enough words to clear the floor.</p>
        |<p>Short one.</p>
        |<p>Link farm <a href="/a">one two three four five six seven eight nine</a> x</p>
        |<p>Entities: Tom &amp; Jerry say 1 &lt; 2 &gt; 0 &quot;ok&quot; &#65;</p>
        |<footer>A long footer sentence with plenty of words stays boilerplate by zone</footer>
        |</body></html>""".stripMargin
    val bs = parseBlocks(page)
    val byText = bs.map(b => b.text.take(12) -> b).toMap
    // title: ≥5 words, no zone → content (a real page's title block)
    assert(isContent(byText("Nine word ti")))
    // nav: zone wins even past the word floor
    val nav = bs.find(_.text.startsWith("Home")).get
    assert(nav.zone && !isContent(nav) && nav.n_links == 2)
    // script subtree (with a fake close tag inside a string) fully skipped
    assert(!bs.exists(_.text.contains("alert")))
    assert(!bs.exists(_.text.contains("color")))
    // plain paragraph: content; short paragraph: dropped by word floor
    assert(isContent(byText("The first re")))
    assert(!isContent(byText("Short one.")))
    // link farm: 9 of 12 words inside <a> → density ≈ .78 > 1/3 → dropped
    val farm = bs.find(_.text.startsWith("Link farm")).get
    assert(farm.n_links == 1 && farm.link_chars > 0 &&
      farm.link_chars.toDouble / farm.total_chars > 0.5 && !isContent(farm))
    // entity decode in text flow
    assert(byText("Entities: To").text == "Entities: Tom & Jerry say 1 < 2 > 0 \"ok\" A")
    // footer: zone
    assert(bs.find(_.text.startsWith("A long footer")).get.zone)

    // extract over the closed-form fixture: chrome dropped, article kept
    val spark2 = spark
    import spark2.implicits._
    val text = (1 to 87).map(i => s"w$i").mkString(" ")  // 87 words: 40+40+7
    val df = Seq((5L, text), (6L, "tiny doc"), (7L, "")).toDF("doc_id", "text")
    val out = HtmlExtract.extract(HtmlExtract.htmlTable(df), "doc_id", "html")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(5L) == ((text, 10L, 3L)), out(5L).toString) // 7 chrome + 3 paras
    assert(out(6L) == (("", 8L, 0L)), out(6L).toString)    // 2-word para dropped
    assert(out(7L) == (("", 7L, 0L)), out(7L).toString)    // no paragraphs at all
    // tail-merge rule: 42 words → ONE 42-word paragraph (40 + 2 merges)
    val t42 = (1 to 42).map(i => s"v$i").mkString(" ")
    val m = HtmlExtract.extract(
      HtmlExtract.htmlTable(Seq((9L, t42)).toDF("doc_id", "text")), "doc_id", "html")
      .collect().head
    assert(m.getString(1) == t42 && m.getLong(3) == 1L, m.toString)
  }

  test("HTML extraction: hostile input never throws, truncation keeps parsed blocks") {
    import HtmlExtract._
    val rnd = new scala.util.Random(4217)
    val base = testHtml(3L, (1 to 60).map(i => s"t$i").mkString(" "))
    for (trial <- 0 until 300) {
      val s =
        if (trial % 3 == 0) {
          val b = new Array[Byte](rnd.nextInt(400)); rnd.nextBytes(b)
          new String(b, java.nio.charset.StandardCharsets.UTF_8)
        } else if (trial % 3 == 1) base.take(rnd.nextInt(base.length + 1))
        else {
          val b = base.toCharArray
          for (_ <- 0 to rnd.nextInt(8))
            b(rnd.nextInt(b.length)) = rnd.nextPrintableChar()
          new String(b)
        }
      val bs = parseBlocks(s) // must not throw
      assert(bs.forall(b => b.n_words >= 1 && b.link_chars <= b.total_chars))
    }
    // specific hostiles: unclosed everything, orphan closes, nested zones
    assert(parseBlocks("<p>unterminated <a href=never closes").nonEmpty)
    assert(parseBlocks("</div></footer></a>stray closers only").nonEmpty)
    assert(parseBlocks("<script>while(1){}").isEmpty) // unclosed skip eats the rest
    val z = parseBlocks("<nav><nav><p>deep chrome</p></nav></nav><p>after the double zone</p>")
    assert(z.find(_.text == "deep chrome").get.zone)
    assert(!z.find(_.text == "after the double zone").get.zone)
  }

  test("trained lang-id: fit/round-trip/tie-break and blank-doc prior semantics") {
    val spark2 = spark
    import spark2.implicits._
    val train = Seq(
      (0L, "aaa aab aba baa aaa aab", "xx"),
      (1L, "aab aaa aba aaa baa aab", "xx"),
      (2L, "zzz zzy zyz yzz zzz zzy", "yy"),
      (3L, "zzy zzz zyz zzz yzz zzy", "yy")).toDF("doc_id", "text", "lang")
    val m = TextOps.langNbFit(train, buckets = 64)
    assert(m.langs == Seq("xx", "yy"))
    assert(m.lpU.forall(_.length == 64))
    // (lang, k, v) row serialization round-trips exactly (the
    // SnapshotStore artifact shape)
    val m2 = TextOps.langNbModelFromRows(TextOps.langNbModelToRows(m))
    assert(m2.buckets == m.buckets && m2.langs == m.langs &&
      m2.priorsU == m.priorsU &&
      m2.lpU.map(_.toSeq) == m.lpU.map(_.toSeq))
    // blank and sub-trigram docs train nothing and count toward no prior
    val m3 = TextOps.langNbFit(
      train.union(Seq((9L, "", "xx"), (10L, "zq", "yy")).toDF("doc_id", "text", "lang")),
      buckets = 64)
    assert(m3.priorsU == m.priorsU && m3.lpU.map(_.toSeq) == m.lpU.map(_.toSeq))
    // predictions: orthography separates; a doc with no trigram emits no row
    val probe = Seq((10L, "aaa aab aba"), (11L, "zzz zzy yzz"), (12L, "q"))
      .toDF("doc_id", "text")
    val out = TextOps.langNbPredict(m, probe).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(10L) == "xx" && out(11L) == "yy" && !out.contains(12L), out.toString)
    // exact score ties break toward the lexicographically smaller language
    val tie = TextOps.LangNbModel(4, Seq("aa", "bb"), Seq(0L, 0L),
      Seq(Array.fill(4)(-5L), Array.fill(4)(-5L)))
    val t = TextOps.langNbPredict(tie, Seq((1L, "hello world")).toDF("doc_id", "text"))
      .collect().head
    assert(t.getString(2) == "aa", t.toString)
  }

  test("crossSpansFromGrams: cross twin agrees with the text-level crossSpans") {
    val spark2 = spark
    import spark2.implicits._
    val left = Seq((0L, (1 to 40).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val right = Seq(
      (100L, (5 to 30).map(i => s"w$i").mkString(" ") + " tail distinct words here"),
      (101L, "no overlap at all in this one")).toDF("doc_id", "text")
    val viaText = SpanDedup.crossSpans(left, right, "doc_id", "text", k = 8, minSpan = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val viaGrams = SpanDedup.crossSpansFromGrams(
        SpanDedup.gramRelation(left, "doc_id", "text", 8),
        SpanDedup.gramRelation(right, "doc_id", "text", 8), k = 8, minSpan = 20,
        maxGramOccurrences = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(viaText == viaGrams && viaText.nonEmpty, s"$viaText vs $viaGrams")
    assert(viaText.head == ((0L, 100L, 4L, 0L, 26L)), viaText.toString)
  }

  test("BPE: production-scale 32k-merge fit, sampled parity, snapshot round-trip") {
    // r18 verdict #5: prove the incremental trainer at a GPT-2-class
    // merge budget over a REALISTIC (Zipf-weighted) vocabulary, not just
    // the 4k probe. 100k distinct words, weight ~ N/rank.
    val rnd = new scala.util.Random(32768)
    val zipfVocab = (0 until 100000).map { i =>
      val len = 3 + rnd.nextInt(13)
      ((0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString,
        math.max(1L, 1000000L / (i + 1)))
    }.distinct.toSeq
    val t0 = System.nanoTime()
    val m32k = Bpe.train(zipfVocab, 32768)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(m32k.merges.length == 32768, m32k.merges.length.toString)
    // wall-clock recorded for the log/BASELINE note only (no flaky assert)
    info(f"32768 merges over ${zipfVocab.size} words: $secs%.1f s")
    // sampled parity at a scale the 150 small trials never reach: the
    // incremental trainer's merge table must equal the recount-per-merge
    // spec form on Zipf-shaped vocabularies too
    for (trial <- 0 until 3) {
      val r2 = new scala.util.Random(500 + trial)
      val v = (0 until 1500).map { i =>
        val len = 2 + r2.nextInt(9)
        ((0 until len).map(_ => ('a' + r2.nextInt(8)).toChar).mkString,
          math.max(1L, 10000L / (i + 1)))
      }.distinct.toSeq
      assert(Bpe.train(v, 400).merges == Bpe.trainReference(v, 400).merges,
        s"scale-parity trial $trial")
    }
    // the fitted 32k model round-trips through the SnapshotStore shape
    val rt = Bpe.modelFromBytes(Bpe.modelToBytes(m32k))
    assert(rt.merges == m32k.merges)
    // and drives the compiled encoder (sanity: a hot word encodes whole)
    val hot = zipfVocab.head._1
    assert(Bpe.compiled(m32k).encodeWord(hot).nonEmpty)
  }

  test("fused NB fit and TriBuckets match their composed formulations (multibyte)") {
    val spark2 = spark
    import spark2.implicits._
    // multibyte + mixed-whitespace corpus: the fused normalization and
    // md5 bucketing must agree with the in-plan composed chain exactly
    val seed = Seq((0L, "Caf\u00e9 au lait tr\u00e8s bon caf\u00e9"),
      (1L, "  Stra\u00dfe   und\tweg  "), (2L, "\u65e5\u672c\u8a9e \u30c6\u30b9\u30c8 \u6587\u66f8"),
      (3L, "")).toDF("doc_id", "text")
    val crawl = Seq((10L, "plain ascii words here"),
      (11L, "\ud83d\ude00 emoji mixed caf\u00e9 text"), (12L, "one")).toDF("doc_id", "text")
    val fused = TextOps.seedCrawlNbFit(seed, crawl, buckets = 512)
    val composed = TextOps.seedCrawlNbFitComposed(seed, crawl, buckets = 512)
    assert(fused == composed)
    // TriBuckets vs the composed featBucket(charTrigrams) chain
    val docs = seed.union(crawl)
    val viaFused = docs.select(col("doc_id"),
        NbDocScore.triBucketsCol(col("text"), 512).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaComposed = docs.select(col("doc_id"),
        TextOps.charTrigrams(col("text")).as("tris"))
      .collect().map { r =>
        val tris = r.getSeq[String](1)
        r.getLong(0) -> tris.map { t =>
          val d = java.security.MessageDigest.getInstance("MD5")
            .digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          (((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
            ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)) % 512
        }
      }.toMap
    assert(viaFused == viaComposed)
  }

  test("r19 pipeline hooks: param guards, pass-through and multi-lang allow") {
    val spark2 = spark
    import spark2.implicits._
    val d = ((0L until 10L).map(i =>
        (i, s"alpha beta gamma delta epsilon w$i x$i y$i", "s1")) :+
        ((10L, "zq", "s2"))).toDF("doc_id", "text", "source")
    val emb = (0L to 10L).map { i =>
      val v = Array.fill(64)(0.0f); v((i % 64).toInt) = 1.0f; (i, v)
    }.toDF("vec_id", "embedding")
    // one-sided incremental arm params fail loudly (both-or-neither)
    val assets = d.select(col("doc_id"), lit(Array[Byte](1, 2)).as("content"))
    for (bad <- Seq(
      () => operators.Pipeline.curateIncremental(d, d, emb, "doc_id", "text",
        audioDupHistory = Some(assets)),
      () => operators.Pipeline.curateIncremental(d, d, emb, "doc_id", "text",
        videoDupBatch = Some(assets)))) {
      val e = intercept[RuntimeException](bad())
      assert(e.getMessage.contains("BOTH"), e.getMessage)
    }
    // urlCol without any domain knob fails loudly
    val pages = operators.HtmlExtract.htmlTable(d)
      .join(d.select("doc_id", "source"), Seq("doc_id"))
      .withColumn("url", concat(lit("http://h.example.com/p"), col("doc_id")))
    val e2 = intercept[IllegalArgumentException](
      operators.Pipeline.curateFromHtml(pages, emb, "doc_id", "html", "source",
        urlCol = Some("url")))
    assert(e2.getMessage.contains("domainBlocklist"), e2.getMessage)
    // lang gate: a doc with no trigram ("zq", 2 chars) carries no
    // evidence and must NOT be wrong_lang; a multi-lang allow keeps
    // both classes' docs
    val train = Seq((10L, "alpha beta gamma delta", "aa"),
      (11L, "omega psi chi phi", "bb")).toDF("doc_id", "text", "lang")
    val m = TextOps.langNbFit(train, buckets = 128)
    val out = operators.Pipeline.curateFull(d, emb, "doc_id", "text", "source",
        langModel = Some(m), langAllow = Seq("aa", "bb"))
      .select("doc_id", "decision").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!out.values.exists(_ == "wrong_lang"), out.toString)
    assert(out(10L) == "kept", out.toString)
  }

  test("semantic stage degrades gracefully when gates shrink survivors below semK") {
    val spark2 = spark
    import spark2.implicits._
    // only docs 0 and 1 survive the rule gate (minWords=3), and only doc
    // 0 carries an embedding -> 1 embedded survivor < semK=8 (the q167
    // sf1 crash shape: fit must clamp, not require-fail)
    val corpus = Seq(
      (0L, "s0", "the alpha beta gamma delta."),
      (1L, "s1", "the epsilon zeta eta theta iota."),
      (2L, "s2", "zz")
    ).toDF("doc_id", "source", "text")
    val emb = Seq(0L -> Array.tabulate(4)(i => if (i == 0) 1.0f else 0.0f))
      .toDF("vec_id", "embedding")
    val rp = operators.QualityFilters.RuleParams(minWords = 3, minStopHits = 1,
      minTermLines = 0)
    val out = operators.Pipeline.curateFull(corpus, emb, "doc_id", "text", "source",
        tokenBudget = 1000L, ruleParams = Some(rp))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(0L) == "kept" && out(1L) == "kept" && out(2L) == "rule_filtered", s"$out")
    // incremental inline fit on a 1-doc history clamps too; an EMPTY
    // history (nothing admitted yet) means an empty drop set, not a
    // dropped batch
    val inc = operators.Pipeline.curateIncremental(
        corpus.filter(col("doc_id") === 0L), corpus.filter(col("doc_id") === 1L),
        emb, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(inc(1L) == "kept", s"$inc")
    val incEmpty = operators.Pipeline.curateIncremental(
        corpus.limit(0), corpus.filter(col("doc_id") === 1L),
        emb, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(incEmpty(1L) == "kept", s"$incEmpty")
  }

  test("rule gate: stage order and audit; PII redaction only touches released text") {
    val spark2 = spark
    import spark2.implicits._
    val base = "the alpha beta gamma delta epsilon zeta eta theta."
    val corpus = Seq(
      (0L, "s0", base),                         // clean keeper
      (1L, "s1", "zz yy xx"),                   // no stopword -> rule_filtered
      (2L, "s2", "zz yy xx"),                   // exact dup of 1 (precedence pin)
      (3L, "s3", base + " {"),                  // brace ban; near-dup of 0 otherwise
      (4L, "s4", "the contact is user4@example.com and ip 10.1.2.3 ok.")
    ).toDF("doc_id", "source", "text")
    val emb = Seq(0L, 1L, 2L, 3L, 4L).map { i =>
      val v = Array.fill(8)(0.0f); v(i.toInt) = 1.0f; (i, v)
    }.toDF("vec_id", "embedding")
    val rp = operators.QualityFilters.RuleParams(minWords = 3, minStopHits = 1,
      minTermLines = 0)
    def run(rules: Option[operators.QualityFilters.RuleParams], pii: Boolean) =
      operators.Pipeline.curateFull(corpus, emb, "doc_id", "text", "source",
          nearDupThreshold = 0.5, semK = 2, tokenBudget = 1000L,
          ruleParams = rules, piiRedactOutput = pii)
        .collect().map(r => r.getLong(0) -> r).toMap
    val on = run(Some(rp), pii = false)
    assert(on(1L).getString(2) == "rule_filtered")
    assert(on(2L).getString(2) == "exact_dup")     // exact dedup precedes the gate
    assert(on(3L).getString(2) == "rule_filtered") // gate fires before near-dup
    assert(on(0L).getString(2) == "kept" && on(4L).getString(2) == "kept")
    val off = run(None, pii = false)
    assert(off.values.forall(_.getString(2) != "rule_filtered"))
    assert(off(3L).getString(2) == "near_dup")     // without the gate it pairs with 0
    // repetition tier in the GATE: a spammy doc passes the 11 core rules
    // but trips the top-2-gram char fraction once the tier is enabled
    val spam = Seq((9L, "s9", "the buy now buy now buy now buy now buy now ok."))
      .toDF("doc_id", "source", "text")
    val emb9 = Seq(9L -> { val v = Array.fill(8)(0.0f); v(7) = 1.0f; v })
      .toDF("vec_id", "embedding")
    def runSpam(p: operators.QualityFilters.RuleParams) =
      operators.Pipeline.curateFull(spam, emb9, "doc_id", "text", "source",
          semK = 1, tokenBudget = 1000L, ruleParams = Some(p))
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(runSpam(rp)(9L) == "kept")
    assert(runSpam(rp.copy(checkRepetition = true))(9L) == "rule_filtered")
    // PII flag: decisions identical; only the PII doc's released md5 moves
    val red = run(Some(rp), pii = true)
    assert(on.keys.forall(k => on(k).getString(2) == red(k).getString(2)))
    assert(red(0L).getString(5) == on(0L).getString(5))
    assert(red(4L).getString(5) != on(4L).getString(5))
    // incremental: released cleaned text is scrubbed, originals never leak
    val inc = operators.Pipeline.curateIncremental(
        corpus.filter(col("doc_id") === 0L), corpus.filter(col("doc_id") === 4L),
        emb, "doc_id", "text", semK = 2, keepCleanedText = true,
        centroids = Some(Array(Array.tabulate(8)(i => if (i == 0) 1.0 else 0.0))),
        piiRedactOutput = true)
      .filter(col("decision") === "kept").select("cleaned_text").collect()
    assert(inc.nonEmpty)
    val txt = inc.head.getString(0)
    assert(txt.contains("<EMAIL>") && txt.contains("<IP>") &&
      !txt.contains("@example.com"), txt)
  }

  test("videoDupSegmentsCross: closed-form scene fixture, history never drops") {
    val spark2 = spark
    import spark2.implicits._
    // left (history) ids {0, 7} (same residue class), right (batch) ids
    // {1, 7+7=14? keep <: } — use residues: cross segments exist iff
    // (right - left) mod 7 == 0 at minFrames=6 (identical sequences)
    val hist = operators.VideoOps.sceneVideoTable(Seq(0L, 3L).toDF("doc_id"))
    val bat = operators.VideoOps.sceneVideoTable(Seq(7L, 10L, 12L).toDF("doc_id"))
    val segs = operators.VideoOps.videoDupSegmentsCross(hist, bat,
        container = operators.Mp4Container, minFrames = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    // 7 ≡ 0 and 10 ≡ 3 (mod 7) share all 6 frames; 12 ≡ 5 matches nothing
    assert(segs == Set((0L, 7L, 6L), (3L, 10L, 6L)), segs.toString)
    // at minFrames=4 the |delta| <= 2 diagonals appear too (6-|d| >= 4)
    val segs4 = operators.VideoOps.videoDupSegmentsCross(hist, bat,
        container = operators.Mp4Container, minFrames = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(segs4.contains((0L, 12L, 4L)), segs4.toString) // delta 5 ≡ -2: 4 shared
    assert(segs4((0L, 7L, 6L)) || segs4.contains((0L, 7L, 6L)))
  }
}

