package graft

/** Per-family behavioral tests mirroring the reference sqllogictest corpus
  * (FIXTURES.md): golden values where deterministic, range assertions for
  * error-bounded results, empty/NULL semantics, merge matrices,
  * persistence round-trips. */
class FamiliesSpec extends SparkTestBase {

  private def viewRange(name: String, lo: Int, hi: Int, asDouble: Boolean = true): Unit = {
    val castExpr = if (asDouble) "CAST(id AS DOUBLE)" else "id"
    spark.range(lo, hi + 1).selectExpr(s"$castExpr AS v").createOrReplaceTempView(name)
  }

  // ---- quantile families: shared merge/overlap matrices -------------------

  test("kll merge of 3 partitions preserves n/min/max (kll.test:121-168)") {
    spark.range(1, 901)
      .selectExpr("CAST(id AS DOUBLE) AS value", "CAST(id % 3 AS INT) AS partition_id")
      .createOrReplaceTempView("merge_data")
    sql("""CREATE OR REPLACE TEMP VIEW partition_sketches AS
          |SELECT partition_id, datasketch_kll(32, value) AS sketch
          |FROM merge_data GROUP BY partition_id""".stripMargin)
    val r = sql(
      """SELECT datasketch_kll_n(m), datasketch_kll_min_item(m), datasketch_kll_max_item(m),
        |       datasketch_kll_rank(m, 450.0, true) BETWEEN 0.40 AND 0.60
        |FROM (SELECT datasketch_kll(32, sketch) AS m FROM partition_sketches)""".stripMargin).head()
    assert(r.getLong(0) == 900L && r.getDouble(1) == 1.0 && r.getDouble(2) == 900.0)
    assert(r.getBoolean(3))
  }

  test("kll overlapping-range merge (kll.test:171-200)") {
    viewRange("g1", 1, 500)
    viewRange("g2", 250, 750)
    val r = sql(
      """SELECT datasketch_kll_n(datasketch_kll(64, s)),
        |       datasketch_kll_min_item(datasketch_kll(64, s)),
        |       datasketch_kll_max_item(datasketch_kll(64, s))
        |FROM (SELECT datasketch_kll(64, v) AS s FROM g1
        |      UNION ALL SELECT datasketch_kll(64, v) FROM g2)""".stripMargin).head()
    assert(r.getLong(0) == 1001L && r.getDouble(1) == 1.0 && r.getDouble(2) == 750.0)
  }

  test("mixed-K sketches merge legally (kll.test:203-214)") {
    viewRange("r1", 1, 100)
    val r = sql(
      """SELECT datasketch_kll_n(datasketch_kll(16, s))
        |FROM (SELECT datasketch_kll(16, v) AS s FROM r1
        |      UNION ALL SELECT datasketch_kll(64, v) FROM r1)""".stripMargin).head()
    assert(r.getLong(0) == 200L)
  }

  test("quantiles/req/tdigest empty input → NULL; theta/freq → non-NULL empty") {
    sql("SELECT CAST(1.0 AS DOUBLE) AS v WHERE false").createOrReplaceTempView("empty_t")
    val r = sql(
      """SELECT datasketch_quantiles(128, v), datasketch_kll(128, v),
        |       datasketch_req(12, CAST(v AS FLOAT)), datasketch_tdigest(100, v),
        |       datasketch_hll(12, v), datasketch_cpc(12, v),
        |       datasketch_theta(v), datasketch_frequent_items(CAST(v AS STRING))
        |FROM empty_t""".stripMargin).head()
    (0 to 5).foreach(i => assert(r.isNullAt(i), s"family $i should be NULL on empty input"))
    assert(!r.isNullAt(6) && !r.isNullAt(7))
    val probes = sql(
      """SELECT datasketch_theta_estimate(datasketch_theta(v)),
        |       datasketch_frequent_items_num_active(datasketch_frequent_items(CAST(v AS STRING))),
        |       datasketch_frequent_items_is_empty(datasketch_frequent_items(CAST(v AS STRING)))
        |FROM empty_t""".stripMargin).head()
    assert(probes.getDouble(0) == 0.0 && probes.getLong(1) == 0L && probes.getBoolean(2))
  }

  test("NULL values are skipped, all-NULL behaves as empty (theta.test:159-191)") {
    sql("SELECT * FROM VALUES (1), (NULL), (2), (NULL), (3) t(id)")
      .createOrReplaceTempView("with_nulls")
    assert(sql("SELECT CAST(datasketch_theta_estimate(datasketch_theta(id)) AS INT) FROM with_nulls")
      .head().getInt(0) == 3)
    sql("SELECT CAST(NULL AS INT) AS id FROM range(3)").createOrReplaceTempView("all_nulls")
    assert(sql("SELECT CAST(datasketch_theta_estimate(datasketch_theta(id)) AS INT) FROM all_nulls")
      .head().getInt(0) == 0)
    assert(sql("SELECT datasketch_hll(12, id) FROM all_nulls").head().isNullAt(0))
  }

  test("theta special strings incl. emoji (theta.test:367-383)") {
    // DIVERGENCE (documented in README): datasketches-java ignores empty
    // strings in hash-based sketch updates (update(String) javadoc), while
    // the C++ reference counts '' as a distinct value → 4 here, 5 there.
    // No public Java API can inject the empty-string hash.
    sql("""SELECT * FROM VALUES ('hello'), ('world'), ('hello world'),
          |('emoji 🎉'), (''), ('hello') t(s)""".stripMargin)
      .createOrReplaceTempView("special_strings")
    val est = sql(
      "SELECT CAST(datasketch_theta_estimate(datasketch_theta(s)) AS INT) FROM special_strings")
      .head().getInt(0)
    assert(est == 4)
  }

  test("theta bigint extremes (theta.test:351-364)") {
    sql(s"""SELECT * FROM VALUES (${Long.MaxValue}L), (${Long.MaxValue - 1}L),
           |(${Long.MinValue}L), (${Long.MaxValue}L) t(v)""".stripMargin)
      .createOrReplaceTempView("bigints")
    assert(sql("SELECT CAST(datasketch_theta_estimate(datasketch_theta(v)) AS INT) FROM bigints")
      .head().getInt(0) == 3)
  }

  test("theta single item / many dupes estimate 1 (theta.test:197-215)") {
    assert(sql("SELECT CAST(datasketch_theta_estimate(datasketch_theta(42)) AS INT)")
      .head().getInt(0) == 1)
    sql("SELECT 42 AS id FROM range(10000)").createOrReplaceTempView("many_dupes")
    assert(sql("SELECT CAST(datasketch_theta_estimate(datasketch_theta(id)) AS INT) FROM many_dupes")
      .head().getInt(0) == 1)
  }

  test("theta set-op identities: commutativity, chaining (theta.test:258-295)") {
    viewRange("sa", 1, 5, asDouble = false)
    viewRange("sb", 4, 8, asDouble = false)
    viewRange("sc", 1, 3, asDouble = false)
    sql("""CREATE OR REPLACE TEMP VIEW tsk AS
          |SELECT (SELECT datasketch_theta(v) FROM sa) a,
          |       (SELECT datasketch_theta(v) FROM sb) b,
          |       (SELECT datasketch_theta(v) FROM sc) c""".stripMargin)
    val r = sql(
      """SELECT CAST(datasketch_theta_estimate(datasketch_theta_union(a, b)) AS INT),
        |       CAST(datasketch_theta_estimate(datasketch_theta_union(b, a)) AS INT),
        |       CAST(datasketch_theta_estimate(datasketch_theta_intersect(datasketch_theta_union(a, b), c)) AS INT),
        |       CAST(datasketch_theta_estimate(datasketch_theta_a_not_b(a, a)) AS INT)
        |FROM tsk""".stripMargin).head()
    assert(r.getInt(0) == 8 && r.getInt(1) == 8) // commutative
    assert(r.getInt(2) == 3)                     // (A∪B)∩C = {1,2,3}
    assert(r.getInt(3) == 0)                     // A∖A = ∅
  }

  test("theta bounds widen with std-dev and cover truth (theta.test:505-532)") {
    spark.range(0, 100000).selectExpr("id AS i").createOrReplaceTempView("large")
    val r = sql(
      """SELECT datasketch_theta_lower_bound(s, 3) <= 100000 AND datasketch_theta_upper_bound(s, 3) >= 100000,
        |       datasketch_theta_lower_bound(s, 2) <= datasketch_theta_lower_bound(s, 1),
        |       datasketch_theta_upper_bound(s, 3) >= datasketch_theta_upper_bound(s, 2),
        |       datasketch_theta_is_estimation_mode(s),
        |       datasketch_theta_get_theta(s) < 1.0
        |FROM (SELECT datasketch_theta(i) AS s FROM large)""".stripMargin).head()
    (0 to 4).foreach(i => assert(r.getBoolean(i), s"cond $i"))
  }

  test("hll union across groups matches direct sketch (hll.test:110-190)") {
    spark.range(0, 50000).selectExpr("id AS i", "id % 10 AS g").createOrReplaceTempView("pt")
    val r = sql(
      """SELECT abs(datasketch_hll_estimate(datasketch_hll_union(12, s)) -
        |           (SELECT datasketch_hll_estimate(datasketch_hll(12, i)) FROM pt)) < 0.0001
        |FROM (SELECT g, datasketch_hll(12, i) AS s FROM pt GROUP BY g)""".stripMargin).head()
    assert(r.getBoolean(0), "two-level union must equal single-pass sketch")
  }

  test("hll estimate bands at lg_k=4 (hll.test:48-52)") {
    spark.range(0, 100000).createOrReplaceTempView("items100k")
    val est = sql("SELECT datasketch_hll_estimate(datasketch_hll(4, id)) FROM items100k")
      .head().getDouble(0)
    assert(est > 75000 && est < 175000)
  }

  test("cpc order-insensitive ingestion (cpc.test:26-33)") {
    spark.range(0, 10000).selectExpr("id").createOrReplaceTempView("seq_in")
    val a = sql("SELECT datasketch_cpc_estimate(datasketch_cpc(11, id)) FROM seq_in").head().getDouble(0)
    spark.range(0, 10000).selectExpr("id").orderBy(org.apache.spark.sql.functions.rand(7))
      .createOrReplaceTempView("rand_in")
    val b = sql("SELECT datasketch_cpc_estimate(datasketch_cpc(11, id)) FROM rand_in").head().getDouble(0)
    assert(a == b, "cpc estimate must not depend on ingestion order")
  }

  test("frequent items purge keeps heavy hitter (frequent.test:120-164)") {
    // 2000 distinct light items + one item at weight 500, tiny map (lg_k=5)
    sql("""SELECT CASE WHEN id % 5 = 0 THEN 'heavy_hitter' ELSE concat('light_', id) END AS s
          |FROM range(2500)""".stripMargin).createOrReplaceTempView("stream_in")
    val rows = sql(
      """SELECT f.item FROM (
        |  SELECT explode(datasketch_frequent_items_get_frequent(
        |    datasketch_frequent_items(5, s), 'NO_FALSE_POSITIVES')) AS f
        |  FROM stream_in)""".stripMargin).collect().map(_.getString(0))
    assert(rows.contains("heavy_hitter"))
    // NO_FALSE_NEGATIVES returns a superset
    val nfnCount = sql(
      """SELECT size(datasketch_frequent_items_get_frequent(
        |  datasketch_frequent_items(5, s), 'NO_FALSE_NEGATIVES'))
        |FROM stream_in""".stripMargin).head().getInt(0)
    val nfpCount = sql(
      """SELECT size(datasketch_frequent_items_get_frequent(
        |  datasketch_frequent_items(5, s), 'NO_FALSE_POSITIVES'))
        |FROM stream_in""".stripMargin).head().getInt(0)
    assert(nfnCount >= nfpCount)
  }

  test("frequent items merge of partials (frequent.test:84-119)") {
    sql("""SELECT CASE WHEN id < 3 THEN 'apple' WHEN id < 5 THEN 'banana' ELSE 'cherry' END AS s,
          |CAST(id % 2 AS INT) AS p FROM range(6)""".stripMargin)
      .createOrReplaceTempView("fruit_parts")
    val r = sql(
      """SELECT datasketch_frequent_items_estimate(m, 'apple'),
        |       datasketch_frequent_items_estimate(m, 'banana'),
        |       datasketch_frequent_items_estimate(m, 'cherry')
        |FROM (SELECT datasketch_frequent_items(sk) AS m
        |      FROM (SELECT p, datasketch_frequent_items(s) AS sk FROM fruit_parts GROUP BY p))""".stripMargin)
      .head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L && r.getLong(2) == 1L)
  }

  test("persistence round-trip through parquet (theta.test:474-503, kll.test:56-78)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rt").toString
    try {
      viewRange("persist_in", 1, 1000)
      sql("""SELECT 'A' AS name, datasketch_theta(v) AS data,
            |datasketch_kll(64, v) AS ksk FROM persist_in""".stripMargin)
        .write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir).createOrReplaceTempView("persisted")
      val r = sql(
        """SELECT CAST(datasketch_theta_estimate(data) AS INT),
          |       datasketch_kll_n(ksk), datasketch_kll_min_item(ksk)
          |FROM persisted WHERE name = 'A'""".stripMargin).head()
      assert(r.getInt(0) == 1000 && r.getLong(1) == 1000L && r.getDouble(2) == 1.0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("as_sketch metadata drives element-type dispatch through parquet") {
    // The reference's named alias types carry the element type; our analog
    // is column metadata written by as_sketch — verify it survives a
    // parquet round-trip and binds the LONG probe path without an explicit
    // trailing tag (wrong dispatch would reinterpret long bits as doubles).
    val dir = java.nio.file.Files.createTempDirectory("graft_md").toString
    try {
      spark.range(1, 1001).selectExpr("id AS v").createOrReplaceTempView("md_in")
      // k=2048 > n keeps the sketch in exact mode: KLL compaction offsets are
      // randomized, so a compacted sketch's median is only *near* 500.
      val sk = sql("SELECT datasketch_kll(2048, v) AS raw FROM md_in")
        .select(graft.functions.as_sketch(
          org.apache.spark.sql.functions.col("raw"), "sk", "kll", "long"))
      sk.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir).createOrReplaceTempView("md_persisted")
      val r = sql(
        """SELECT datasketch_kll_quantile(sk, 0.5, true) AS q50,
          |       datasketch_kll_max_item(sk) AS mx
          |FROM md_persisted""".stripMargin).head()
      assert(r.getLong(0) == 500L && r.getLong(1) == 1000L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("sketch aggregates work as window functions (free via Spark)") {
    spark.range(0, 100).selectExpr("id % 4 AS g", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("wt")
    val r = sql(
      """SELECT DISTINCT g, datasketch_kll_n(datasketch_kll(64, v) OVER (PARTITION BY g)) AS n
        |FROM wt ORDER BY g""".stripMargin).collect()
    assert(r.length == 4 && r.forall(_.getLong(1) == 25L))
  }

  test("req merge matrix: partitioned sketches converge (req.test:116-276 pattern)") {
    spark.range(1, 901)
      .selectExpr("CAST(id AS FLOAT) AS value", "CAST(id % 3 AS INT) AS p")
      .createOrReplaceTempView("req_md")
    val r = sql(
      """SELECT datasketch_req_n(m), datasketch_req_min_item(m), datasketch_req_max_item(m),
        |       datasketch_req_rank(m, 450.0, true) BETWEEN 0.45 AND 0.55
        |FROM (SELECT datasketch_req(64, s) AS m
        |      FROM (SELECT p, datasketch_req(64, value) AS s FROM req_md GROUP BY p))""".stripMargin)
      .head()
    assert(r.getLong(0) == 900L && r.getFloat(1) == 1.0f && r.getFloat(2) == 900.0f)
    assert(r.getBoolean(3))
  }

  test("tdigest merge matrix: partitioned digests preserve weight and endpoints") {
    spark.range(1, 901)
      .selectExpr("CAST(id AS DOUBLE) AS value", "CAST(id % 4 AS INT) AS p")
      .createOrReplaceTempView("td_md")
    val r = sql(
      """SELECT datasketch_tdigest_total_weight(m),
        |       datasketch_tdigest_quantile(m, 0.0), datasketch_tdigest_quantile(m, 1.0),
        |       datasketch_tdigest_rank(m, 450.0) BETWEEN 0.45 AND 0.55
        |FROM (SELECT datasketch_tdigest(100, s) AS m
        |      FROM (SELECT p, datasketch_tdigest(100, value) AS s FROM td_md GROUP BY p))""".stripMargin)
      .head()
    assert(r.getLong(0) == 900L && r.getDouble(1) == 1.0 && r.getDouble(2) == 900.0)
    assert(r.getBoolean(3))
  }

  test("quantiles merge matrix: classic doubles union (quantiles.test pattern)") {
    spark.range(1, 1002)
      .selectExpr("CAST(id AS DOUBLE) AS value", "CAST(id % 5 AS INT) AS p")
      .createOrReplaceTempView("q_md")
    val r = sql(
      """SELECT datasketch_quantiles_n(m), datasketch_quantiles_min_item(m),
        |       datasketch_quantiles_max_item(m),
        |       datasketch_quantiles_quantile(m, 0.5, true) BETWEEN 450.0 AND 550.0
        |FROM (SELECT datasketch_quantiles(128, s) AS m
        |      FROM (SELECT p, datasketch_quantiles(128, value) AS s FROM q_md GROUP BY p))""".stripMargin)
      .head()
    assert(r.getLong(0) == 1001L && r.getDouble(1) == 1.0 && r.getDouble(2) == 1001.0)
    assert(r.getBoolean(3))
  }

  test("kll cdf/pmf arrays sum and bound correctly in exact mode") {
    spark.range(1, 1001).selectExpr("CAST(id AS DOUBLE) AS v").createOrReplaceTempView("cdf_t")
    val r = sql(
      """SELECT datasketch_kll_cdf(sk, array(250.0D, 500.0D, 750.0D), true) AS cdf,
        |       datasketch_kll_pmf(sk, array(250.0D, 500.0D, 750.0D), true) AS pmf
        |FROM (SELECT datasketch_kll(2048, v) AS sk FROM cdf_t)""".stripMargin).head()
    val cdf = r.getSeq[Double](0); val pmf = r.getSeq[Double](1)
    assert(cdf == Seq(0.25, 0.5, 0.75, 1.0), s"exact-mode cdf: $cdf")
    assert(pmf == Seq(0.25, 0.25, 0.25, 0.25), s"exact-mode pmf: $pmf")
  }

  test("req rank accuracy band at K=12 (req.test pattern)") {
    viewRange("reqr", 1, 10000)
    val r = sql(
      """SELECT datasketch_req_rank(datasketch_req(12, CAST(v AS FLOAT)), 5000.0, true)
        |FROM reqr""".stripMargin).head().getDouble(0)
    assert(r > 0.45 && r < 0.55)
  }

  test("tdigest grouped medians are within band (tdigest.test pattern)") {
    spark.range(1, 301).selectExpr(
      "CASE WHEN id <= 100 THEN 'A' WHEN id <= 200 THEN 'B' ELSE 'C' END AS cat",
      "CAST(id AS DOUBLE) AS v").createOrReplaceTempView("td_groups")
    val rows = sql(
      """SELECT cat, datasketch_tdigest_quantile(datasketch_tdigest(100, v), 0.5) AS med
        |FROM td_groups GROUP BY cat ORDER BY cat""".stripMargin).collect()
    assert(rows(0).getDouble(1) > 40 && rows(0).getDouble(1) < 60)
    assert(rows(1).getDouble(1) > 140 && rows(1).getDouble(1) < 160)
    assert(rows(2).getDouble(1) > 240 && rows(2).getDouble(1) < 260)
  }

  test("sort-based aggregation fallback produces identical sketches") {
    // At extreme group cardinality ObjectHashAggregate spills to sort-based
    // aggregation, which round-trips buffers through serialize/deserialize
    // far more aggressively. Force the fallback and compare against the
    // hash path — results must be identical (deterministic families).
    spark.range(0, 20000)
      .selectExpr("id % 997 AS g", "id AS v", "CAST(id AS DOUBLE) AS d")
      .createOrReplaceTempView("fb_t")
    def run(): Array[org.apache.spark.sql.Row] = sql(
      """SELECT g, CAST(round(datasketch_theta_estimate(datasketch_theta(v))) AS BIGINT) AS t,
        |       datasketch_kll_n(datasketch_kll(64, d)) AS n,
        |       datasketch_frequent_items_total_weight(datasketch_frequent_items(v)) AS w
        |FROM fb_t GROUP BY g ORDER BY g""".stripMargin).collect()
    val orig = spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "128")
    val hash = run()
    try {
      spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2")
      val sorted = run()
      assert(hash.toSeq == sorted.toSeq,
        "sort-based fallback must produce identical sketch results")
    } finally spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", orig)
  }

  test("high-cardinality natural fallback ≡ pure hash path (100k groups)") {
    // q23's production regime at scale: with the default 128-entry
    // threshold every partition of a 100k-group aggregate leaves the hash
    // path and streams sort-based, round-tripping every sketch buffer
    // through serialize/update cycles under memory pressure. Parity pin:
    // natural fallback (default conf) ≡ pure hash (threshold lifted above
    // the group count), checksummed across all groups.
    spark.range(0, 1000000)
      .selectExpr("id % 100000 AS g", "id AS v", "CAST(id % 1000 AS DOUBLE) AS d")
      .createOrReplaceTempView("fb_hc")
    def checksum(): org.apache.spark.sql.Row = sql(
      """SELECT count(*) AS groups,
        |       sum(CAST(round(datasketch_theta_estimate(t)) AS BIGINT)) AS t_sum,
        |       sum(datasketch_kll_n(k)) AS n_sum,
        |       bit_xor(xxhash64(t)) AS t_bytes, bit_xor(xxhash64(k)) AS k_bytes
        |FROM (SELECT g, datasketch_theta(v) AS t, datasketch_kll(64, d) AS k
        |      FROM fb_hc GROUP BY g)""".stripMargin).head()
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val orig = spark.conf.get(key, "128")
    val natural = checksum() // default threshold: sort-based fallback engaged
    try {
      spark.conf.set(key, "10000000") // pure hash path, no fallback
      assert(checksum() == natural,
        "natural sort-based fallback must equal the pure hash path at 100k groups")
    } finally spark.conf.set(key, orig)
  }

  test("frequent items canonicalizes NaN/±Inf keys like C (%f) formatting") {
    sql("""SELECT * FROM VALUES (CAST('NaN' AS DOUBLE)), (CAST('Infinity' AS DOUBLE)),
          |(CAST('-Infinity' AS DOUBLE)), (CAST('NaN' AS DOUBLE)) t(d)""".stripMargin)
      .createOrReplaceTempView("nonfinite")
    val rows = sql(
      """SELECT f.item, f.estimate FROM (
        |  SELECT explode(datasketch_frequent_items_get_frequent(
        |    datasketch_frequent_items(d))) AS f FROM nonfinite)
        |ORDER BY f.estimate DESC, f.item""".stripMargin).collect()
    val keys = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(keys == Map("nan" -> 2L, "inf" -> 1L, "-inf" -> 1L),
      s"non-finite keys must match C %f text, got $keys")
    // probe path applies the same canonicalization
    val probe = sql(
      """SELECT datasketch_frequent_items_estimate(
        |  datasketch_frequent_items(d), CAST('NaN' AS DOUBLE)) FROM nonfinite""".stripMargin)
      .head().getLong(0)
    assert(probe == 2L)
  }

  test("named stored sketches + scalar subqueries + cross join (theta.test:64-80)") {
    viewRange("ss_a", 1, 5, asDouble = false)
    viewRange("ss_b", 4, 8, asDouble = false)
    sql("""CREATE OR REPLACE TEMP VIEW named_sketches AS
          |SELECT 'A' AS name, (SELECT datasketch_theta(v) FROM ss_a) AS data
          |UNION ALL
          |SELECT 'B', (SELECT datasketch_theta(v) FROM ss_b)""".stripMargin)
    // scalar subquery lookup by name
    val est = sql(
      """SELECT CAST(datasketch_theta_estimate(
        |  (SELECT data FROM named_sketches WHERE name = 'A')) AS INT)""".stripMargin)
      .head().getInt(0)
    assert(est == 5)
    // cross join of stored sketches for pairwise set ops
    val cross = sql(
      """SELECT x.name, y.name,
        |       CAST(datasketch_theta_estimate(datasketch_theta_intersect(x.data, y.data)) AS INT) AS i
        |FROM named_sketches x CROSS JOIN named_sketches y
        |WHERE x.name < y.name""".stripMargin).head()
    assert(cross.getInt(2) == 2) // {4,5}
  }

  test("dedup use case: distinct sessions/users per page (theta.test:700-838)") {
    sql("""SELECT * FROM VALUES
          |('s1', 100, '/home'), ('s1', 100, '/home'), ('s2', 100, '/search'),
          |('s3', 200, '/home'), ('s2', 100, '/home'), ('s4', 300, '/search'),
          |('s1', 100, '/search') t(session_id, user_id, page)""".stripMargin)
      .createOrReplaceTempView("raw_events")
    val rows = sql(
      """SELECT page,
        |       CAST(round(datasketch_theta_estimate(datasketch_theta(session_id))) AS BIGINT) AS sessions,
        |       CAST(round(datasketch_theta_estimate(datasketch_theta(user_id))) AS BIGINT) AS users
        |FROM raw_events GROUP BY page ORDER BY page""".stripMargin).collect()
    assert(rows(0).getString(0) == "/home" && rows(0).getLong(1) == 3L && rows(0).getLong(2) == 2L)
    assert(rows(1).getString(0) == "/search" && rows(1).getLong(1) == 3L && rows(1).getLong(2) == 2L)
    // overall dedup across pages via re-aggregation of the grouped sketches
    val total = sql(
      """SELECT CAST(round(datasketch_theta_estimate(datasketch_theta(s))) AS BIGINT)
        |FROM (SELECT page, datasketch_theta(session_id) AS s FROM raw_events GROUP BY page)""".stripMargin)
      .head().getLong(0)
    assert(total == 4L)
  }

  test("ubigint lane: true unsigned order across 2^63, exact values back as DECIMAL(20,0)") {
    // values straddling the signed-long boundary: unsigned order is
    // 1 < 2^63-1 < 2^63 < 2^64-1 — a signed lane would sort the top two
    // BELOW the bottom two (the pre-r15 widening deviation)
    val r = sql(
      """WITH v AS (SELECT CAST(u AS DECIMAL(20,0)) AS u FROM VALUES
        |  ('18446744073709551615'), ('9223372036854775808'),
        |  ('9223372036854775807'), ('1') AS t(u))
        |SELECT CAST(datasketch_kll_min_item(datasketch_kll(200, u)) AS STRING),
        |       CAST(datasketch_kll_max_item(datasketch_kll(200, u)) AS STRING),
        |       CAST(datasketch_kll_quantile(datasketch_kll(200, u), 0.5, true) AS STRING),
        |       CAST(datasketch_quantiles_max_item(datasketch_quantiles(128, u)) AS STRING)
        |FROM v""".stripMargin).head()
    assert(r.getString(0) == "1")
    assert(r.getString(1) == "18446744073709551615")
    assert(r.getString(2) == "9223372036854775807") // inclusive median of 4
    assert(r.getString(3) == "18446744073709551615")
  }

  test("ubigint lane: out-of-range values fail with the range in the error") {
    val e = intercept[Exception] {
      sql("""SELECT datasketch_kll(200, CAST(-1 AS DECIMAL(20,0)))""").collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("UBIGINT range"))), e.getMessage)
  }

  test("items-lane quantiles blobs re-merge (ordered-compact serialization, r15 fix)") {
    // long and float classic-quantiles lanes: two-level GROUP BY merge used
    // to fail at deserialization because blobs were written unordered
    spark.range(100).createOrReplaceTempView("r100")
    val r = sql(
      """WITH g AS (SELECT id % 4 AS grp, datasketch_quantiles(128, id) AS lk,
        |                  datasketch_quantiles(128, CAST(id AS FLOAT)) AS fk
        |           FROM r100 GROUP BY id % 4)
        |SELECT datasketch_quantiles_n(datasketch_quantiles(128, lk, 'long')) AS ln,
        |       datasketch_quantiles_max_item(datasketch_quantiles(128, lk, 'long'), 'long') AS lmx,
        |       datasketch_quantiles_n(datasketch_quantiles(128, fk, 'float')) AS fn
        |FROM g""".stripMargin).head()
    assert(r.getLong(0) == 100L && r.getLong(1) == 99L && r.getLong(2) == 100L)
  }

  test("quantiles golden single-value bytes (quantiles.test:14-17 analog)") {
    // single-value sketches are deterministic; pin the round-trip instead of
    // raw bytes (Java classic-quantiles layout legally differs from C++)
    val r = sql(
      """SELECT datasketch_quantiles_n(datasketch_quantiles(16, CAST(5.0 AS DOUBLE))),
        |       datasketch_quantiles_quantile(datasketch_quantiles(16, CAST(5.0 AS DOUBLE)), 0.5, true)""".stripMargin)
      .head()
    assert(r.getLong(0) == 1L && r.getDouble(1) == 5.0)
  }
}
