package graft

/** End-to-end smoke over the registered SQL surface, pinned to the
  * reference's golden-byte tests where deterministic. */
class SmokeSpec extends SparkTestBase {

  test("hll golden bytes match the reference (datasketch_hll.test:14-17)") {
    val bytes = sql("SELECT datasketch_hll(8, 5) AS s").head().getAs[Array[Byte]](0)
    assert(duckHex(bytes) ==
      "\\x02\\x01\\x07\\x08\\x03\\x00\\x01\\x00{e\\xE6\\x08" + "\\x00" * 28)
  }

  test("cpc is cross-readable with the reference bytes (datasketch_cpc.test:15-18)") {
    // Byte layouts differ legally (C++ writes the HIP preamble, Java the
    // short form) — the spec guarantees cross-READABILITY. Assert both
    // directions: our blob and the reference's C++ golden blob decode to
    // identical estimates in datasketches-java.
    import org.apache.datasketches.cpc.CpcSketch
    import org.apache.datasketches.memory.Memory
    val ours = sql("SELECT datasketch_cpc(8, 5) AS s").head().getAs[Array[Byte]](0)
    val cppGolden: Array[Byte] = Array(
      0x08, 0x01, 0x10, 0x08, 0x00, 0x0E, 0xCC, 0x93, 0x01, 0x00, 0x00, 0x00,
      0x01, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xF8, 0x6F, 0x40,
      0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xF0, 0x3F, 0xDD, 0x03, 0x00, 0x00)
      .map(_.toByte)
    val a = CpcSketch.heapify(Memory.wrap(ours))
    val b = CpcSketch.heapify(Memory.wrap(cppGolden))
    assert(a.getEstimate == b.getEstimate)
    assert(a.getLgK == 8 && b.getLgK == 8)
    assert(math.round(a.getEstimate) == 1L)
  }

  test("kll golden bytes (float) match the reference (datasketch_kll.test:14-17)") {
    val bytes = sql("SELECT datasketch_kll(16, CAST(5.0 AS FLOAT)) AS s").head().getAs[Array[Byte]](0)
    assert(duckHex(bytes) == "\\x02\\x02\\x0F\\x04\\x10\\x00\\x08\\x00\\x00\\x00\\xA0@")
  }

  test("kll build + probes on 1..1000") {
    spark.range(1, 1001).selectExpr("CAST(id AS DOUBLE) AS temp").createOrReplaceTempView("readings")
    val r = sql(
      """SELECT datasketch_kll_rank(s, 500.0, true) AS rk,
        |       datasketch_kll_quantile(s, 0.5, true) AS q,
        |       datasketch_kll_n(s) AS n,
        |       datasketch_kll_min_item(s) AS mn,
        |       datasketch_kll_max_item(s) AS mx,
        |       datasketch_kll_k(s) AS k,
        |       datasketch_kll_is_empty(s) AS emp
        |FROM (SELECT datasketch_kll(200, temp) AS s FROM readings)""".stripMargin).head()
    assert(r.getDouble(0) > 0.4 && r.getDouble(0) < 0.6)
    assert(r.getDouble(1) > 400 && r.getDouble(1) < 600)
    assert(r.getLong(2) == 1000L)
    assert(r.getDouble(3) == 1.0)
    assert(r.getDouble(4) == 1000.0)
    assert(r.getInt(5) == 200)
    assert(!r.getBoolean(6))
  }

  test("theta distinct count + set algebra exact on small sets") {
    sql("SELECT * FROM VALUES (1),(2),(3),(3),(4),(5) t(i)").createOrReplaceTempView("si")
    val est = sql(
      "SELECT CAST(datasketch_theta_estimate(datasketch_theta(i)) AS INT) AS e FROM si").head().getInt(0)
    assert(est == 5)
    // set_a {1..5}, set_b {4..8}: ∩=2, a∖b=3, ∪=8
    sql("SELECT explode(sequence(1,5)) AS i").createOrReplaceTempView("set_a")
    sql("SELECT explode(sequence(4,8)) AS i").createOrReplaceTempView("set_b")
    val r = sql(
      """SELECT CAST(datasketch_theta_estimate(datasketch_theta_union(a.s, b.s)) AS INT) AS u,
        |       CAST(datasketch_theta_estimate(datasketch_theta_intersect(a.s, b.s)) AS INT) AS x,
        |       CAST(datasketch_theta_estimate(datasketch_theta_a_not_b(a.s, b.s)) AS INT) AS d,
        |       datasketch_theta_get_seed(a.s) AS seed
        |FROM (SELECT datasketch_theta(i) AS s FROM set_a) a,
        |     (SELECT datasketch_theta(i) AS s FROM set_b) b""".stripMargin).head()
    assert(r.getInt(0) == 8 && r.getInt(1) == 2 && r.getInt(2) == 3)
    assert(r.getLong(3) == 37836L)
  }

  test("theta empty input yields empty sketch with estimate 0") {
    val r = sql(
      """SELECT datasketch_theta_estimate(datasketch_theta(i)) AS e,
        |       datasketch_theta_is_empty(datasketch_theta(i)) AS emp
        |FROM (SELECT * FROM VALUES (1) t(i) WHERE i < 0)""".stripMargin).head()
    assert(r.getDouble(0) == 0.0 && r.getBoolean(1))
  }

  test("hll/cpc empty input yields NULL") {
    val r = sql(
      """SELECT datasketch_hll(12, i) AS h, datasketch_cpc(12, i) AS c
        |FROM (SELECT * FROM VALUES (1) t(i) WHERE i < 0)""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("frequent items exact mode + canonicalization") {
    sql("SELECT * FROM VALUES ('a'),('a'),('a'),('b'),('b'),('c') t(s)")
      .createOrReplaceTempView("fi")
    val r = sql(
      """SELECT datasketch_frequent_items_estimate(sk, 'a') AS ea,
        |       datasketch_frequent_items_estimate(sk, 'b') AS eb,
        |       datasketch_frequent_items_total_weight(sk) AS tw,
        |       datasketch_frequent_items_num_active(sk) AS na,
        |       datasketch_frequent_items_epsilon(sk) AS eps
        |FROM (SELECT datasketch_frequent_items(s) AS sk FROM fi)""".stripMargin).head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L && r.getLong(2) == 6L && r.getLong(3) == 3L)
    assert(r.getDouble(4) == 0.00341796875)
    // double keys canonicalize via C %f: 9.99 → "9.990000"
    sql("SELECT CAST(9.99 AS DOUBLE) AS d FROM range(4)").createOrReplaceTempView("fd")
    val est = sql(
      """SELECT datasketch_frequent_items_estimate(sk, CAST(9.99 AS DOUBLE)) AS e
        |FROM (SELECT datasketch_frequent_items(d) AS sk FROM fd)""".stripMargin).head().getLong(0)
    assert(est == 4L)
  }

  test("get_frequent returns LIST(STRUCT) ordered by estimate") {
    sql("SELECT * FROM VALUES ('x'),('x'),('x'),('y') t(s)").createOrReplaceTempView("gf")
    val rows = sql(
      """SELECT f.item, f.estimate, f.lower_bound, f.upper_bound
        |FROM (SELECT explode(datasketch_frequent_items_get_frequent(datasketch_frequent_items(s))) AS f FROM gf)""".stripMargin)
      .collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "x" && rows(0).getLong(1) == 3L)
    assert(rows(1).getString(0) == "y" && rows(1).getLong(1) == 1L)
  }

  test("kll long element type via nested agg resolution") {
    val q = sql(
      """SELECT datasketch_kll_quantile(datasketch_kll(200, id), 0.5, true) AS q
        |FROM range(1, 101)""".stripMargin).head()
    // long element → LongType output, exact in pre-compaction regime
    assert(q.getLong(0) == 50L)
  }

  test("merge partial sketches through group-by (mixed K legal)") {
    spark.range(1, 901).selectExpr("CAST(id AS DOUBLE) AS v", "CAST(id % 3 AS INT) AS p")
      .createOrReplaceTempView("md")
    sql(
      """SELECT p, datasketch_kll(CASE WHEN true THEN 32 END, v) AS sk
        |FROM md GROUP BY p""".stripMargin).createOrReplaceTempView("psk")
    val r = sql(
      """SELECT datasketch_kll_n(m) AS n, datasketch_kll_min_item(m) AS mn,
        |       datasketch_kll_max_item(m) AS mx
        |FROM (SELECT datasketch_kll(32, sk) AS m FROM psk)""".stripMargin).head()
    assert(r.getLong(0) == 900L && r.getDouble(1) == 1.0 && r.getDouble(2) == 900.0)
  }

  test("corrupt blob raises deserialize error (datasketch_kll.test:100-114)") {
    val e = intercept[Exception] {
      sql("SELECT datasketch_kll_n(CAST('junk' AS BINARY))").head()
    }
    def chain(t: Throwable): List[String] =
      if (t == null) Nil else t.getMessage :: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("Failed to deserialize")))
  }

  test("every inventory name is registered and resolvable (88 reference + extras)") {
    val reg = spark.sessionState.functionRegistry
    Registration.all.foreach { case (name, _) =>
      assert(reg.lookupFunctionBuilder(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)).isDefined,
        s"function $name not registered")
    }
    val refNames = Registration.all.map(_._1).filter(_.startsWith("datasketch_")).toSet
    assert(refNames.size >= 89, s"expected the full reference inventory, got ${refNames.size}")
  }

  test("bind errors: arity, K range, K foldability, elem tag, type checks") {
    def bindErr(q: String): String = {
      val e = intercept[Exception](sql(q).queryExecution.analyzed)
      def chain(t: Throwable): List[String] =
        if (t == null) Nil else Option(t.getMessage).toList ::: chain(t.getCause)
      chain(e).mkString(" | ")
    }
    assert(bindErr("SELECT datasketch_kll(200)").contains("expected between 2 and 2"))
    assert(bindErr("SELECT datasketch_req(13, CAST(1.0 AS FLOAT))").contains("K must be even"))
    assert(bindErr("SELECT datasketch_cpc(30, 1)").contains("lg_k must be between 4 and 26"))
    assert(bindErr("SELECT datasketch_kll(200, 'text_value')")
      .contains("unsupported input type"))
    assert(bindErr("SELECT datasketch_hll(12, CAST('ab' AS BINARY))")
      .contains("requires datasketch_hll_union"))
    assert(bindErr("SELECT datasketch_theta_jaccard(CAST('a' AS BINARY))")
      .contains("expected between 2 and 2"))
  }

  test("hll estimate within ±5% at lg_k=12 on 100k distinct (hll.test:43-46)") {
    spark.range(0, 100000).union(spark.range(0, 100000)).createOrReplaceTempView("items")
    val est = sql(
      "SELECT datasketch_hll_estimate(datasketch_hll(12, id)) AS e FROM items").head().getDouble(0)
    assert(est > 95000 && est < 105000)
  }

  test("bench summary numbers stay dot-decimal under a comma-decimal locale") {
    val cat = java.util.Locale.Category.FORMAT
    val prior = java.util.Locale.getDefault(cat)
    java.util.Locale.setDefault(cat, java.util.Locale.GERMANY)
    try {
      assert(f"${1.5}%.3f" == "1,500") // what the f"" interpolator emits here
      assert(Bench.fixed(1234.5678, 3) == "1234.568")
      assert(Bench.fixed(-1.0, 3) == "-1.000")
      assert(Bench.fixed(12.0, 2) == "12.00" && Bench.fixed(2.0, 1) == "2.0")
    } finally java.util.Locale.setDefault(cat, prior)
  }

  test("bench family subtotals: harness queries form their own family") {
    // `value` excludes the harness queries, so the operator families must
    // hold none of them for their subtotals to sum to it
    SparkEntry.harnessQueries.foreach(n => assert(Bench.family(n) == "harness", n))
    val others = SparkEntry.queries.map(_._1).filterNot(SparkEntry.harnessQueries)
    assert(others.nonEmpty && others.forall(n => Bench.family(n) != "harness"))
  }
}
