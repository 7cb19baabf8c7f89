package graft

import graft.plans.SketchCastRewrite

/** SQL-surface parity for the reference's 36 named sketch alias types
  * (`codegen/generated.cpp.j2:195-224`): `CAST(b AS sketch_kll_double)`
  * and `b::sketch_kll_float` parse through the injected
  * [[graft.plans.SketchCastParser]] and carry the same family/lane
  * metadata `as_sketch` writes — reference SQL ports verbatim. Cast
  * semantics mirror the reference's `ReinterpretCast`: bytes pass
  * through, only the binding changes (test/sql/datasketch_kll.test:20,
  * 101-112 are replicated below against the same golden bytes). */
class SketchCastSpec extends SparkTestBase {

  // reference golden single-item float KLL: datasketch_kll(16, 5.0::float)
  // → \x02\x02\x0F\x04\x10\x00\x08\x00\x00\x00\xA0@ (datasketch_kll.test:17-20)
  private val kllFloat5 = "02020F04100008000000A040"

  // ---- rewriter (pure text) ------------------------------------------------

  test("rewrite: both cast spellings, case-insensitive, qualified and call operands") {
    assert(SketchCastRewrite("SELECT CAST(b AS sketch_kll_double) FROM t") ==
      "SELECT graft_sketch_cast(b, 'sketch_kll_double') FROM t")
    assert(SketchCastRewrite("SELECT b::sketch_kll_float FROM t") ==
      "SELECT graft_sketch_cast(b, 'sketch_kll_float') FROM t")
    assert(SketchCastRewrite("SELECT t.b :: SKETCH_THETA FROM t") ==
      "SELECT graft_sketch_cast(t.b, 'sketch_theta') FROM t")
    assert(SketchCastRewrite("SELECT unhex('AB')::sketch_hll") ==
      "SELECT graft_sketch_cast(unhex('AB'), 'sketch_hll')")
    assert(SketchCastRewrite("SELECT cast( b  AS  sketch_cpc ) FROM t") ==
      "SELECT graft_sketch_cast(b, 'sketch_cpc') FROM t")
    assert(SketchCastRewrite("SELECT ''::sketch_kll_integer") ==
      "SELECT graft_sketch_cast('', 'sketch_kll_integer')")
  }

  test("rewrite: nested alias casts all surface; CAST operands keep inner casts") {
    val in = "SELECT CAST(f(a::sketch_hll) AS sketch_kll_double)"
    val out = SketchCastRewrite(in)
    assert(out ==
      "SELECT graft_sketch_cast(f(graft_sketch_cast(a, 'sketch_hll')), 'sketch_kll_double')")
  }

  test("rewrite: literals, comments, non-alias types, and lookalikes untouched") {
    // inside a string literal: not a cast
    val lit = "SELECT 'CAST(b AS sketch_kll_double)' FROM t"
    assert(SketchCastRewrite(lit) == lit)
    val cmt = "SELECT b -- ::sketch_kll_float\nFROM t"
    assert(SketchCastRewrite(cmt) == cmt)
    // ordinary casts and unknown sketch-ish names pass through to Spark
    val plain = "SELECT CAST(b AS BINARY), c::int, d::sketch_bogus FROM t"
    assert(SketchCastRewrite(plain) == plain)
    // identifier merely ENDING in "cast" is not the CAST keyword
    val bc = "SELECT broadcast(b AS sketch_kll_double)"
    assert(SketchCastRewrite(bc) == bc)
  }

  // ---- end-to-end SQL ------------------------------------------------------

  test("reference bytes probe through both spellings (datasketch_kll.test:20)") {
    val r = sql(
      s"""SELECT datasketch_kll_is_empty(unhex('$kllFloat5')::sketch_kll_float) AS e,
         |       datasketch_kll_quantile(CAST(unhex('$kllFloat5') AS sketch_kll_float), 0.5, true) AS q
         |""".stripMargin).collect().head
    assert(r.getBoolean(0) == false)
    assert(r.getFloat(1) == 5.0f)
  }

  test("alias cast selects the lane: float returns FLOAT, integer returns INT, uinteger widens to LONG") {
    // strip metadata with CAST AS BINARY, re-type via the alias cast
    val df = sql(
      """SELECT datasketch_kll_min_item(CAST(CAST(sk AS BINARY) AS sketch_kll_integer)) AS mn_int,
        |       datasketch_kll_min_item(CAST(sk AS BINARY)::sketch_kll_uinteger) AS mn_long
        |FROM (SELECT datasketch_kll(8, CAST(5 AS INT)) AS sk)""".stripMargin)
    assert(df.schema("mn_int").dataType == org.apache.spark.sql.types.IntegerType)
    assert(df.schema("mn_long").dataType == org.apache.spark.sql.types.LongType)
    val r = df.collect().head
    assert(r.getInt(0) == 5 && r.getLong(1) == 5L)
  }

  test("corrupt and empty blobs fail like the reference (datasketch_kll.test:101-112)") {
    for (q <- Seq(
        "SELECT datasketch_kll_is_empty(unhex('000102')::sketch_kll_float)",
        "SELECT datasketch_kll_k(unhex('DEADBEEF')::sketch_kll_double)",
        "SELECT datasketch_kll_is_empty(''::sketch_kll_integer)")) {
      val e = intercept[Exception](sql(q).collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("Failed to deserialize KLL sketch")), q)
    }
  }

  test("alias cast binds the family: cross-family probe is a bind error") {
    val e = intercept[Exception](sql(
      s"SELECT datasketch_theta_estimate(unhex('$kllFloat5')::sketch_kll_float)"))
    assert(e.getMessage.contains("tagged as a kll sketch"), e.getMessage)
  }

  test("theta and frequent_items alias types bind their families") {
    val r = sql(
      """SELECT datasketch_theta_estimate(CAST(CAST(sk AS BINARY) AS sketch_theta)) AS est
        |FROM (SELECT datasketch_theta(id) AS sk FROM range(100))""".stripMargin)
      .collect().head
    assert(math.round(r.getDouble(0)) == 100L)
  }

  test("unknown sketch type name is a loud bind error via the function form") {
    val e = intercept[Exception](
      sql("SELECT graft_sketch_cast(unhex('00'), 'sketch_nope')").collect())
    assert(e.getMessage.contains("unknown sketch type"), e.getMessage)
  }

  test("non-blob input refuses the reinterpret cast") {
    val e = intercept[Exception](
      sql("SELECT graft_sketch_cast(42, 'sketch_hll')").collect())
    assert(e.getMessage.contains("only BLOB input"), e.getMessage)
  }

  // ---- DDL column types ----------------------------------------------------

  test("rewrite: lossless alias types as DDL column types become BINARY; CTAS casts untouched") {
    assert(SketchCastRewrite("CREATE TABLE sketches (sketch sketch_kll_double)") ==
      "CREATE TABLE sketches (sketch BINARY)")
    assert(SketchCastRewrite("CREATE TABLE s (a sketch_hll, b INT, c sketch_req_integer)") ==
      "CREATE TABLE s (a BINARY, b INT, c BINARY)")
    // narrow lanes stay: erasure would silently mis-lane probes — Spark
    // errors loudly instead (use CTAS, which carries metadata)
    val narrow = "CREATE TABLE s (a sketch_kll_integer)"
    assert(SketchCastRewrite(narrow) == narrow)
    // a cast inside a CTAS body is the expression rewrite's business
    assert(SketchCastRewrite("CREATE TABLE t AS SELECT CAST(b AS sketch_kll_double) FROM u") ==
      "CREATE TABLE t AS SELECT graft_sketch_cast(b, 'sketch_kll_double') FROM u")
    // non-DDL statements never touch type-position rewriting: a column
    // literally named sketch_hll survives
    val named = "SELECT x sketch_hll FROM t"
    assert(SketchCastRewrite(named) == named)
  }

  test("reference DDL flow: CREATE with alias type, INSERT sketches, merge and probe (datasketch_kll.test:56)") {
    val loc = java.nio.file.Files.createTempDirectory("graft-ddl").toString
    sql(s"CREATE TABLE graft_cast_sketches (sketch sketch_kll_double) USING parquet LOCATION '$loc/t'")
    try {
      sql("""INSERT INTO graft_cast_sketches
            |SELECT datasketch_kll(16, CAST(id AS DOUBLE)) FROM range(1, 501)""".stripMargin)
      sql("""INSERT INTO graft_cast_sketches
            |SELECT datasketch_kll(16, CAST(id AS DOUBLE)) FROM range(501, 1001)""".stripMargin)
      val r = sql(
        """SELECT datasketch_kll_max_item(datasketch_kll(16, sketch)) AS mx,
          |       datasketch_kll_min_item(datasketch_kll(16, sketch)) AS mn
          |FROM graft_cast_sketches""".stripMargin).collect().head
      assert(r.getDouble(0) == 1000.0 && r.getDouble(1) == 1.0)
    } finally {
      sql("DROP TABLE graft_cast_sketches")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(loc))
    }
  }
}
