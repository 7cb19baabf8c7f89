package graft

/** Stored-sketch safety: the alias-type behavior of the reference's 36
  * named BLOB types (`codegen/generated.cpp.j2:205-224`), replicated in
  * Spark's untyped-BINARY world by three cooperating layers:
  *
  *  1. aggregates emit `sketchFamily`/`sketchElementType` column metadata
  *     (persisted in parquet footers by Spark) — so stored tables stay
  *     typed without user-side `as_sketch` calls;
  *  2. bind-time validation: probing a tagged column with the wrong
  *     family's function is a GraftBindException at analysis;
  *  3. runtime preamble sniff (`Kit.deser`): untagged cross-family blobs
  *     fail with an error naming BOTH families, never an opaque internal
  *     error or silent garbage.
  */
class SafetySpec extends SparkTestBase {

  private val tmpDirs = scala.collection.mutable.Buffer.empty[java.io.File]

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    tmpDirs += d
    new java.io.File(d, "t").getAbsolutePath
  }

  override def afterAll(): Unit =
    try tmpDirs.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    finally super.afterAll()

  test("aggregate output carries family/elem metadata through explicit AS") {
    val df = sql(
      """SELECT datasketch_kll(200, CAST(id AS BIGINT)) AS sk
        |FROM range(100)""".stripMargin)
    val md = df.schema("sk").metadata
    assert(md.contains(Registration.FamilyTag) && md.getString(Registration.FamilyTag) == "kll")
    assert(md.contains(Registration.ElemTag) && md.getString(Registration.ElemTag) == "long")
  }

  test("long-lane KLL works on a stored table WITHOUT the 'long' tag literal") {
    val path = tmpDir("graft-safety-kll")
    spark.range(1, 1002).selectExpr("id AS v")
      .selectExpr("datasketch_kll(2048, v) AS sk")
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("stored_kll")
    // no 'long' literal anywhere: the lane comes from the stored metadata
    val r = sql(
      """SELECT datasketch_kll_quantile(sk, 0.5, true) AS q50,
        |       datasketch_kll_min_item(sk) AS mn,
        |       datasketch_kll_max_item(sk) AS mx
        |FROM stored_kll""".stripMargin).head()
    assert(r.getLong(0) == 501L && r.getLong(1) == 1L && r.getLong(2) == 1001L)
    // and the schema really is the long lane, not widened double
    assert(sql("SELECT datasketch_kll_min_item(sk) FROM stored_kll")
      .schema.head.dataType == org.apache.spark.sql.types.LongType)
  }

  test("narrow INT input: element-typed probes return INT via metadata, tag, and nesting") {
    // reference codegen/generator.py:558-563 — element-typed probes
    // return the INPUT type; the long lane computes, a bind-time cast
    // narrows back
    import org.apache.spark.sql.types.{IntegerType, LongType, ShortType}
    val path = tmpDir("graft-safety-kll-int")
    spark.range(1, 1002).selectExpr("CAST(id AS INT) AS v")
      .selectExpr("datasketch_kll(2048, v) AS sk")
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("stored_kll_int")
    // input-type metadata survives parquet; probes come back as INT
    val md = spark.table("stored_kll_int").schema("sk").metadata
    assert(md.getString(Registration.InputTag) == "int")
    val probed = sql(
      """SELECT datasketch_kll_quantile(sk, 0.5, true) AS q50,
        |       datasketch_kll_min_item(sk) AS mn,
        |       datasketch_kll_max_item(sk) AS mx,
        |       datasketch_kll_n(sk) AS n
        |FROM stored_kll_int""".stripMargin)
    assert(probed.schema("q50").dataType == IntegerType)
    assert(probed.schema("mn").dataType == IntegerType)
    assert(probed.schema("mx").dataType == IntegerType)
    assert(probed.schema("n").dataType == LongType) // counters stay BIGINT
    val r = probed.head()
    assert(r.getInt(0) == 501 && r.getInt(1) == 1 && r.getInt(2) == 1001)
    // explicit tag on an untagged blob (CAST strips metadata)
    val tagged = sql(
      """SELECT datasketch_kll_max_item(CAST(sk AS BINARY), 'smallint') AS mx
        |FROM stored_kll_int""".stripMargin)
    assert(tagged.schema("mx").dataType == ShortType)
    assert(tagged.head().getShort(0) == 1001.toShort)
    // nested create aggregate resolves without any metadata or tag
    val nested = sql(
      "SELECT datasketch_kll_quantile(datasketch_kll(256, CAST(id AS SMALLINT)), 0.5, true) AS q FROM range(100)")
    assert(nested.schema("q").dataType == ShortType)
    // an explicit 'long'/'bigint' tag SUPPRESSES the stored narrow
    // metadata — the one way to read the un-narrowed lane from a tagged
    // column (explicit tags override metadata, as in lane dispatch)
    val wide = sql(
      """SELECT datasketch_kll_quantile(sk, 0.5, true, 'bigint') AS q,
        |       datasketch_kll_min_item(sk, 'long') AS mn
        |FROM stored_kll_int""".stripMargin)
    assert(wide.schema("q").dataType == LongType)
    assert(wide.schema("mn").dataType == LongType)
    assert(wide.head().getLong(0) == 501L)
  }

  test("string reservoir works on a stored table without the tag literal") {
    val path = tmpDir("graft-safety-res")
    sql("SELECT concat('v', id) AS s FROM range(10)")
      .selectExpr("datasketch_reservoir(64, s) AS sk")
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("stored_res")
    val samples = sql("SELECT sort_array(datasketch_reservoir_samples(sk)) FROM stored_res")
      .head().getSeq[String](0)
    assert(samples.size == 10 && samples.contains("v0") && samples.contains("v9"))
  }

  test("probing a tagged column with the wrong family fails AT BIND") {
    sql("SELECT datasketch_req(12, CAST(id AS FLOAT)) AS sk FROM range(100)")
      .createOrReplaceTempView("safety_req")
    val e = intercept[Exception](sql("SELECT datasketch_kll_quantile(sk, 0.5, true) FROM safety_req"))
    assert(e.getMessage.contains("tagged as a req sketch"), e.getMessage)
    val e2 = intercept[Exception](sql("SELECT datasketch_hll_estimate(sk) FROM safety_req"))
    assert(e2.getMessage.contains("tagged as a req sketch"), e2.getMessage)
    // theta set op over an hll blob — also bind-time
    sql("SELECT datasketch_hll(10, id) AS h, datasketch_theta(id) AS t FROM range(50)")
      .createOrReplaceTempView("safety_mixed")
    val e3 = intercept[Exception](
      sql("SELECT datasketch_theta_union(t, h) FROM safety_mixed"))
    assert(e3.getMessage.contains("tagged as a hll sketch"), e3.getMessage)
  }

  test("untagged cross-family blob fails at runtime naming both families") {
    // CAST strips the metadata chain, simulating an untagged stored BLOB
    sql("SELECT CAST(datasketch_req(12, CAST(id AS FLOAT)) AS BINARY) AS sk FROM range(100)")
      .createOrReplaceTempView("untagged_req")
    val e = intercept[Exception](
      sql("SELECT datasketch_kll_quantile(sk, 0.5, true) FROM untagged_req").collect())
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("Failed to deserialize KLL sketch") && msg.contains("REQ"), msg)

    sql("SELECT CAST(datasketch_theta(id) AS BINARY) AS sk FROM range(100)")
      .createOrReplaceTempView("untagged_theta")
    val e2 = intercept[Exception](
      sql("SELECT datasketch_hll_estimate(sk) FROM untagged_theta").collect())
    val msg2 = e2.getMessage + Option(e2.getCause).map(_.getMessage).getOrElse("")
    assert(msg2.contains("Failed to deserialize HLL sketch") && msg2.contains("Theta"), msg2)

    // merge aggregate path sniffs too: theta blob into an hll union
    val e3 = intercept[Exception](
      sql("SELECT datasketch_hll_union(12, sk) FROM untagged_theta").collect())
    val msg3 = e3.getMessage + Option(e3.getCause).map(_.getMessage).getOrElse("")
    assert(msg3.contains("Failed to deserialize HLL sketch") && msg3.contains("Theta"), msg3)
  }

  test("every family accepts its own serialized form (sniff is not over-strict)") {
    // one probe per family whose blob reaches Kit.deser
    val r = sql(
      """SELECT datasketch_kll_n(datasketch_kll(200, CAST(id AS DOUBLE))),
        |       datasketch_quantiles_n(datasketch_quantiles(128, CAST(id AS DOUBLE))),
        |       datasketch_req_n(datasketch_req(12, CAST(id AS FLOAT))),
        |       datasketch_tdigest_total_weight(datasketch_tdigest(100, CAST(id AS DOUBLE))),
        |       datasketch_hll_estimate(datasketch_hll(10, id)),
        |       datasketch_cpc_estimate(datasketch_cpc(10, id)),
        |       datasketch_theta_estimate(datasketch_theta(id)),
        |       datasketch_frequent_items_total_weight(datasketch_frequent_items(CAST(id AS STRING))),
        |       datasketch_aod_estimate(datasketch_aod(12, 1, id, CAST(1.0 AS DOUBLE))),
        |       datasketch_bloom_bits_used(datasketch_bloom(1000, 0.01, id)),
        |       datasketch_reservoir_n(datasketch_reservoir(32, CAST(id AS DOUBLE))),
        |       datasketch_varopt_n(datasketch_varopt(32, CAST(id AS DOUBLE), CAST(1.0 AS DOUBLE)))
        |FROM range(100)""".stripMargin).head()
    assert(r.getLong(0) == 100L && r.getLong(1) == 100L && r.getLong(2) == 100L)
    assert(r.getLong(3) == 100L)
    assert(r.getDouble(6) == 100.0)
    assert(r.getLong(10) == 100L && r.getLong(11) == 100L)
  }

  test("q57 error taxonomy pins the (probe, class, prefix) oracle rows") {
    // same literals as SparkEntry.oracleSql("q57_error_taxonomy") — the
    // reference's corrupt-blob contract (kll.test:100-114) per class,
    // one wrong-family + one truncation probe per family group
    val rows = SparkEntry.queries("q57_error_taxonomy")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    val expected = Seq(
      ("aod_on_theta_blob", "wrong_family", true),
      ("aod_truncated", "deserialize_error", true),
      ("bloom_truncated", "deserialize_error", true),
      ("cpc_truncated", "deserialize_error", true),
      ("hll_on_kll_blob", "wrong_family", true),
      ("kll_on_hll_blob", "wrong_family", true),
      ("kll_too_short", "too_short", true),
      ("reservoir_truncated", "deserialize_error", true),
      ("tdigest_too_short", "too_short", true),
      ("theta_lgk_floor", "bind_range", false),
      ("theta_unrecognized", "unrecognized", true),
      ("varopt_on_reservoir_blob", "wrong_family", true))
    assert(rows.toSeq == expected, rows.mkString("\n"))
  }

  test("classic quantiles float lane: FLOAT in → FLOAT out, two-level merge") {
    // reference dynamic_return_type (codegen/generator.py:558-563): the
    // quantile over a FLOAT column returns FLOAT, not widened double
    spark.range(1, 901)
      .selectExpr("CAST(id AS FLOAT) AS v", "id % 3 AS p")
      .createOrReplaceTempView("qf_t")
    val df = sql(
      """SELECT datasketch_quantiles_quantile(m, 0.5, true) AS q50,
        |       datasketch_quantiles_min_item(m) AS mn,
        |       datasketch_quantiles_max_item(m) AS mx,
        |       datasketch_quantiles_n(m) AS n
        |FROM (SELECT datasketch_quantiles(1024, s) AS m
        |      FROM (SELECT p, datasketch_quantiles(1024, v) AS s FROM qf_t GROUP BY p))""".stripMargin)
    assert(df.schema("q50").dataType == org.apache.spark.sql.types.FloatType)
    val r = df.head()
    assert(r.getFloat(0) == 450.0f && r.getFloat(1) == 1.0f && r.getFloat(2) == 900.0f)
    assert(r.getLong(3) == 900L)
    // the merge path resolves the float lane from metadata (no tag literal
    // above) and a stored blob keeps it through parquet
    val path = tmpDir("graft-safety-qf")
    sql("SELECT datasketch_quantiles(1024, v) AS sk FROM qf_t")
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("stored_qf")
    val stored = sql("SELECT datasketch_quantiles_max_item(sk) FROM stored_qf")
    assert(stored.schema.head.dataType == org.apache.spark.sql.types.FloatType)
    assert(stored.head().getFloat(0) == 900.0f)
  }

  test("float quantiles cross-reads reference bytes (quantiles.test:14-22)") {
    // exact serialized output of the C++ reference for
    // `datasketch_quantiles(16, 5.0::float)` — preamble (2 longs) + three
    // 4-byte LE floats (min, max, item). Our custom float serde must read
    // it verbatim; our own serialization differs ONLY in the ORDERED flag
    // bit (0x10), which Java omits for a single-item sketch (legal — the
    // spec guarantees readability, not byte identity).
    val ref = "0203081810000000" + "0100000000000000" + "0000a040" * 3
    val r = sql(
      s"""SELECT datasketch_quantiles_is_empty(X'$ref', 'float'),
         |       datasketch_quantiles_quantile(X'$ref', 0.5, true, 'float'),
         |       datasketch_quantiles_n(X'$ref', 'float'),
         |       datasketch_quantiles_min_item(X'$ref', 'float'),
         |       datasketch_quantiles_max_item(X'$ref', 'float')""".stripMargin).head()
    assert(!r.getBoolean(0))
    assert(r.getFloat(1) == 5.0f && r.getLong(2) == 1L)
    assert(r.getFloat(3) == 5.0f && r.getFloat(4) == 5.0f)
    val mine = sql("SELECT datasketch_quantiles(16, CAST(5.0 AS FLOAT))").head()
      .getAs[Array[Byte]](0)
    val mineFlagged = mine.clone()
    mineFlagged(3) = (mineFlagged(3) | 0x10).toByte // set ORDERED
    assert(mineFlagged.map(b => f"${b & 0xff}%02x").mkString == ref,
      "serialized form must match the reference modulo the ORDERED flag")
  }

  test("req golden bytes are byte-identical to the reference (req.test:14-17)") {
    val mine = sql("SELECT datasketch_req(16, CAST(5.0 AS FLOAT))").head()
      .getAs[Array[Byte]](0).map(b => f"${b & 0xff}%02x").mkString
    assert(mine == "0201113810000101" + "0000a040")
    // and the reference blob probes correctly through our scalars
    val r = sql(
      """SELECT datasketch_req_quantile(X'02011138100001010000a040', 0.5, true),
        |       datasketch_req_n(X'02011138100001010000a040')""".stripMargin).head()
    assert(r.getFloat(0) == 5.0f && r.getLong(1) == 1L)
  }

  test("tdigest golden bytes are byte-identical to the reference (tdigest.test:14-17)") {
    // Reference: SELECT datasketch_tdigest(10, 5) →
    // \x01\x01\x14\x0A\x00\x06\x00\x00 then double 5.0. The double-lane
    // tdigest format IS cross-compatible between datasketches-cpp and
    // datasketches-java 6.2 (earlier README text claimed otherwise from a
    // misread of the preamble; this test is the correction). The float
    // lane (`tdigest<float>`, 4-byte centroids) cross-reads via
    // Kit.tdigestWiden (next test) — datasketches-java ships no float
    // tdigest, so it widens to this double wire format on read.
    val refHex = "010114" + "0a00" + "060000" + "000000000000" + "1440"
    val mine = sql("SELECT datasketch_tdigest(10, CAST(5 AS DOUBLE))").head()
      .getAs[Array[Byte]](0).map(b => f"${b & 0xff}%02x").mkString
    assert(mine == refHex, s"got $mine")
    // and the reference blob probes correctly through our scalars
    val r = sql(
      s"""SELECT datasketch_tdigest_is_empty(X'$refHex'),
         |       datasketch_tdigest_quantile(X'$refHex', 0.5),
         |       datasketch_tdigest_total_weight(X'$refHex')""".stripMargin).head()
    assert(!r.getBoolean(0))
    assert(r.getDouble(1) == 5.0)
    assert(r.getLong(2) == 1L)
    // multi-centroid round trip through the same wire format: build in
    // SQL, re-read through scalars (estimation regime)
    val m = sql(
      """SELECT datasketch_tdigest_quantile(datasketch_tdigest(100, CAST(id AS DOUBLE)), 0.5)
        |FROM range(1, 1001)""".stripMargin).head()
    assert(m.getDouble(0) > 350 && m.getDouble(0) < 650)
  }

  test("reference float-lane tdigest blobs widen and probe through scalars") {
    // single-value `tdigest<float>` wire form (reference float lane,
    // codegen/generator.py:46-47): the double-lane golden preamble
    // (tdigest.test:14-17) with a 4-byte LE float 5.0 payload
    val single = "0101140a000600000000a040"
    val r = sql(
      s"""SELECT datasketch_tdigest_quantile(X'$single', 0.5),
         |       datasketch_tdigest_total_weight(X'$single'),
         |       datasketch_tdigest_is_empty(X'$single')""".stripMargin).head()
    assert(r.getDouble(0) == 5.0 && r.getLong(1) == 1L && !r.getBoolean(2))

    // multi-centroid: narrow a Java double-lane blob to the float wire
    // format (inverse of Kit.tdigestWiden), then probe both and compare
    val dbl = sql("SELECT datasketch_tdigest(100, CAST(id AS DOUBLE)) FROM range(1, 1001)")
      .head().getAs[Array[Byte]](0)
    val in = java.nio.ByteBuffer.wrap(dbl).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val n = in.getInt(8)
    val flt = java.nio.ByteBuffer.allocate(24 + 12 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    flt.put(dbl, 0, 16)
    flt.putFloat(in.getDouble(16).toFloat)
    flt.putFloat(in.getDouble(24).toFloat)
    for (i <- 0 until n) {
      val base = 32 + 16 * i
      flt.putFloat(in.getDouble(base).toFloat)
      flt.putLong(in.getLong(base + 8))
    }
    val fltHex = flt.array().map(b => f"${b & 0xff}%02x").mkString
    val dblHex = dbl.map(b => f"${b & 0xff}%02x").mkString
    val m = sql(
      s"""SELECT datasketch_tdigest_quantile(X'$fltHex', 0.5),
         |       datasketch_tdigest_quantile(X'$dblHex', 0.5),
         |       datasketch_tdigest_total_weight(X'$fltHex')""".stripMargin).head()
    assert(math.abs(m.getDouble(0) - m.getDouble(1)) < 0.1,
      s"float-lane median ${m.getDouble(0)} vs double-lane ${m.getDouble(1)}")
    assert(m.getLong(2) == 1000L)

    // a truncated DOUBLE-lane blob whose length collides with the float
    // layout (24+12n) must NOT silently decode as float-lane garbage —
    // the value-invariant check rejects it and the deserializer's error
    // contract applies
    val truncHex = dblHex.take(36 * 2)
    val te = intercept[Exception](
      sql(s"SELECT datasketch_tdigest_quantile(X'$truncHex', 0.5)").collect())
    val tmsg = te.getMessage + Option(te.getCause).map(_.getMessage).getOrElse("")
    assert(tmsg.contains("Failed to deserialize TDigest"), tmsg)

    // the float blob also merges through the aggregate path
    val merged = sql(
      s"""SELECT datasketch_tdigest_total_weight(datasketch_tdigest(100, sk))
         |FROM (SELECT X'$fltHex' AS sk UNION ALL SELECT X'$fltHex')""".stripMargin).head()
    assert(merged.getLong(0) == 2000L)
  }

  test("too-short blob errors cleanly") {
    val e = intercept[Exception](
      sql("SELECT datasketch_theta_estimate(CAST('ab' AS BINARY))").collect())
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("BLOB too short"), msg)
  }
}
