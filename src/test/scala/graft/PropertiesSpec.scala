package graft

import scala.util.Random

import org.apache.spark.sql.functions._

/** Property-style invariants over seeded random data (SURVEY §5 test plan):
  * merge associativity/commutativity, NULL-skip equivalence, ingestion-
  * order independence, serialization round-trips. Families with fixed hash
  * seeds (hll/cpc/theta/frequent_items/tdigest) are bit-deterministic
  * given the input SET, so equality assertions are exact. */
class PropertiesSpec extends SparkTestBase {

  private val rnd = new Random(42)

  private def randomTable(name: String, n: Int, distinct: Int): Unit = {
    val data = Seq.fill(n)(rnd.nextInt(distinct).toLong)
    spark.createDataFrame(data.zipWithIndex.map { case (v, i) => (i, v) })
      .toDF("i", "v").createOrReplaceTempView(name)
  }

  test("theta/hll estimates are invariant under arbitrary regrouping (associativity)") {
    randomTable("pt1", 20000, 5000)
    for (groups <- Seq(1, 3, 17)) {
      val est = sql(
        s"""SELECT CAST(round(datasketch_theta_estimate(datasketch_theta(s))) AS BIGINT),
           |       CAST(round(datasketch_hll_estimate(datasketch_hll_union(12, h))) AS BIGINT)
           |FROM (SELECT i % $groups AS g, datasketch_theta(v) AS s, datasketch_hll(12, v) AS h
           |      FROM pt1 GROUP BY i % $groups)""".stripMargin).head()
      val direct = sql(
        """SELECT CAST(round(datasketch_theta_estimate(datasketch_theta(v))) AS BIGINT),
          |       CAST(round(datasketch_hll_estimate(datasketch_hll(12, v))) AS BIGINT)
          |FROM pt1""".stripMargin).head()
      assert(est.getLong(0) == direct.getLong(0), s"theta differs at $groups groups")
      assert(est.getLong(1) == direct.getLong(1), s"hll differs at $groups groups")
    }
  }

  test("NULL-skip equivalence: sketch(values with NULLs) == sketch(filtered values)") {
    val data = Seq.fill(5000)(if (rnd.nextBoolean()) Some(rnd.nextInt(300).toDouble) else None)
    spark.createDataFrame(data.zipWithIndex.map { case (v, i) => (i, v) })
      .toDF("i", "v").createOrReplaceTempView("nulls_t")
    val withNulls = sql(
      """SELECT datasketch_theta_estimate(datasketch_theta(v)) AS t,
        |       datasketch_frequent_items_total_weight(datasketch_frequent_items(v)) AS w,
        |       datasketch_kll_n(datasketch_kll(200, v)) AS n
        |FROM nulls_t""".stripMargin).head()
    val filtered = sql(
      """SELECT datasketch_theta_estimate(datasketch_theta(v)) AS t,
        |       datasketch_frequent_items_total_weight(datasketch_frequent_items(v)) AS w,
        |       datasketch_kll_n(datasketch_kll(200, v)) AS n
        |FROM nulls_t WHERE v IS NOT NULL""".stripMargin).head()
    assert(withNulls.getDouble(0) == filtered.getDouble(0))
    assert(withNulls.getLong(1) == filtered.getLong(1))
    assert(withNulls.getLong(2) == filtered.getLong(2))
  }

  test("order independence across repartitions for deterministic families") {
    // theta/cpc: order-independent at any cardinality (fixed hash seed).
    // frequent-items: only in EXACT mode — once the map purges, which
    // items survive (and their estimates) depends on arrival order, the
    // standard Misra-Gries behavior; so it gets a small-cardinality table.
    randomTable("ord_t", 30000, 8000)
    randomTable("ord_small", 30000, 300) // < map capacity 768 at lg_k=10
    def run(view: String, small: String) = (
      sql(s"""SELECT datasketch_theta_estimate(datasketch_theta(v)),
             |       datasketch_cpc_estimate(datasketch_cpc(11, v))
             |FROM $view""".stripMargin).head(),
      sql(s"""SELECT datasketch_frequent_items_estimate(datasketch_frequent_items(v), CAST(7 AS BIGINT))
             |FROM $small""".stripMargin).head())
    spark.table("ord_t").repartition(13, col("v")).createOrReplaceTempView("ord_r13")
    spark.table("ord_t").orderBy(desc("v")).createOrReplaceTempView("ord_sorted")
    spark.table("ord_small").orderBy(desc("v")).createOrReplaceTempView("ord_small_sorted")
    val a = run("ord_t", "ord_small")
    val b = run("ord_r13", "ord_small_sorted")
    val c = run("ord_sorted", "ord_small_sorted")
    assert(a == b && b == c)
  }

  test("serialization round-trip: blob → table → merge-with-self is idempotent for theta") {
    randomTable("rt_t", 10000, 2500)
    sql("SELECT datasketch_theta(v) AS s FROM rt_t").createOrReplaceTempView("rt_sk")
    // union of a sketch with itself must not change the estimate (idempotent set union)
    val r = sql(
      """SELECT datasketch_theta_estimate(s) AS one,
        |       datasketch_theta_estimate(datasketch_theta_union(s, s)) AS self_union
        |FROM rt_sk""".stripMargin).head()
    assert(r.getDouble(0) == r.getDouble(1))
  }

  test("kll merged quantiles stay within normalized rank error of exact") {
    val n = 50000
    val data = Seq.fill(n)(rnd.nextGaussian() * 100)
    spark.createDataFrame(data.zipWithIndex.map { case (v, i) => (i, v) })
      .toDF("i", "v").createOrReplaceTempView("kll_err_t")
    val r = sql(
      """SELECT datasketch_kll_rank(m, 0.0, true) AS rank_at_zero,
        |       datasketch_kll_normalized_rank_error(m, false) AS nre
        |FROM (SELECT datasketch_kll(200, s) AS m
        |      FROM (SELECT i % 7 AS g, datasketch_kll(200, v) AS s
        |            FROM kll_err_t GROUP BY i % 7))""".stripMargin).head()
    val exactRank = data.count(_ <= 0.0).toDouble / n
    // allow 3× the one-sided error bound for the merged sketch
    assert(math.abs(r.getDouble(0) - exactRank) < 3 * r.getDouble(1),
      s"merged rank ${r.getDouble(0)} vs exact $exactRank (nre ${r.getDouble(1)})")
  }

  test("entry() flagship query returns rows (driver smoke contract)") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 3) // one per returnflag
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("bloom: regrouped partial-filter unions are bit-identical to single pass") {
    randomTable("bloom_t", 30000, 8000)
    val whole = sql(
      "SELECT datasketch_bloom(20000, 0.01, v) AS f FROM bloom_t")
      .head().getAs[Array[Byte]](0)
    for (groups <- Seq(2, 13)) {
      val parts = sql(
        s"""SELECT datasketch_bloom_union(f) AS f FROM (
           |  SELECT datasketch_bloom(20000, 0.01, v) AS f
           |  FROM bloom_t GROUP BY i % $groups)""".stripMargin)
        .head().getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(whole, parts),
        s"bloom bits differ when built via $groups partials")
    }
  }

  test("asof join equals brute force on randomized key/time data with ties") {
    import org.apache.spark.sql.expressions.Window
    // small domains on purpose: force key collisions and exact-tie times
    val left = Seq.tabulate(400)(i =>
      (i.toLong, (rnd.nextInt(12)).toLong, rnd.nextInt(40).toLong))
    val right = Seq.tabulate(300)(i =>
      ((rnd.nextInt(12)).toLong, rnd.nextInt(40).toLong, i.toLong))
      // unique (key, time): arbitrary-among-ties would be nondeterministic
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val l = spark.createDataFrame(left).toDF("lid", "k", "t")
    val r = spark.createDataFrame(right).toDF("k", "t", "rv")
    val fast = operators.AsOfJoin.asofJoin(l, r, "k", "t", Seq("rv"))
      .select("lid", "rv")
    val brute = l.join(r.select(col("k").as("rk"), col("t").as("rt"), col("rv")),
        col("k") === col("rk") && col("rt") <= col("t"), "left")
      .withColumn("rn", row_number().over(
        Window.partitionBy("lid").orderBy(col("rt").desc_nulls_last)))
      .filter(col("rn") === 1)
      .select("lid", "rv")
    assert(fast.exceptAll(brute).count() == 0 && brute.exceptAll(fast).count() == 0)
  }

  test("reservoir/varopt samples are always drawn from the input domain") {
    randomTable("samp_t", 10000, 250)
    val r = sql(
      """SELECT datasketch_reservoir_samples(datasketch_reservoir(97, v), 'long') AS rs,
        |       datasketch_varopt_samples(datasketch_varopt(61, v, CAST(v + 1 AS DOUBLE)), 'long') AS vs
        |FROM samp_t""".stripMargin).head()
    assert(r.getSeq[Long](0).size == 97)
    assert(r.getSeq[Long](0).forall(v => v >= 0 && v < 250))
    val vs = r.getSeq[org.apache.spark.sql.Row](1)
    assert(vs.size == 61)
    // adjusted weights never fall below the true item weight's floor (1.0)
    assert(vs.forall(x => x.getLong(0) >= 0 && x.getLong(0) < 250 && x.getDouble(1) >= 1.0))
  }

  test("deser memo transparency: memoized probe values ≡ fresh deserialization, any order") {
    // random blobs across heapify-class families probed repeatedly in
    // interleaved order: the per-thread memo must never change a value
    // (content-keyed; same compute body), only skip work
    randomTable("pm1", 3000, 700)
    val blobs = sql(
      """SELECT i % 40 AS g, datasketch_kll(200, CAST(v AS DOUBLE)) AS k,
        |       datasketch_cpc(11, v) AS c, datasketch_hll(11, v) AS h
        |FROM pm1 GROUP BY i % 40""".stripMargin).cache()
    blobs.createOrReplaceTempView("pm_blobs")
    val probe =
      """SELECT g, datasketch_kll_quantile(k, 0.5, true) AS q,
        |       datasketch_cpc_estimate(c) AS ce, datasketch_hll_estimate(h) AS he,
        |       datasketch_kll_n(k) AS n, datasketch_hll_lower_bound(h, 2) AS lb
        |FROM pm_blobs ORDER BY g""".stripMargin
    val first = sql(probe).collect().toSeq
    // re-run several times: warm memo, evicted memo (other blobs in
    // between), and cross-family interleaving must all agree
    sql("SELECT datasketch_cpc_estimate(c) FROM pm_blobs").collect()
    for (_ <- 1 to 3) assert(sql(probe).collect().toSeq == first)
    blobs.unpersist()
  }

  test("downscale invariants on random rasters: mean preservation, composition bound") {
    for (trial <- 1 to 20) {
      val w = 2 + rnd.nextInt(30)
      val h = 2 + rnd.nextInt(30)
      val img = operators.MediaOps.DecodedImage(
        w, h, Array.fill(w * h)(rnd.nextInt(256)))
      val f = 1 + rnd.nextInt(4)
      val r = operators.MediaOps.downscale(img, f)
      assert(r.width == w / f && r.height == h / f, s"trial $trial dims")
      if (r.gray.nonEmpty) {
        // every output pixel is a floor-mean of its block: within [min, max]
        // of the source and the total is bounded by the covered region's sum
        assert(r.gray.forall(v => v >= 0 && v <= 255))
        val covered = (for {
          y <- 0 until r.height * f
          x <- 0 until r.width * f
        } yield img.gray(y * w + x)).sum
        val out = r.gray.map(_.toLong).sum
        // floor-mean per block loses < 1 per block
        assert(out * f * f <= covered && covered - out * f * f < r.gray.length.toLong * f * f,
          s"trial $trial mean preservation")
      }
    }
  }

  test("narrow cast-back never changes the probed value, random int distributions") {
    for (seedExtra <- Seq(0, 1)) {
      val data = Seq.fill(4000)(rnd.nextInt(100000) - 50000)
      spark.createDataFrame(data.zipWithIndex.map { case (v, i) => (i, v) })
        .toDF("i", "v").createOrReplaceTempView("pn1")
      val r = sql(
        """SELECT datasketch_kll_quantile(datasketch_kll(4096, v), 0.5, true) AS qi,
          |       datasketch_kll_quantile(datasketch_kll(4096, CAST(v AS BIGINT)), 0.5, true) AS ql,
          |       datasketch_kll_min_item(datasketch_kll(4096, v)) AS mni,
          |       datasketch_kll_min_item(datasketch_kll(4096, CAST(v AS BIGINT))) AS mnl
          |FROM pn1""".stripMargin).head()
      // INT lane result == BIGINT lane result, just narrower (n=4000 ≤ K:
      // exact regime, so both lanes see identical retained items)
      assert(r.getInt(0).toLong == r.getLong(1), s"quantile diverged run $seedExtra")
      assert(r.getInt(2).toLong == r.getLong(3), s"min diverged run $seedExtra")
    }
  }

  test("native PII scanners ≡ regex formulation on adversarial and random inputs") {
    // the native byte scanners must be EXACTLY the regex semantics:
    // leftmost non-overlapping matches, greedy-with-backtracking email
    // domains (trailing-digit TLDs shorten the match), IPv4 word
    // boundaries, greedy 15-digit phone cap, sequential redaction passes
    val adversarial = Seq(
      "contact a@b.com ip 10.1.2.9 tel +15551234567",
      "a@b.cd.e9 backtracks to a@b.cd", "a@b..cc", "@@a@b.cc",
      "x@y.aa@z.bb", "a@b", "x.y%z+w@sub-1.example.co.uk!", "", "no pii",
      "1.2.3.4.5.6.7.8", "a1.2.3.4", "1234.5.6.7", "12.34.56.789",
      "1.2.3.4567", "1.2.3.4a", "1.2.3.4.", "1..2.3.4", " 1.2.3.4 ",
      "+123456", "++12345678", "+12345678901234567890", "+1.2345678",
      "mail 9a@b1-2.x-9.ab9.fr9.de next 255.255.255.255+12345678",
      "a@b.cc1.2.3.4+7654321", "a@-.-.ab", "1@2.34", "_@_.aa", "á@é.ok 1.2.3.4")
    val rnd = new scala.util.Random(42)
    val alphabet = "ab1._%+-@. 9Z".toCharArray
    val random = (1 to 400).map(_ =>
      (1 to (5 + rnd.nextInt(60))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val df = (adversarial ++ random).toDF("t")
    val bad = df.select(col("t"),
        operators.Privacy.piiCounts(col("t")).as("nat"),
        operators.Privacy.piiCountsRegex(col("t")).as("ref"),
        operators.Privacy.redact(col("t")).as("natr"),
        operators.Privacy.redactRegex(col("t")).as("refr"))
      .filter(col("nat") =!= col("ref") || col("natr") =!= col("refr"))
      .collect()
    assert(bad.isEmpty, s"scanner/regex divergence:\n${bad.take(5).mkString("\n")}")
  }

  test("TermRuns: fuzz parity with a plain-Scala bag-of-words over adversarial text") {
    // unicode letters (case-fold through UTF8String.toLowerCase), mixed
    // whitespace classes, separator runs, empty and blank strings
    val alphabet = "aAbBzZéÉαΑ \t\n\r\f09._".toCharArray
    val rnd = new scala.util.Random(7)
    val texts = Seq("", " ", "\t\n", "a", " a ", "A a aa") ++ (1 to 300).map(_ =>
      (1 to rnd.nextInt(80)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions.col
    val got = texts.toDF("t")
      .select(operators.TfIdf.termRuns(col("t")).as("tc"))
      .selectExpr("transform(tc, x -> concat(x.term, ':', x.tf)) AS p")
      .as[Seq[String]].collect()
    texts.zip(got).foreach { case (t, pairs) =>
      // reference: Java-regex tokenizer + lowercase + sorted bag count
      val toks = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val want = toks.groupBy(identity).view.mapValues(_.length.toLong)
        .toSeq.sortBy(_._1).map { case (k, v) => s"$k:$v" }
      assert(pairs == want, s"mismatch on ${t.map(_.toInt).mkString(",")}")
    }
  }

  test("ulong lane bit mapping: ulongDecimal∘ulongBits is identity over [0, 2^64)") {
    import graft.sketch.Kit
    val TWO64 = java.math.BigInteger.ONE.shiftLeft(64)
    val probes = Seq(
      java.math.BigInteger.ZERO, java.math.BigInteger.ONE,
      java.math.BigInteger.valueOf(Long.MaxValue),
      java.math.BigInteger.valueOf(Long.MaxValue).add(java.math.BigInteger.ONE), // 2^63
      TWO64.subtract(java.math.BigInteger.ONE)) ++
      Seq.fill(200)(new java.math.BigInteger(64, new java.util.Random(rnd.nextLong())))
    probes.foreach { bi =>
      val dec = org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(bi), 20, 0)
      val bits = Kit.ulongBits(dec)
      assert(Kit.ulongDecimal(bits).toJavaBigDecimal.toBigIntegerExact == bi, bi.toString)
    }
    // unsigned comparator order == BigInteger order through the mapping
    val sorted = probes.map(bi => (bi, Kit.ulongBits(
      org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(bi), 20, 0))))
    val byBig = sorted.sortBy(_._1).map(_._2)
    val byCmp = sorted.map(_._2).sortWith((a, b) => java.lang.Long.compareUnsigned(a, b) < 0)
    assert(byBig == byCmp)
    // out of range rejects
    intercept[IllegalArgumentException](Kit.ulongBits(
      org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(TWO64), 20, 0)))
    intercept[IllegalArgumentException](Kit.ulongBits(
      org.apache.spark.sql.types.Decimal(-1L)))
  }

  test("PQ: adc(lut(q), encode(x)) == sum of chosen-centroid dots, for random models") {
    import operators._
    for (trial <- 0 until 20) {
      val m = Seq(2, 4, 8)(trial % 3)
      val dim = 16
      val dsub = dim / m
      val ksub = Seq(2, 5, 16)(trial % 3)
      val books = Array.fill(m, ksub, dsub)(rnd.nextDouble() * 2 - 1)
      val model = ProductQuantizer.PqModel(m, dsub, ksub, books)
      val x = Array.fill(dim)(rnd.nextFloat())
      val q = Array.fill(dim)(rnd.nextFloat())
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      val codes = GraftRuntime.pqEncode(new GenericArrayData(x), model, m, dsub, ksub)
      val lut = GraftRuntime.pqLut(new GenericArrayData(q), model, m, dsub, ksub)
      val adc = GraftRuntime.pqAdc(lut, codes, ksub)
      // reference: per-sub brute-force argmin + dot of q_sub with the chosen centroid
      var expect = 0.0
      for (mi <- 0 until m) {
        val xs = x.slice(mi * dsub, (mi + 1) * dsub).map(_.toDouble)
        val qs = q.slice(mi * dsub, (mi + 1) * dsub).map(_.toDouble)
        val best = (0 until ksub).minBy { j =>
          val c = books(mi)(j)
          // same cc - 2*dot discriminant and tie direction as the runtime
          val cc = c.map(v => v * v).sum
          val d = cc - 2.0 * c.zip(xs).map { case (a, b) => a * b }.sum
          (d, j)
        }
        assert((codes(mi) & 0xff) == best, s"trial $trial sub $mi")
        expect += books(mi)(best).zip(qs).map { case (a, b) => a * b }.sum
      }
      assert(math.abs(adc - expect) < 1e-9, s"trial $trial: $adc vs $expect")
    }
  }

  test("AVI container fuzz: mux/demux round-trips arbitrary payloads; demux never throws") {
    val rnd = new Random(20260814)
    // round-trip: arbitrary frame payloads (incl. empty-frame-list and
    // odd lengths that exercise the even-byte padding) come back exact
    for (trial <- 0 until 50) {
      val n = rnd.nextInt(6)
      val fps = 1 + rnd.nextInt(60)
      val frames = Seq.fill(n) {
        val len = rnd.nextInt(200) // 0-length = MJPEG dropped-frame placeholder
        val b = new Array[Byte](len); rnd.nextBytes(b); b
      }
      val vs = operators.AviContainer.demux(operators.AviContainer.mux(fps, frames))
        .getOrElse(fail(s"trial $trial: demux of own mux returned None"))
      assert(vs.fps == fps, s"trial $trial")
      assert(vs.frames.size == n, s"trial $trial")
      assert(vs.frames.zip(frames).forall { case (a, b) => java.util.Arrays.equals(a, b) },
        s"trial $trial")
    }
    // fuzz: random bytes, and random corruptions of a VALID container,
    // must never throw - None or a successfully demuxed prefix are the
    // only acceptable outcomes
    val base = operators.AviContainer.mux(12,
      Seq.fill(4)(operators.MediaOps.testPngBytes(rnd.nextInt(50).toLong)))
    for (trial <- 0 until 300) {
      val bytes =
        if (trial % 3 == 0) { val b = new Array[Byte](rnd.nextInt(400)); rnd.nextBytes(b); b }
        else if (trial % 3 == 1) base.take(rnd.nextInt(base.length + 1))
        else {
          val b = base.clone()
          for (_ <- 0 to rnd.nextInt(8)) b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
          b
        }
      operators.AviContainer.demux(bytes) match {
        case Some(vs) => assert(vs.fps > 0 && vs.frames.size <= (1 << 20))
        case None => ()
      }
    }
  }

  test("MP4 container: round-trip property over payloads/fps/chunking; fuzz never throws") {
    val rnd = new scala.util.Random(20260815L)
    // round-trip: arbitrary payloads (incl. empty frame list and empty
    // samples) at random samples-per-chunk come back byte-exact
    for (trial <- 0 until 50) {
      val n = rnd.nextInt(6)
      val fps = 1 + rnd.nextInt(60)
      val spc = 1 + rnd.nextInt(4)
      val frames = Seq.fill(n) {
        val len = rnd.nextInt(200)
        val b = new Array[Byte](len); rnd.nextBytes(b); b
      }
      val vs = operators.Mp4Container
        .demux(operators.Mp4Container.mux(fps, frames, samplesPerChunk = spc))
        .getOrElse(fail(s"trial $trial: demux of own mux returned None"))
      assert(vs.fps == fps, s"trial $trial")
      assert(vs.frames.size == n, s"trial $trial")
      assert(vs.frames.zip(frames).forall { case (a, b) => java.util.Arrays.equals(a, b) },
        s"trial $trial")
    }
    // fuzz: random bytes, truncations, and random corruptions of a VALID
    // container must never throw - None or a demuxed prefix only
    val base = operators.Mp4Container.mux(12,
      Seq.fill(4)(operators.MediaOps.testPngBytes(rnd.nextInt(50).toLong)))
    for (trial <- 0 until 300) {
      val bytes =
        if (trial % 3 == 0) { val b = new Array[Byte](rnd.nextInt(400)); rnd.nextBytes(b); b }
        else if (trial % 3 == 1) base.take(rnd.nextInt(base.length + 1))
        else {
          val b = base.clone()
          for (_ <- 0 to rnd.nextInt(8)) b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
          b
        }
      operators.Mp4Container.demux(bytes) match {
        case Some(vs) => assert(vs.fps > 0 && vs.frames.size <= (1 << 20))
        case None => ()
      }
    }
  }

  test("MKV container: round-trip property over payloads/fps; fuzz never throws") {
    val rnd = new scala.util.Random(20260816L)
    // round-trip: arbitrary payloads (incl. empty frame list and empty
    // blocks) come back byte-exact with the fps preserved
    for (trial <- 0 until 50) {
      val n = rnd.nextInt(6)
      val fps = 1 + rnd.nextInt(60)
      val frames = Seq.fill(n) {
        val len = rnd.nextInt(200)
        val b = new Array[Byte](len); rnd.nextBytes(b); b
      }
      val vs = operators.MkvContainer.demux(operators.MkvContainer.mux(fps, frames))
        .getOrElse(fail(s"trial $trial: demux of own mux returned None"))
      assert(vs.fps == fps, s"trial $trial: ${vs.fps} != $fps")
      assert(vs.frames.size == n, s"trial $trial")
      assert(vs.frames.zip(frames).forall { case (a, b) => java.util.Arrays.equals(a, b) },
        s"trial $trial")
    }
    // fuzz: random bytes, truncations, and random corruptions of a VALID
    // container must never throw - None or a demuxed prefix only
    val base = operators.MkvContainer.mux(12,
      Seq.fill(4)(operators.MediaOps.testPngBytes(rnd.nextInt(50).toLong)))
    for (trial <- 0 until 300) {
      val bytes =
        if (trial % 3 == 0) { val b = new Array[Byte](rnd.nextInt(400)); rnd.nextBytes(b); b }
        else if (trial % 3 == 1) base.take(rnd.nextInt(base.length + 1))
        else {
          val b = base.clone()
          for (_ <- 0 to rnd.nextInt(8)) b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
          b
        }
      operators.MkvContainer.demux(bytes) match {
        case Some(vs) => assert(vs.fps > 0 && vs.frames.size <= (1 << 20))
        case None => ()
      }
    }
  }

  test("NB classifier edges: empty slices refuse; blanks train nothing; model round-trip total") {
    val spark2 = spark
    import spark2.implicits._
    val good = Seq((0L, "alpha beta gamma"), (1L, "delta epsilon zeta")).toDF("doc_id", "text")
    val blank = Seq((2L, "   "), (3L, "")).toDF("doc_id", "text")
    // an all-blank training slice is an error, not a degenerate model
    intercept[IllegalArgumentException] {
      operators.TextOps.seedCrawlNbFit(blank, good)
    }
    intercept[IllegalArgumentException] {
      operators.TextOps.seedCrawlNbFit(good, blank)
    }
    // blanks in a mixed slice contribute neither features nor prior mass:
    // the model equals the blank-free fit exactly
    val mixed = operators.TextOps.seedCrawlNbFit(
      good.unionByName(blank), good.limit(1))
    val pure = operators.TextOps.seedCrawlNbFit(good, good.limit(1))
    assert(mixed == pure)
    // round-trip through rows is total for any fit
    val rt = operators.TextOps.nbModelFromRows(operators.TextOps.nbModelToRows(mixed))
    assert(rt == mixed)
  }

  test("RuleStats/RuleGate: native == composed on 400 seeded adversarial strings") {
    val spark2 = spark
    import spark2.implicits._
    val r = new Random(20260816)
    // alphabet biased toward every special the scanner cares about:
    // whitespace variants, bullets, symbol runs, multibyte, stopwords,
    // lorem/brace fragments, PII-ish shapes
    val atoms = Vector(
      " ", " ", "\t", "\n", "\n", "\r", "the", "be", "to", "of", "and",
      "that", "have", "with", "word", "alpha", "x1", "#", "...", "..",
      ".", "!", "?", "\"", "-", "*", "\u2022", "\u2026", "{", "}",
      "lorem", "ipsum", "Lorem Ipsum", "caf\u00e9", "\u4f60\u597d",
      "a@b.co", "10.0.0.1", "+12345678", "")
    val texts = Seq.fill(400) {
      val n = r.nextInt(40)
      (0 until n).map(_ => atoms(r.nextInt(atoms.length)))
        .mkString(if (r.nextBoolean()) " " else "")
    }
    val d = texts.toDF("text")
    val both = d.select(
      operators.QualityFilters.ruleStats(col("text")).as("fast"),
      operators.QualityFilters.ruleStatsArrayOps(col("text")).as("ref"),
      col("text"))
    val bad = both.filter(col("fast") =!= col("ref"))
    assert(bad.count() == 0, bad.collect().take(5).mkString("\n"))
    val p = operators.QualityFilters.RuleParams(minWords = 2, maxWords = 30,
      minMeanWordLen = 1.5, maxMeanWordLen = 9.0, maxSymbolRatio = 0.15,
      maxBulletLineRatio = 0.4, maxEllipsisLineRatio = 0.25,
      minAlphaWordRatio = 0.6, minStopHits = 1, maxDupLineRatio = 0.2,
      minTermLines = 1)
    val g = d.select(operators.QualityFilters.rulePass(col("text"), p).as("gate"),
      operators.QualityFilters.ruleVerdicts(operators.QualityFilters.ruleStatsArrayOps(col("text")), p).as("v"))
    val mism = g.filter(col("gate") =!= (col("v.r_words") && col("v.r_mean_len") &&
      col("v.r_symbols") && col("v.r_bullets") && col("v.r_ellipsis") &&
      col("v.r_alpha") && col("v.r_stopwords") && col("v.r_dup_lines") &&
      col("v.r_terminal") && col("v.r_lorem") && col("v.r_brace")))
    assert(mism.count() == 0, mism.collect().take(5).mkString("\n"))
  }

  test("RuleGate generated code compiles (no silent interpreted fallback)") {
    // r19 advice: the gate's addReferenceObj class name must be one
    // Janino resolves — a bad name would not fail the query, it would
    // silently drop the hot path to interpreted eval. Generating an
    // UnsafeProjection compiles the Java source directly: a Janino error
    // surfaces as an exception here instead of a fallback.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Alias, BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ObjectType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val params = operators.QualityFilters.RuleParams(checkRepetition = true)
    val gate = operators.Kernel.ruleGate.call(BoundReference(0, StringType, nullable = true),
      Literal(params, ObjectType(params.getClass))).replacement
    val proj = GenerateUnsafeProjection.generate(Seq(Alias(gate, "ok")()))
    val texts = Seq(
      "the words be to of and that have with " + ("alpha beta " * 40),
      "short", "{ code }", "lorem ipsum " * 30, "")
    for (t <- texts) {
      val row = InternalRow(UTF8String.fromString(t))
      val compiled = proj(row).getBoolean(0)
      val interpreted = gate.eval(row).asInstanceOf[Boolean]
      assert(compiled == interpreted, s"codegen/interpreted split on: $t")
    }
  }
}
