package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

import org.apache.datasketches.cpc.{CpcSketch, CpcUnion}
import org.apache.datasketches.frequencies.ItemsSketch
import org.apache.datasketches.hll
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.quantiles.{DoublesSketch, DoublesUnion}
import org.apache.datasketches.req.ReqSketch
import org.apache.datasketches.tdigest.TDigestDouble
import org.apache.datasketches.theta
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sketch._
import graft.sketch.Kit.{ElemType, mem, stringsSerDe}

/** The raw-value partial buffers of the eight raw-input build aggregates
  * ([[PartialBuildAgg]]): a partial keeps up to [[Partial.Capacity]] values
  * raw and ships them in a graft-private form, while every emitted BLOB
  * stays the library's own format. Pins merge-order invariance around the
  * capacity, byte parity with a direct library build, the library-format
  * partials of earlier state, copying of reused input values, the
  * NULL-versus-empty-blob results, the window path, CPC's one-union
  * merge, and the HLL and CPC union aggregates over stored blobs. */
class PartialBufferSpec extends SparkTestBase {

  private val Cap = Partial.Capacity
  private val sizes = Seq(0, 1, Cap - 1, Cap, Cap + 1, 10 * Cap)

  private val lng = BoundReference(0, LongType, nullable = true)
  private val dbl = BoundReference(0, DoubleType, nullable = true)
  private val str = BoundReference(0, StringType, nullable = true)
  private val bin = BoundReference(0, BinaryType, nullable = true)

  private def row(v: Any): InternalRow = new GenericInternalRow(Array[Any](v))

  private def build[T](agg: TypedImperativeAggregate[T], vals: Seq[Any]): T =
    vals.foldLeft(agg.createAggregationBuffer())((b, v) => agg.update(b, row(v)))

  /** What the shuffle does to a partial. */
  private def shipped[T](agg: TypedImperativeAggregate[T], buf: T): T =
    agg.deserialize(agg.serialize(buf))

  /** A final-side buffer: every partial shipped, merged in the given order. */
  private def mergeAll[T](agg: TypedImperativeAggregate[T], parts: Seq[T]): T =
    parts.foldLeft(agg.createAggregationBuffer())((b, p) => agg.merge(b, shipped(agg, p)))

  /** Partials merged pairwise, each intermediate shipped again (the shape of
    * a multi-level or sort-fallback merge). */
  private def mergeTree[T](agg: TypedImperativeAggregate[T], parts: Seq[T]): T =
    if (parts.size == 1) mergeAll(agg, parts)
    else mergeTree(agg, parts.grouped(2).map(mergeAll(agg, _)).toSeq)

  private def blob[T](agg: TypedImperativeAggregate[T], buf: T): Array[Byte] =
    agg.eval(buf).asInstanceOf[Array[Byte]]

  /** One family: its aggregate, the i-th input value, the order-invariant
    * figures of an emitted BLOB, and the library-format partial the buffer
    * serialized to before partials could be raw. A direct library build
    * emits that image too, NULL for no values unless the family emits an
    * empty sketch; HLL and REQ emit a different image (`emit`). */
  private case class Fam(
      name: String,
      agg: TypedImperativeAggregate[_],
      value: Int => Any,
      figures: Array[Byte] => Seq[Any],
      legacy: Seq[Any] => Array[Byte],
      emptyBlob: Boolean = false,
      emit: Option[Seq[Any] => Array[Byte]] = None) {
    def direct(vs: Seq[Any]): Array[Byte] =
      emit.fold(if (vs.isEmpty && !emptyBlob) null else legacy(vs))(_(vs))
  }

  private def longVal(i: Int): Any = i.toLong * 7919L + 13L
  private def dblVal(i: Int): Any = ((i * 7919) % 1009) / 7.0 - 40.0

  private def hllOf(vs: Seq[Any]): hll.Union = {
    val u = new hll.Union(16)
    vs.foreach(v => u.update(v.asInstanceOf[Long]))
    u
  }

  // HLL at lg_k 16 stays in coupon mode over these counts, where merged
  // and direct builds estimate from the same coupon set.
  private val families: Seq[Fam] = Seq(
    Fam("hll", HllBuildAgg(16, lng), longVal, { b =>
      val s = hll.HllSketch.heapify(mem(b))
      Seq(s.getEstimate, s.getLowerBound(1), s.getUpperBound(1))
    }, vs => hllOf(vs).getResult(hll.TgtHllType.HLL_8).toUpdatableByteArray, emit = Some { vs =>
      val r = hllOf(vs).getResult(hll.TgtHllType.HLL_4)
      if (r.isEmpty) null else r.toUpdatableByteArray
    }),
    // a merged CPC sketch estimates by ICON; the direct build's figure is
    // its ICON image (the build passed through a union)
    Fam("cpc", CpcBuildAgg(11, lng), longVal, { b =>
      val u = new CpcUnion(11)
      u.update(CpcSketch.heapify(mem(b)))
      val s = u.getResult
      Seq(s.getEstimate, s.getLowerBound(1), s.getUpperBound(1))
    }, { vs =>
      val s = new CpcSketch(11)
      vs.foreach(v => s.update(v.asInstanceOf[Long]))
      s.toByteArray
    }),
    Fam("theta", ThetaAgg(12, lng), longVal, { b =>
      val s = theta.Sketches.wrapSketch(mem(b))
      Seq(s.getEstimate, s.getRetainedEntries(true))
    }, { vs =>
      val u = theta.SetOperation.builder().setLogNominalEntries(12).buildUnion()
      vs.foreach(v => u.update(v.asInstanceOf[Long]))
      u.getResult.toByteArray
    }, emptyBlob = true),
    Fam("kll", KllAgg(200, dbl, ElemType.Dbl), dblVal, { b =>
      val s = KllDoublesSketch.heapify(mem(b))
      Seq(s.getN, s.getMinItem, s.getMaxItem)
    }, { vs =>
      val s = KllDoublesSketch.newHeapInstance(200)
      vs.foreach(v => s.update(v.asInstanceOf[Double]))
      s.toByteArray
    }),
    Fam("quantiles", QuantilesAgg(128, dbl, ElemType.Dbl), dblVal, { b =>
      val s = DoublesSketch.heapify(mem(b))
      Seq(s.getN, s.getMinItem, s.getMaxItem)
    }, { vs =>
      val u = DoublesUnion.builder().setMaxK(128).build()
      vs.foreach(v => u.update(v.asInstanceOf[Double]))
      u.getResult.toByteArray(false)
    }),
    Fam("req", ReqAgg(12, dbl), dblVal, { b =>
      val s = ReqSketch.heapify(mem(b))
      Seq(s.getN, s.getMinItem, s.getMaxItem)
    }, { vs =>
      val s = ReqSketch.builder().setK(12).build()
      vs.foreach(v => s.update(v.asInstanceOf[Double].toFloat))
      s.toByteArray
    }, emit = Some { vs =>
      // emitted with level 0 sorted, as the reference does: merged once
      val s = ReqSketch.builder().setK(12).build()
      vs.foreach(v => s.update(v.asInstanceOf[Double].toFloat))
      if (s.isEmpty) null else ReqSketch.builder().setK(12).build().merge(s).toByteArray
    }),
    Fam("tdigest", TDigestAgg(100, dbl), dblVal, { b =>
      val s = TDigestDouble.heapify(mem(b))
      Seq(s.getTotalWeight, s.getMinValue, s.getMaxValue)
    }, { vs =>
      val s = new TDigestDouble(100.toShort)
      vs.foreach(v => s.update(v.asInstanceOf[Double]))
      s.toByteArray
    }),
    // 37 distinct items: the sketch stays exact, so every estimate is a count
    Fam("frequent_items", FreqItemsAgg(10, lng), i => (i % 37).toLong, { b =>
      val s = ItemsSketch.getInstance(mem(b), stringsSerDe)
      Seq(s.getStreamLength, s.getNumActiveItems) ++ (0 until 37).map(k => s.getEstimate(k.toString))
    }, { vs =>
      val s = new ItemsSketch[String](1 << 10)
      vs.foreach(v => s.update(v.toString))
      s.toByteArray(stringsSerDe)
    }, emptyBlob = true))

  private val randomized = Set("kll", "quantiles", "req")

  private def figuresOf(f: Fam, b: Array[Byte]): Seq[Any] = if (b == null) Nil else f.figures(b)

  test("partials of 0, 1, cap-1, cap, cap+1 and 10x cap merge order-invariantly to a single-buffer build") {
    families.foreach { f =>
      def check[T](agg: TypedImperativeAggregate[T]): Unit = {
        val chunks = sizes.scanLeft(0)(_ + _).sliding(2).map { case Seq(a, b) => (a until b).map(f.value) }.toSeq
        val all = chunks.flatten
        val single = figuresOf(f, blob(agg, build(agg, all)))
        val parts = chunks.map(build(agg, _))
        val orders = Seq(parts, parts.reverse, new Random(7).shuffle(parts),
          parts.sortBy(p => -agg.serialize(p).length))
        orders.zipWithIndex.foreach { case (order, i) =>
          assert(figuresOf(f, blob(agg, mergeAll(agg, order))) == single, s"${f.name}: order $i")
          assert(figuresOf(f, blob(agg, mergeTree(agg, order))) == single, s"${f.name}: tree order $i")
        }
        // raw partials whose union stays within the capacity merge raw
        val small = Seq(0, 1, Cap - 2).scanLeft(0)(_ + _).sliding(2)
          .map { case Seq(a, b) => build(agg, (a until b).map(f.value)) }.toSeq
        assert(figuresOf(f, blob(agg, mergeAll(agg, small.reverse))) ==
          figuresOf(f, blob(agg, build(agg, (0 until Cap - 1).map(f.value)))), s"${f.name}: raw merge")
      }
      check(f.agg)
    }
  }

  test("a single partial is byte-identical to a direct library build") {
    families.foreach { f =>
      def check[T](agg: TypedImperativeAggregate[T]): Unit = sizes.foreach { n =>
        val vals = (0 until n).map(f.value)
        val want = f.direct(vals)
        val buf = build(agg, vals)
        // KLL, classic quantiles and REQ compact with random coin flips, so
        // two direct builds of 10x cap values differ too: compare figures
        if (randomized(f.name) && n > 2 * Cap)
          assert(figuresOf(f, blob(agg, buf)) == figuresOf(f, want), s"${f.name} n=$n")
        else assert(java.util.Arrays.equals(blob(agg, buf), want), s"${f.name} n=$n: buffer")
        // one raw partial through the shuffle: the group's output is unchanged
        if (n <= Cap)
          assert(java.util.Arrays.equals(blob(agg, mergeAll(agg, Seq(buf))), want), s"${f.name} n=$n: shipped")
      }
      check(f.agg)
    }
  }

  test("string inputs hash their UTF-8 bytes exactly as the library's String overloads") {
    val base = Seq("", "a", "hello world", "日本語", "ñandú", "😀🎉", "mixé😀", "")
    val strs = base ++ (0 until 2 * Cap).map(i => s"s$i-日😀")
    // invalid UTF-8 decodes to U+FFFD before the library sees it
    val invalid = UTF8String.fromBytes(Array(0xC3.toByte, 0x28.toByte))
    def inputs(n: Int): Seq[UTF8String] = strs.take(n).map(UTF8String.fromString) :+ invalid
    def viaString[S](s: S, vs: Seq[UTF8String])(upd: (S, String) => Unit): S = { vs.foreach(v => upd(s, v.toString)); s }
    Seq(1, base.size, Cap + 5, strs.size).foreach { n =>
      val vs = inputs(n)
      val h = HllBuildAgg(12, str)
      val hWant = viaString(new hll.Union(12), vs)(_.update(_)).getResult(hll.TgtHllType.HLL_4).toUpdatableByteArray
      assert(java.util.Arrays.equals(blob(h, build(h, vs)), hWant), s"hll n=$n")
      val c = CpcBuildAgg(11, str)
      assert(java.util.Arrays.equals(blob(c, build(c, vs)),
        viaString(new CpcSketch(11), vs)(_.update(_)).toByteArray), s"cpc n=$n")
      val t = ThetaAgg(12, str)
      val tWant = viaString(theta.SetOperation.builder().setLogNominalEntries(12).buildUnion(), vs)(_.update(_))
      assert(java.util.Arrays.equals(blob(t, build(t, vs)), tWant.getResult.toByteArray), s"theta n=$n")
      val fi = FreqItemsAgg(10, str)
      assert(java.util.Arrays.equals(blob(fi, build(fi, vs)),
        viaString(new ItemsSketch[String](1 << 10), vs)(_.update(_)).toByteArray(stringsSerDe)), s"fi n=$n")
    }
    // empty strings alone leave the counting sketches empty, as before
    val empties = Seq.fill(3)(UTF8String.fromString(""))
    assert(HllBuildAgg(12, str).eval(build(HllBuildAgg(12, str), empties)) == null)
    assert(CpcBuildAgg(11, str).eval(build(CpcBuildAgg(11, str), empties)) == null)
  }

  test("library-format partials (state written before raw partials) still deserialize and merge") {
    families.foreach { f =>
      def check[T](agg: TypedImperativeAggregate[T]): Unit = Seq(0, 1, 5, Cap + 1, 10 * Cap).foreach { n =>
        val vals = (0 until n).map(f.value)
        val legacy = f.legacy(vals)
        assert(legacy(0) != Partial.Tag, s"${f.name} n=$n: a library preamble starts with the raw tag")
        val buf = agg.deserialize(legacy)
        assert(figuresOf(f, blob(agg, buf)) == figuresOf(f, f.direct(vals)), s"${f.name} n=$n")
        // a legacy partial merges with raw ones
        val more = (n until n + 3).map(f.value)
        val merged = agg.merge(agg.merge(agg.createAggregationBuffer(), buf), shipped(agg, build(agg, more)))
        assert(figuresOf(f, blob(agg, merged)) == figuresOf(f, blob(agg, build(agg, vals ++ more))),
          s"${f.name} n=$n: merged")
      }
      check(f.agg)
    }
  }

  test("kept string and binary values are copies, not views of a reused input") {
    val n = 10
    def keys(i: Int): String = f"key$i%02d"
    // a reused UnsafeRow from a projection, as an aggregate reads its input
    val proj = UnsafeProjection.create(Array[DataType](StringType))
    def unsafeRows(agg: TypedImperativeAggregate[_]): Array[Byte] = {
      def go[T](a: TypedImperativeAggregate[T]): Array[Byte] = {
        var buf = a.createAggregationBuffer()
        (0 until n).foreach(i => buf = a.update(buf, proj(row(UTF8String.fromString(keys(i))))))
        blob(a, buf)
      }
      go(agg)
    }
    // one byte array, rewritten in place between rows
    def sharedArray(agg: TypedImperativeAggregate[_], asString: Boolean): Array[Byte] = {
      def go[T](a: TypedImperativeAggregate[T]): Array[Byte] = {
        val shared = new Array[Byte](5)
        var buf = a.createAggregationBuffer()
        (0 until n).foreach { i =>
          System.arraycopy(keys(i).getBytes(UTF_8), 0, shared, 0, 5)
          buf = a.update(buf, row(if (asString) UTF8String.fromBytes(shared) else shared))
        }
        blob(a, buf)
      }
      go(agg)
    }
    val fresh = (0 until n).map(i => UTF8String.fromString(keys(i)))
    Seq[TypedImperativeAggregate[_]](HllBuildAgg(12, str), CpcBuildAgg(11, str), ThetaAgg(12, str),
        FreqItemsAgg(10, str)).foreach { agg =>
      def want[T](a: TypedImperativeAggregate[T]): Array[Byte] = blob(a, build(a, fresh))
      val w = want(agg)
      assert(java.util.Arrays.equals(unsafeRows(agg), w), s"${agg.prettyName}: UnsafeRow")
      assert(java.util.Arrays.equals(sharedArray(agg, asString = true), w), s"${agg.prettyName}: shared UTF8String")
    }
    Seq[TypedImperativeAggregate[_]](HllBuildAgg(12, bin), CpcBuildAgg(11, bin)).foreach { agg =>
      def want[T](a: TypedImperativeAggregate[T]): Array[Byte] = blob(a, build(a, (0 until n).map(i => keys(i).getBytes(UTF_8))))
      assert(java.util.Arrays.equals(sharedArray(agg, asString = false), want(agg)), s"${agg.prettyName}: shared binary")
    }
  }

  test("empty and all-NULL groups keep each family's NULL-versus-empty-blob result") {
    val aggs = "datasketch_hll(12, v) h, datasketch_cpc(11, v) c, datasketch_theta(v) t, " +
      "datasketch_kll(200, d) k, datasketch_quantiles(128, d) q, datasketch_req(12, d) r, " +
      "datasketch_tdigest(100, d) td, datasketch_frequent_items(v) fi"
    val src = "VALUES (1, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)), (1, NULL, NULL), (2, 5L, 1.5) AS s(g, v, d)"
    val byGroup = sql(s"SELECT g, $aggs FROM $src GROUP BY g ORDER BY g").collect()
    val global = sql(s"SELECT 0, $aggs FROM $src WHERE g > 2").collect()
    Seq(byGroup(0), global.head).foreach { r =>
      (1 to 8).foreach { c =>
        val nonNull = c == 3 || c == 8 // theta and frequent items emit an empty sketch
        assert(r.isNullAt(c) != nonNull, s"column $c of $r")
      }
      assert(theta.Sketches.wrapSketch(mem(r.getAs[Array[Byte]](3))).isEmpty)
      assert(ItemsSketch.getInstance(mem(r.getAs[Array[Byte]](8)), stringsSerDe).isEmpty)
    }
    assert((1 to 8).forall(c => !byGroup(1).isNullAt(c)))
    // and at the buffer level, through the shuffle
    families.foreach { f =>
      def check[T](agg: TypedImperativeAggregate[T]): Unit = {
        val empty = agg.createAggregationBuffer()
        val want = f.direct(Nil)
        Seq(empty, shipped(agg, empty), mergeAll(agg, Seq(empty, empty))).foreach { b =>
          assert(java.util.Arrays.equals(blob(agg, b), want), f.name)
        }
      }
      check(f.agg)
    }
  }

  test("window frames over the build aggregates") {
    spark.range(0, 300).selectExpr("id % 2 AS g", "id AS i", "id * 31 AS v", "CAST(id AS DOUBLE) / 4 AS d")
      .createOrReplaceTempView("pb_win")
    def frame(spec: String) = sql(
      s"""SELECT g, i,
         |  row_number() OVER (PARTITION BY g ORDER BY i) AS pos,
         |  datasketch_kll_n(datasketch_kll(200, d) OVER w) AS kn,
         |  datasketch_quantiles_n(datasketch_quantiles(128, d) OVER w) AS qn,
         |  CAST(datasketch_theta_estimate(datasketch_theta(v) OVER w) AS BIGINT) AS te,
         |  datasketch_frequent_items_total_weight(datasketch_frequent_items(v) OVER w) AS fw,
         |  CAST(datasketch_tdigest_total_weight(datasketch_tdigest(100, d) OVER w) AS BIGINT) AS tw,
         |  round(datasketch_hll_estimate(datasketch_hll(12, v) OVER w)) AS he
         |FROM pb_win WINDOW w AS (PARTITION BY g ORDER BY i $spec)""".stripMargin).collect()
    // a running frame grows through the capacity: 150 rows per group
    frame("ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW").foreach { r =>
      val n = r.getInt(2).toLong
      assert(Seq(r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)) == Seq.fill(5)(n), r.toString)
      if (n <= Cap) assert(r.getDouble(8) == n.toDouble, r.toString)
    }
    frame("ROWS BETWEEN 9 PRECEDING AND CURRENT ROW").foreach { r =>
      val n = math.min(r.getInt(2), 10).toLong
      assert(Seq(r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)) == Seq.fill(5)(n), r.toString)
    }
  }

  test("CPC merge keeps one union: estimate and bounds match the pairwise path for 2, 8 and 32 partials") {
    val agg = CpcBuildAgg(11, lng)
    Seq(2, 8, 32).foreach { parts =>
      // overlapping partials of 300 values, each past the capacity
      val partials = (0 until parts).map(p => build(agg, (p * 150 until p * 150 + 300).map(longVal)))
      val merged = CpcSketch.heapify(mem(blob(agg, mergeAll(agg, partials))))
      // the previous merge: a fresh union per partial, re-ingesting the accumulator
      var acc = new CpcSketch(11)
      partials.foreach { b =>
        val u = new CpcUnion(11)
        u.update(acc); u.update(CpcSketch.heapify(mem(agg.serialize(b))))
        acc = u.getResult
      }
      assert(merged.getEstimate == acc.getEstimate, s"$parts partials")
      (1 to 3).foreach { kappa =>
        assert(merged.getLowerBound(kappa) == acc.getLowerBound(kappa), s"$parts partials, lb $kappa")
        assert(merged.getUpperBound(kappa) == acc.getUpperBound(kappa), s"$parts partials, ub $kappa")
      }
    }
  }

  test("hll and cpc union aggregates over stored blobs from 1, 2 and 8 partitions match a library union") {
    val root = java.nio.file.Files.createTempDirectory("pb_union")
    try {
      val dir = root.resolve("blobs").toString
      // 20 blobs; neighbours share values, 10,000 distinct in all (estimation mode)
      sql("SELECT datasketch_hll(12, id DIV 2) AS h, datasketch_cpc(11, id DIV 2) AS c " +
        "FROM range(0, 20000) GROUP BY id % 20").write.parquet(dir)
      spark.read.parquet(dir).createOrReplaceTempView("pb_union_blobs")
      sql("SELECT 1 AS g, h, c FROM pb_union_blobs " +
        "UNION ALL SELECT 1, CAST(NULL AS BINARY), CAST(NULL AS BINARY) FROM range(7) " +
        "UNION ALL SELECT 2, CAST(NULL AS BINARY), CAST(NULL AS BINARY) FROM range(3)")
        .createOrReplaceTempView("pb_union_in")
      val stored = sql("SELECT h, c FROM pb_union_blobs").collect()
      val hu = new hll.Union(12)
      val cu = new CpcUnion(11)
      stored.foreach { r =>
        hu.update(hll.HllSketch.heapify(mem(r.getAs[Array[Byte]](0))))
        cu.update(CpcSketch.heapify(mem(r.getAs[Array[Byte]](1))))
      }
      val hWant = hu.getResult(hll.TgtHllType.HLL_4)
      val cWant = cu.getResult
      Seq(1, 2, 8).foreach { parts =>
        val input = sql(s"SELECT /*+ REPARTITION($parts) */ * FROM pb_union_in")
        assert(input.rdd.getNumPartitions == parts)
        input.createOrReplaceTempView("pb_union_parts")
        val rows = sql("SELECT g, datasketch_hll_union(12, h), datasketch_cpc_union(11, c) " +
          "FROM pb_union_parts GROUP BY g ORDER BY g").collect()
        assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
        val h = hll.HllSketch.heapify(mem(rows(0).getAs[Array[Byte]](1)))
        val c = CpcSketch.heapify(mem(rows(0).getAs[Array[Byte]](2)))
        assert(h.getEstimate == hWant.getEstimate, s"hll, $parts partitions")
        assert(c.getEstimate == cWant.getEstimate, s"cpc, $parts partitions")
        (1 to 3).foreach { kappa =>
          assert(h.getLowerBound(kappa) == hWant.getLowerBound(kappa), s"hll lb $kappa, $parts partitions")
          assert(h.getUpperBound(kappa) == hWant.getUpperBound(kappa), s"hll ub $kappa, $parts partitions")
          assert(c.getLowerBound(kappa) == cWant.getLowerBound(kappa), s"cpc lb $kappa, $parts partitions")
          assert(c.getUpperBound(kappa) == cWant.getUpperBound(kappa), s"cpc ub $kappa, $parts partitions")
        }
        // the all-NULL group, and a global aggregate over no rows
        assert(rows(1).isNullAt(1) && rows(1).isNullAt(2), s"all-NULL group, $parts partitions")
        val empty = sql("SELECT datasketch_hll_union(12, h), datasketch_cpc_union(11, c) " +
          "FROM pb_union_parts WHERE g > 2").collect()
        assert(empty.length == 1 && empty(0).isNullAt(0) && empty(0).isNullAt(1), s"empty, $parts partitions")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }
}
