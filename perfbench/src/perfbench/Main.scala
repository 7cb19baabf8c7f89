package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import Out.Metric

/** Runs one workload with one closed-loop client on `local[4]` and prints
  * every metric by name and unit, then the one-line JSON result.
  *
  * `--trace 0` reports the end-to-end metrics with tracing off. `--trace 1`
  * alternates traced and untraced op pairs, reports the per-layer metrics of
  * the traced ops plus the traced-vs-untraced overhead, and writes the spans
  * to `--trace-out`. */
object Main {
  /** Set-up repetitions whose median is `setup_s`'s input-build part. */
  val SetupReps = 3
  /** Every op kind runs at least this often, however slow. */
  val MinOps = 3
  /** Rows of sketch_ingest's input the micro-timings and the guard use. */
  val MicroRows = 200000
  /** Rows of that input the guard checks in every run. */
  val GuardRows = 64000

  /** The benchmark's own files: their call sites are not program layers. */
  val BenchFiles = Set("Main", "Gen", "Ingest", "Curate", "Micro", "Trace", "Workload", "Out", "SelfTest")

  /** `operators.<File>` layers reported by name; other program files are
    * summed under `operators.other`. */
  val OperatorFiles = Seq("Pipeline", "DedupOps", "KMeansOps", "QuotaSample", "StreamingDedup")

  val Families = Micro.families.map(_.label)

  /** The per-layer metrics, in the order BENCHMARK.json lists them. */
  val LayerUnits: Seq[(String, String)] =
    Seq("bind.parsing_ms" -> "ms", "bind.analysis_ms" -> "ms",
      "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
      "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
      "driver.residual_ms" -> "ms",
      "exec.run_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
      "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
      "spill.disk_bytes" -> "bytes", "storage.block_bytes_peak" -> "bytes") ++
    Families.flatMap(f => Seq("update_ns", "serialize_ns", "deserialize_ns", "merge_ns", "probe_ns")
      .map(k => s"sketch.$f.$k" -> "ns") :+ (s"sketch.$f.blob_bytes" -> "bytes")) ++
    (OperatorFiles :+ "other").flatMap(f => Seq(s"operators.$f.stages" -> "count", s"operators.$f.exec_ms" -> "ms")) ++
    Seq("curate.build_s" -> "s", "curate.action_s" -> "s",
      "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms",
      "stream.query_planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
      "trace.overhead_pct" -> "%")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, traceOut: Option[Path])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, m.get("trace-out").map(Paths.get(_).toAbsolutePath))
    require(Workload.names.contains(o.workload), s"unknown workload ${o.workload}; one of ${Workload.names.mkString(", ")}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o
  }

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      // the sort-fallback threshold graft's own entry points run with
      // (EntryInfra.prep), so the wide shape crosses the same boundary
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2048")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def seconds[T](body: => T): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Heap occupancy after each collection, from the collectors'
    * notifications: the live data plus old-generation garbage not yet
    * collected. */
  object HeapWatch {
    /** (collection start, bytes used after it), in JVM uptime ms. */
    private val samples = mutable.ArrayBuffer.empty[(Long, Long)]
    def start(): Unit = {
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
        gc.asInstanceOf[NotificationEmitter].addNotificationListener((n, _) => {
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { samples += info.getGcInfo.getStartTime -> used }
          }
        }, null, null)
      }
    }
    def uptime: Long = ManagementFactory.getRuntimeMXBean.getUptime
    /** The largest occupancy left by a collection that started in [from, until]. */
    def peakMb(from: Long, until: Long): Double = synchronized {
      samples.collect { case (t, b) if t >= from && t <= until => b }.maxOption.getOrElse(0L) / (1024.0 * 1024.0)
    }
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    HeapWatch.start()
    Files.createDirectories(o.work)
    val spark = session(o.work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val code =
      try run(o, spark, sessionS)
      finally spark.stop()
    sys.exit(code)
  }

  private final case class OpRun(kind: String, ms: Double, traced: Boolean, check: () => Option[String])

  def run(o: Opts, spark: SparkSession, sessionS: Double): Int = {
    val tr = new Tracer(spark.sparkContext)
    val wl = Workload(o.workload, spark, o.seed, o.work)
    val (ka, kb) = wl.kinds
    println(s"workload ${o.workload} seed ${o.seed} seconds ${o.seconds} trace ${if (o.trace) 1 else 0}: ${wl.describe}")

    if (o.trace) tr.watchStorage(spark)
    val prepS = (0 until SetupReps).map(_ => seconds(wl.prepare()))
    wl.oracle()
    val warmS = seconds(wl.warm(tr))
    val setupS = sessionS + Stats.median(prepS) + warmS

    val runs = mutable.ArrayBuffer.empty[OpRun]
    var failedOps = 0
    def count(k: String) = runs.count(_.kind == k)
    val deadline = tr.now + o.seconds * 1000.0
    val loopStart = HeapWatch.uptime
    var i = 0
    try {
      while (tr.now < deadline || count(ka) < MinOps || count(kb) < MinOps) {
        val kind = if (i % 2 == 0) ka else kb
        val traced = o.trace && (i / 2) % 2 == 0
        if (traced) tr.attach(spark) else tr.detach(spark)
        wl.before(kind, i)
        // every op starts from a collected heap, so the garbage of earlier
        // ops neither slows it nor counts in its peak heap
        System.gc()
        try {
          var check: () => Option[String] = null
          val ms = tr.op(i, kind) { check = wl.op(kind, i, tr) }
          runs += OpRun(kind, ms, traced, check)
          System.err.println(s"op $i $kind ${Out.fixed(ms, 1)} ms${if (traced) " traced" else ""}")
        } catch {
          case e: Exception =>
            failedOps += 1
            System.err.println(s"op $i ($kind) failed: $e")
            e.printStackTrace()
            if (failedOps > 3) throw e
        }
        i += 1
      }
      tr.detach(spark)
    } finally wl.close()
    val loopEnd = HeapWatch.uptime

    val wrong = runs.count { r =>
      val res = try r.check() catch { case e: Exception => Some(s"check threw $e") }
      res.foreach(m => System.err.println(s"incorrect ${r.kind} op: $m"))
      res.nonEmpty
    }
    val microRows = Micro.sample(o.seed, Ingest.Shape, MicroRows)
    val guardFailed = Micro.families.filterNot { f =>
      val ok = Micro.guard(f, microRows.take(GuardRows))
      if (!ok) System.err.println(s"guard: ${f.label} deserialize(serialize(buf)) evaluates differently")
      ok
    }.map(_.label).toSet
    // read after the checks, so the loop's last notifications have arrived
    val peakHeapMb = HeapWatch.peakMb(loopStart, loopEnd)
    val attempted = runs.size + failedOps + Micro.families.size
    val failed = failedOps + wrong + guardFailed.size

    def lat(k: String, traced: Boolean) = runs.filter(r => r.kind == k && r.traced == traced).map(_.ms).toSeq
    val untraced = runs.filterNot(_.traced).map(_.ms).toSeq
    val p90 = Stats.quantile(untraced, 0.9)
    val beyond = untraced.count(_ > p90)

    val metrics: Seq[Metric] =
      if (!o.trace) Seq(
        Metric("setup_s", setupS, "s"),
        Metric("a_p50_ms", Stats.median(lat(ka, traced = false)), "ms"),
        Metric("b_p50_ms", Stats.median(lat(kb, traced = false)), "ms"),
        Metric("peak_heap_mb", peakHeapMb, "MB"),
        Metric("ok_frac", (attempted - failed).toDouble / attempted, "ratio"))
      else {
        val spans = tr.attributed()
        o.traceOut.foreach(p => tr.write(p, spans))
        val layers = Layers(spans, f => !BenchFiles(f))
        val ops = layers.collect { case (k, v) if k.startsWith("operators.") &&
            !OperatorFiles.exists(f => k.startsWith(s"operators.$f.")) =>
          k.split('.')(2) -> v }.groupBy(_._1).map { case (k, vs) => s"operators.other.$k" -> vs.values.sum }
        val overhead = Seq(ka, kb).map { k =>
          Stats.median(lat(k, traced = true)) / Stats.median(lat(k, traced = false)) - 1
        }.sum / 2 * 100
        val micro = Micro.families.filterNot(f => guardFailed(f.label)).flatMap { f =>
          Micro.time(f, microRows, rounds = 3).map { case (k, v) => s"sketch.${f.label}.$k" -> v }
        }.toMap
        val all = layers ++ ops ++ micro ++ Map(
          "storage.block_bytes_peak" -> tr.storagePeakBytes, "trace.overhead_pct" -> overhead)
        LayerUnits.map { case (n, u) => Metric(n, all.getOrElse(n, 0.0), u) }
      }

    println(s"ops: ${count(ka)} $ka, ${count(kb)} $kb (${runs.count(_.traced)} traced); " +
      s"attempted $attempted, failed $failed")
    println(s"setup: session ${Out.fixed(sessionS, 3)} s, inputs ${prepS.map(Out.fixed(_, 3)).mkString("/")} s, " +
      s"warm-up ${Out.fixed(warmS, 3)} s")
    println(s"memory: peak heap after GC in the timed ops ${Out.fixed(peakHeapMb, 1)} MB, VmHWM ${Out.fixed(peakRssMb(), 1)} MB " +
      "(the fixed heap is most of VmHWM)")
    println(s"all-op latency: p50 ${Out.fixed(Stats.median(untraced), 3)} ms, p90 ${Out.fixed(p90, 3)} ms " +
      s"over ${untraced.size} untraced ops ($beyond beyond p90)")
    Out.table(metrics).foreach(println)
    println(Out.resultLine(attempted, failed, metrics))
    0
  }
}
