package perfbench

import scala.collection.mutable

import org.apache.spark.{BenchShims, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval; times are ms since the run's origin. `parent` and
  * `op` are -1 until the span is attributed. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** Spans kept in memory and written out when the run ends. Bench-side spans
  * wrap each call into a layer; the listeners add one span per Spark job,
  * stage, Catalyst phase and streaming trigger.
  *
  * Each op tags the jobs it submits with its id, as the local property
  * [[Tracer.OpKey]]; a stage belongs to its job's op. Catalyst phases and
  * streaming triggers carry no properties, and jobs of the stream's own
  * thread carry none either: these belong to the op whose wall interval holds
  * their start (one closed-loop client, so nothing else runs inside an op's
  * interval). Their times are whole epoch milliseconds, so a start up to
  * [[Tracer.ClockSlackMs]] before an op's start still belongs to that op. */
final class Tracer(sc: SparkContext) {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis().toDouble
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile private var curOp: Long = -1
  @volatile private var on = false

  def now: Double = (System.nanoTime() - originNs) / 1e6
  private def rel(epochMs: Long): Double = epochMs - originEpochMs
  private def add(s: Span): Unit = synchronized { spans += s }

  /** Time `body` as a span under the innermost open span of this thread. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(-1L)
      stack.set(id :: stack.get)
      val t0 = now
      try body
      finally {
        stack.set(stack.get.tail)
        add(Span(id, parent, curOp, name, t0, now))
      }
    }

  /** Time one op as a root span; returns its wall time in ms. */
  def op(opId: Long, kind: String)(body: => Unit): Double = {
    curOp = opId
    sc.setLocalProperty(Tracer.OpKey, opId.toString)
    val t0 = now
    val id = ids.incrementAndGet()
    stack.set(id :: Nil)
    try body
    finally {
      stack.set(Nil)
      sc.setLocalProperty(Tracer.OpKey, null)
    }
    val t1 = now
    if (on) add(Span(id, -1, opId, s"op.$kind", t0, t1))
    curOp = -1
    t1 - t0
  }

  // ---- listeners ------------------------------------------------------

  private final case class TaskSums(var tasks: Long = 0, var runMs: Double = 0, var cpuMs: Double = 0,
                                    var gcMs: Double = 0, var shufW: Double = 0,
                                    var shufR: Double = 0, var spill: Double = 0)
  private val jobStart = mutable.Map.empty[Int, (Double, Seq[Int], Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[Int, TaskSums]
  private val blocks = mutable.Map.empty[String, Long]
  private var blockBytes = 0L
  private var blockPeak = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpKey))).fold(-1L)(_.toLong)
      jobStart(e.jobId) = (rel(e.time), e.stageIds, op)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, stages, op) =>
        add(Span(ids.incrementAndGet(), -1, op, "spark.job", t0, rel(e.time),
          Map("job" -> e.jobId.toDouble, "stages" -> stages.size.toDouble)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      val t = stageTasks.getOrElse(si.stageId, TaskSums())
      for (s <- si.submissionTime; c <- si.completionTime)
        add(Span(ids.incrementAndGet(), -1, -1, s"spark.stage ${si.name}", rel(s), rel(c),
          Map("stage" -> si.stageId.toDouble, "job" -> stageJob.getOrElse(si.stageId, -1).toDouble,
            "tasks" -> t.tasks.toDouble, "run_ms" -> t.runMs, "cpu_ms" -> t.cpuMs, "gc_ms" -> t.gcMs,
            "shuffle_write_bytes" -> t.shufW, "shuffle_read_bytes" -> t.shufR,
            "spill_disk_bytes" -> t.spill)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val t = stageTasks.getOrElseUpdate(e.stageId, TaskSums())
      t.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuMs += m.executorCpuTime / 1e6
        t.gcMs += m.jvmGCTime
        t.shufW += m.shuffleWriteMetrics.bytesWritten
        t.shufR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        t.spill += m.diskBytesSpilled
      }
    }
  }

  /** Bytes of cached and checkpointed blocks, watched for the whole run so
    * the inputs built in set-up count too. */
  private val storageListener = new SparkListener {
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      val id = b.blockId.name
      blockBytes -= blocks.remove(id).getOrElse(0L)
      if (b.storageLevel.isValid) {
        blocks(id) = b.memSize + b.diskSize
        blockBytes += b.memSize + b.diskSize
      }
      blockPeak = math.max(blockPeak, blockBytes)
    }
  }

  def watchStorage(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(storageListener)

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        add(Span(ids.incrementAndGet(), -1, -1, s"phase.$name", rel(p.startTimeMs), rel(p.endTimeMs)))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      val t0 = rel(java.time.Instant.parse(p.timestamp).toEpochMilli)
      add(Span(ids.incrementAndGet(), -1, -1, "stream.trigger", t0, t0 + ms("triggerExecution"),
        Map("trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
          "query_planning_ms" -> ms("queryPlanning"), "wal_commit_ms" -> ms("walCommit"))))
    }
  }

  private def classic(spark: SparkSession) = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def attach(spark: SparkSession): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    classic(spark).listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def detach(spark: SparkSession): Unit = if (on) {
    BenchShims.drainListeners(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    classic(spark).listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    on = false
  }

  // ---- attribution and layer metrics ----------------------------------

  /** Gives every listener span its op and parent: a tagged job the op it
    * names, a stage its job's op with the job as parent, any other span the
    * op whose interval holds its start. */
  def attributed(): Seq[Span] = synchronized {
    val ops = spans.filter(_.name.startsWith("op.")).sortBy(_.start).toArray
    val starts = ops.map(_.start)
    val opSpan = ops.map(o => o.op -> o).toMap
    def opAt(t: Double): Option[Span] = {
      val i = java.util.Arrays.binarySearch(starts, t + Tracer.ClockSlackMs)
      val k = if (i >= 0) i else -i - 2
      if (k >= 0 && t <= ops(k).end) Some(ops(k)) else None
    }
    def under(s: Span, o: Option[Span]) = o.fold(s.copy(op = -1))(o => s.copy(op = o.op, parent = o.id))
    val jobs = spans.filter(_.name == "spark.job").map { j =>
      // a tag counts only inside its op's interval: a pool thread created
      // during an op inherits the op's properties
      val tagged = opSpan.get(j.op).filter(o => j.start >= o.start - Tracer.ClockSlackMs && j.start <= o.end)
      j.attrs("job").toLong -> under(j, tagged.orElse(opAt(j.start)))
    }.toMap
    spans.toSeq.map { s =>
      if (s.name.startsWith("op.") || (s.op >= 0 && s.name != "spark.job")) s
      else if (s.name == "spark.job") jobs(s.attrs("job").toLong)
      else if (s.name.startsWith("spark.stage "))
        jobs.get(s.attrs("job").toLong).map(j => s.copy(op = j.op, parent = j.id)).getOrElse(under(s, opAt(s.start)))
      else under(s, opAt(s.start))
    }
  }

  /** Read after `detach`, which drains the listener bus. */
  def storagePeakBytes: Double = synchronized(blockPeak.toDouble)

  def write(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    val lines = all.sortBy(_.start).map { s =>
      Out.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> Out.str(s.name), "start_ms" -> Out.num(s.start), "end_ms" -> Out.num(s.end)) ++
        s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Out.num(v) })
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** The local property that tags a job with the op that submitted it. */
  val OpKey = "perfbench.op"

  /** Listener times are whole epoch milliseconds, op times are monotonic. */
  val ClockSlackMs = 1.0

  /** Call-site file of a stage name such as `localCheckpoint at Pipeline.scala:377`. */
  def callSiteFile(stageName: String): Option[String] =
    """ at ([A-Za-z0-9_$]+)\.(?:scala|java):\d+""".r.findFirstMatchIn(stageName).map(_.group(1))
}

/** Per-layer numbers from one run's attributed spans: means per traced op,
  * except the stream and curate figures (means over the ops that have them)
  * and the storage peak (over the run). */
object Layers {
  private def union(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) { case ((tot, hi), (s, e)) =>
      if (e <= hi) (tot, hi) else (tot + e - math.max(s, hi), e)
    }._1

  def apply(all: Seq[Span], programFile: String => Boolean): Map[String, Double] = {
    val ops = all.filter(s => s.name.startsWith("op.") && s.parent == -1)
    val byOp = all.filter(s => s.op >= 0 && !s.name.startsWith("op.")).groupBy(_.op)
    val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val having = mutable.Map.empty[String, Int].withDefaultValue(0)
    ops.foreach { o =>
      val kids = byOp.getOrElse(o.op, Nil)
      def dur(name: String) = kids.filter(_.name == name).map(_.dur).sum
      sums("bind.parsing_ms") += dur("phase.parsing")
      sums("bind.analysis_ms") += dur("phase.analysis")
      sums("catalyst.optimization_ms") += dur("phase.optimization")
      sums("catalyst.planning_ms") += dur("phase.planning")
      val jobs = kids.filter(_.name == "spark.job")
      val stages = kids.filter(_.name.startsWith("spark.stage "))
      sums("sched.jobs") += jobs.size
      sums("sched.stages") += stages.size
      def st(k: String) = stages.map(_.attrs(k)).sum
      sums("sched.tasks") += st("tasks")
      sums("driver.residual_ms") += o.dur -
        union(jobs.map(j => (math.max(j.start, o.start), math.min(j.end, o.end))).filter(x => x._2 > x._1))
      sums("exec.run_ms") += st("run_ms")
      sums("exec.cpu_ms") += st("cpu_ms")
      sums("exec.gc_ms") += st("gc_ms")
      sums("shuffle.write_bytes") += st("shuffle_write_bytes")
      sums("shuffle.read_bytes") += st("shuffle_read_bytes")
      sums("spill.disk_bytes") += st("spill_disk_bytes")
      stages.foreach { s =>
        Tracer.callSiteFile(s.name).filter(programFile).foreach { f =>
          sums(s"operators.$f.stages") += 1
          sums(s"operators.$f.exec_ms") += s.attrs("run_ms")
        }
      }
      val trig = kids.filter(_.name == "stream.trigger")
      if (trig.nonEmpty) {
        having("stream") += 1
        Seq("trigger_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms")
          .foreach(k => sums(s"stream.$k") += trig.map(_.attrs(k)).sum)
      }
      Seq("curate.build", "curate.action").foreach { n =>
        val d = kids.filter(_.name == n)
        if (d.nonEmpty) { having(n) += 1; sums(s"${n}_s") += d.map(_.dur).sum / 1000.0 }
      }
    }
    sums.toMap.map { case (k, v) =>
      val n = if (k.startsWith("stream.")) having("stream")
              else if (k.startsWith("curate.")) having(k.stripSuffix("_s"))
              else ops.size
      k -> (if (n == 0) 0.0 else v / n)
    }
  }
}
