package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional), so
  * spans from the benchmark's own clock and from Spark's listener
  * events share one axis. `parent` 0 is the root. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span store, written out once when the run ends. */
final class Tracer {
  private val ids = new AtomicLong()
  private val buf = new ConcurrentLinkedQueue[Span]()

  def add(parent: Long, kind: String, name: String, startMs: Double, endMs: Double): Long = {
    val id = ids.incrementAndGet()
    buf.add(Span(id, parent, kind, name, startMs, endMs))
    id
  }

  def spans: Seq[Span] = buf.asScala.toSeq

  /** Mean self time per span of each kind: a span's duration minus
    * the part of it its children cover (children clipped to the
    * parent, overlaps merged). */
  def selfMsByKind: Map[String, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var curA = Double.NaN
        var curB = Double.NaN
        iv.foreach { case (a, b) =>
          if (curA.isNaN || a > curB) {
            if (!curA.isNaN) covered += curB - curA
            curA = a; curB = b
          } else curB = math.max(curB, b)
        }
        if (!curA.isNaN) covered += curB - curA
        math.max(0.0, s.durMs - covered)
      }.sum / ss.size
    }
  }

  def write(path: java.nio.file.Path, summary: Map[String, Double]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val sb = new StringBuilder
    sb.append("{\"self_ms\": {")
    sb.append(summary.toSeq.sorted.map { case (k, v) => s""""$k": $v""" }.mkString(", "))
    sb.append("},\n\"spans\": [\n")
    sb.append(spans.sortBy(_.id).map { s =>
      val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
      f"""{"id": ${s.id}, "parent": ${s.parent}, "kind": "${s.kind}", "name": "$name", "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f}"""
    }.mkString(",\n"))
    sb.append("\n]}\n")
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Clock {
  /** Wall clock with sub-millisecond resolution: epoch ms anchored once,
    * advanced by the monotonic clock. */
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Spark-side recorders for the traced run: scheduling, task execution
  * and shuffle from a SparkListener, planning phases from a
  * QueryExecutionListener, micro-batch progress from a
  * StreamingQueryListener. Installed only for the traced window. The
  * benchmark's own output checks are left out: their jobs run in
  * [[SparkRecorders.CheckGroup]], their plans end in
  * [[Fingerprint.RowsCol]]. */
final class SparkRecorders(spark: SparkSession) {
  val jobs, stages, tasks, delayMs, taskMs, cpuNs, gcMs = new AtomicLong()
  val shuffleWrite, shuffleRead, spill = new AtomicLong()
  val actions = new AtomicLong()
  val analysisMs, optimizationMs, planningMs = new AtomicLong()
  /** (job id, job group, start ms, end ms) */
  val jobSpans = new ConcurrentLinkedQueue[(Int, String, Double, Double)]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Double)]()
  private val jobsEnded = new AtomicLong()
  private val checkStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      if (group == SparkRecorders.CheckGroup) e.stageIds.foreach(checkStages.add(_))
      else {
        jobs.incrementAndGet()
        jobStart.put(e.jobId, (group, e.time.toDouble))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
        jobSpans.add((e.jobId, g, t0, e.time.toDouble))
        jobsEnded.incrementAndGet()
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (!checkStages.contains(e.stageInfo.stageId)) stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (!checkStages.contains(e.stageId)) {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        // the UI's scheduler delay: task duration not spent running,
        // deserializing or shipping the result
        val info = e.taskInfo
        val d = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        delayMs.addAndGet(math.max(0L, d))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = if (!qe.analyzed.output.exists(_.name == Fingerprint.RowsCol)) {
      actions.incrementAndGet()
      val ph = qe.tracker.phases
      ph.get("analysis").foreach(p => analysisMs.addAndGet(p.durationMs))
      ph.get("optimization").foreach(p => optimizationMs.addAndGet(p.durationMs))
      ph.get("planning").foreach(p => planningMs.addAndGet(p.durationMs))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait (bounded) for the asynchronous listener buses to deliver
    * every started job's end, then detach. */
  def uninstall(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (jobsEnded.get() < jobs.get() && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Layer totals divided by `per` (passes for batch suites, 1 for
    * streams); busy ratio against `wallMs` x `cores`. */
  def layerMetrics(out: Outcome, per: Double, wallMs: Double, cores: Int): Unit = {
    def put(k: String, v: Double): Unit = out.layer(k) = v / per
    put("sched.jobs", jobs.get.toDouble)
    put("sched.stages", stages.get.toDouble)
    put("sched.tasks", tasks.get.toDouble)
    put("sched.delay_ms", delayMs.get.toDouble)
    put("exec.task_ms", taskMs.get.toDouble)
    put("exec.cpu_ms", cpuNs.get / 1e6)
    put("exec.gc_ms", gcMs.get.toDouble)
    put("shuffle.write_bytes", shuffleWrite.get.toDouble)
    put("shuffle.read_bytes", shuffleRead.get.toDouble)
    put("shuffle.spill_bytes", spill.get.toDouble)
    put("plan.actions", actions.get.toDouble)
    put("plan.analysis_ms", analysisMs.get.toDouble)
    put("plan.optimization_ms", optimizationMs.get.toDouble)
    put("plan.planning_ms", planningMs.get.toDouble)
    out.layer("exec.busy_ratio") = if (wallMs > 0) taskMs.get / (wallMs * cores) else 0.0
  }
}

object SparkRecorders {
  /** Job group of the benchmark's output checks. */
  val CheckGroup = "perfbench-check"
}

/** JVM-wide counters read before and after the traced window. */
final case class JvmSnapshot(gcMs: Long, jitMs: Long) {
  def delta(later: JvmSnapshot): JvmSnapshot = JvmSnapshot(later.gcMs - gcMs, later.jitMs - jitMs)
}

object JvmSnapshot {
  import java.lang.management.ManagementFactory
  def gcTotalMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  def now(): JvmSnapshot = JvmSnapshot(gcTotalMs() - Mem.forcedGcMs,
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L))
  def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed / 1048576.0).sum

  def record(out: Outcome, d: JvmSnapshot, per: Double): Unit = {
    out.layer("jvm.gc_ms") = d.gcMs / per
    out.layer("jvm.jit_ms") = d.jitMs / per
    out.layer("jvm.codecache_mb") = codeCacheMb()
  }
}
