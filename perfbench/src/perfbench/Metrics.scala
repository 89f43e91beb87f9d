package perfbench

import scala.collection.mutable

/** Query lists and statistics. The metric catalog, with every unit,
  * is BENCHMARK.json; `run.py` attaches the units and refuses a run
  * that does not set exactly the metrics it declares.
  */
object Metrics {
  /** The batch_queries suite. One convergence loop (pagerank: rounds
    * of re-planning plus a round checkpoint each) ... */
  val queriesLoops: Seq[String] = Seq("q175_pagerank_converge")
  /** ... and single-pass queries: the three `plans` operators (top-k,
    * range join, as-of join), two `functions` expressions (PNG decode,
    * hashing) and both thermostat batch replays. */
  val queriesOneshot: Seq[String] = Seq(
    "q16_control_actions", "q44_control_actions_sql", "q41_topk_native",
    "q68_range_native", "q60_asof_native", "q177_image_decode", "q96_hash_exemplars")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default); 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

}

/** Peak memory the run held, in MB: the peak resident set outside the
  * Java heap (VmHWM minus the heap, which is fixed and pre-touched, so
  * always resident) plus the largest live heap sampled by a full
  * collection at the points where the program holds the most: after
  * each batch query's action, before its cached blocks are released,
  * and at the end of a stream's timed window, with its state loaded.
  * The live heap after a full collection is what the program keeps;
  * after an ordinary collection it would include garbage not yet
  * reclaimed, which varies from run to run.
  */
object Mem {
  import java.lang.management.ManagementFactory

  private var peakLive = 0L
  /** Collection time the samples spent, which `jvm.gc_ms` leaves out. */
  @volatile var forcedGcMs = 0L

  def sampleLive(): Unit = {
    val gc0 = JvmSnapshot.gcTotalMs()
    System.gc()
    forcedGcMs += JvmSnapshot.gcTotalMs() - gc0
    peakLive = math.max(peakLive, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val hwmKb = try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
      finally src.close()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    require(peakLive > 0, "live heap never sampled")
    (hwmKb * 1024.0 - heap + peakLive) / 1048576.0
  }
}

/** Outcome of one workload run: ops attempted/failed, output checks,
  * and the metrics each mode prints. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val e2e: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  /** Values only: `run.py` adds the units from BENCHMARK.json. */
  def json(trace: Boolean): String = {
    val ms = (if (trace) layer else e2e).map { case (name, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $name is $v")
      s""""$name": $v"""
    }
    s"""{"correct": ${problems.isEmpty}, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** Layers a workload does not exercise read 0 (declared, not left unset). */
  def notExercised(names: String*): Unit = names.foreach(layer(_) = 0.0)
}
