package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Per-run working space under the build directory, removed at exit;
  * traces are kept. */
final class Work(val root: Path, val traceDir: Path, seed: Long) {
  Files.createDirectories(root)
  def dir(name: String): String = {
    val d = root.resolve(name)
    Files.createDirectories(d)
    d.toString
  }
  def traceFile(workload: String): Path = traceDir.resolve(s"$workload-seed$seed.json")
  def delete(): Unit = {
    val files = Files.walk(root)
    try files.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally files.close()
  }
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --bench-dir DIR --work-dir DIR --trace-dir DIR [--tiny 1]`, or `--freeze OUT` to dump the
  * batch queries' rows and fingerprints for the one-time oracle check.
  * Prints one JSON result line last. */
object Main {
  val jvmStartMs: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  val Cores = 4

  def session(cores: Int, rocks: Boolean, work: Work): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.dir("spark-local"))
      .config("spark.sql.warehouse.dir", work.dir("warehouse"))
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    if (rocks) b.config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val benchDir = Paths.get(opts("bench-dir"))
    val seed = opts.getOrElse("seed", "1").toLong
    val work = new Work(Paths.get(opts("work-dir")), Paths.get(opts("trace-dir")), seed)
    val dataDir = benchDir.resolve("data").resolve("sf0.01").toString
    var spark: SparkSession = null
    val code = try {
      opts.get("freeze") match {
        case Some(outDir) =>
          spark = session(Cores, rocks = false, work)
          BatchBench.freeze(spark, Metrics.queriesLoops ++ Metrics.queriesOneshot, dataDir, outDir)
        case None =>
          val workload = opts("workload")
          val seconds = opts("seconds").toInt
          val trace = opts.getOrElse("trace", "0") == "1"
          val tiny = opts.getOrElse("tiny", "0") == "1"
          val out = new Outcome
          val stream = StreamCfg(
            sensors = if (tiny) 1000 else if (workload == "stream_steady") 20000 else 100000,
            eventsPerSec = if (tiny) 100 else 2000,
            warmS = if (tiny) 1.0 else 16.0,
            batchEvents = if (tiny) 200 else 50000)
          val queries = if (tiny) Metrics.queriesLoops.take(1) ++ Metrics.queriesOneshot.take(1)
                        else Metrics.queriesLoops ++ Metrics.queriesOneshot
          lazy val expected = Fingerprint.load(benchDir.resolve("fingerprints.txt"))
          spark = session(Cores, rocks = workload == "stream_backlog", work)
          workload match {
            case "stream_steady" => StreamBench.steady(spark, stream, seed, seconds, trace, work, out)
            case "stream_backlog" => StreamBench.backlog(spark, stream, seed, seconds, trace, work, out)
            case "batch_queries" =>
              BatchBench.run(spark, workload, queries, dataDir, expected, seed, seconds, trace, work, out)
            case other => throw new IllegalArgumentException(s"unknown workload $other")
          }
          out.e2e("mem_peak_mb") = Mem.peakMb()
          out.problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
          println(out.json(trace))
      }
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally {
      if (spark != null) SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
      work.delete()
    }
    System.out.flush()
    System.exit(code)
  }
}
