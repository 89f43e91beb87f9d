package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{LoopStats, SparkEntry}

/** A query result's fingerprint: row count and an order-insensitive
  * row hash (the sum of per-row xxhash64 values, floating values
  * rounded to 4 places first, as the DuckDB oracle compares them). */
final case class Fingerprint(rows: Long, hash: String)

object Fingerprint {
  /** Output name of the row count, by which the traced run's planning
    * recorder tells a fingerprint's plan from the program's. */
  val RowsCol = "perfbench_fingerprint_rows"

  def of(df: DataFrame): Fingerprint = {
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as(RowsCol), coalesce(sum("h"), lit(BigDecimal(0)).cast(DecimalType(38, 0))))
      .head()
    Fingerprint(r.getLong(0), r.getDecimal(1).toPlainString)
  }

  // + 0.0 folds -0.0 into 0.0
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 4) + lit(0.0)
    case _ => c
  }

  /** `name rows hash` lines. */
  def load(path: java.nio.file.Path): Map[String, Fingerprint] =
    java.nio.file.Files.readAllLines(path).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val a = l.split("\\s+"); a(0) -> Fingerprint(a(1).toLong, a(2)) }.toMap
}

/** One timed query run: wall time of the frame-building call and of the
  * `count()` action that `graft.Bench` times; `untimedMs` is what the
  * benchmark does after it: the fingerprint check, a live-heap sample
  * and releasing cached blocks. */
final case class QueryRun(name: String, buildMs: Double, actionMs: Double, ok: Boolean,
    startMs: Double, endMs: Double, untimedMs: Double, loops: Map[String, Long]) {
  def wallMs: Double = buildMs + actionMs
}

/** The batch suites: passes over a fixed query list, each query built
  * through `SparkEntry.queries(name)(spark, dir)` and counted. */
final class BatchBench(spark: SparkSession, dataDir: String, names: Seq[String],
    expected: Map[String, Fingerprint]) {
  private val entries = SparkEntry.queries

  def runQuery(name: String, group: Option[String]): QueryRun = {
    val sc = spark.sparkContext
    group.foreach(g => sc.setJobGroup(g, name, interruptOnCancel = false))
    LoopStats.drain()
    val a = Clock.nowMs
    var b = a
    var c = a
    val ok = try {
      val df = entries(name)(spark, dataDir)
      b = Clock.nowMs
      val n = df.count()
      c = Clock.nowMs
      // the check's jobs run in their own group, which the traced
      // run's recorders leave out
      sc.setJobGroup(SparkRecorders.CheckGroup, name, interruptOnCancel = false)
      val fp = Fingerprint.of(df)
      n == fp.rows && expected.get(name).contains(fp)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        if (c == a) c = Clock.nowMs
        false
    }
    val loops = LoopStats.drain()
    sc.clearJobGroup()
    Mem.sampleLive()
    release()
    QueryRun(name, b - a, c - b, ok, a, c, Clock.nowMs - c, loops)
  }

  /** Drop what a query left cached: its persist()s and its surviving
    * round-checkpoint blocks (as graft.Bench does between runs). */
  private def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Timed passes in a seed-shuffled order: a fixed amount of work, as
    * many whole passes as fit in `seconds` at about 6 s of query time
    * each (at least one), so a slower machine does not change how many
    * samples a run takes. */
  def timed(seconds: Int, rnd: scala.util.Random, group: Int => Option[String] = _ => None)
      : (Seq[Seq[QueryRun]], Double, Double) = {
    val start = Clock.nowMs
    val passes = (0 until math.max(1, seconds / 6)).map { p =>
      rnd.shuffle(names).map(n => runQuery(n, group(p).map(g => s"$g:$n")))
    }
    (passes.toSeq, start, Clock.nowMs)
  }
}

object BatchBench {
  def run(spark: SparkSession, workload: String, names: Seq[String], dataDir: String,
      expected: Map[String, Fingerprint], seed: Long, seconds: Int, trace: Boolean,
      work: Work, out: Outcome): Unit = {
    val bench = new BatchBench(spark, dataDir, names, expected)
    val rnd = new scala.util.Random(seed)
    // untimed warm pass in a fixed order: layout copies, codegen and
    // JIT land here, the session's first-query costs always on the same
    // query
    val warm = names.map(bench.runQuery(_, None))
    warm.filterNot(_.ok).foreach(r => out.check(false, s"${r.name} failed its fingerprint in the warm pass"))
    out.e2e("setup_s") = (Clock.nowMs - Main.jvmStartMs) / 1000.0

    val (passes, _, _) = bench.timed(seconds, rnd)
    summarize(passes, names, out)
    val runs = passes.flatten
    if (!trace) {
      out.attempted = runs.size
      out.failed = runs.count(!_.ok)
      return
    }
    val untracedTotal = names.map(n => Metrics.median(runs.filter(_.name == n).map(_.wallMs))).sum

    val rec = new SparkRecorders(spark)
    val j0 = JvmSnapshot.now()
    rec.install()
    val (tp, start, end) = bench.timed(seconds, rnd, p => Some(s"pass$p"))
    val jvmD = j0.delta(JvmSnapshot.now())
    rec.uninstall()
    val truns = tp.flatten
    out.attempted = truns.size
    out.failed = truns.count(!_.ok)
    val per = tp.size.toDouble
    rec.layerMetrics(out, per, end - start - truns.map(_.untimedMs).sum, spark.sparkContext.defaultParallelism)
    JvmSnapshot.record(out, jvmD, per)
    val medians = names.map(n => n -> Metrics.median(truns.filter(_.name == n).map(_.wallMs))).toMap
    medians.foreach { case (n, m) => out.layer(s"queries.${n}_s") = m / 1000.0 }
    // the self-test's short list leaves the other queries unrun
    out.notExercised((Metrics.queriesLoops ++ Metrics.queriesOneshot).filterNot(names.contains).map(q => s"queries.${q}_s"): _*)
    out.layer("queries.build_ms") = names.map(n => Metrics.median(truns.filter(_.name == n).map(_.buildMs))).sum
    out.layer("trace.overhead_pct") = StreamBench.pct(medians.values.sum, untracedTotal)

    loopLayers(out, truns.map(_.loops), truns.filter(_.loops.nonEmpty).map(_.wallMs).sum, per)
    out.notExercised("gen.events", "gen.lag_ms_p99", "gen.lag_ms_max", "codec.decode_ns",
      "codec.encode_ns", "codec.dropped", "model.step_ns", "exec.local1_eps")
    out.notExercised(StreamBench.streamLayerNames: _*)

    val tracer = new Tracer
    val root = tracer.add(0, "workload", workload, start, end)
    val jobsByGroup = rec.jobSpans.asScala.toSeq.groupBy(_._2)
    tp.zipWithIndex.foreach { case (pass, p) =>
      val pid = tracer.add(root, "pass", s"pass$p", pass.head.startMs, pass.last.endMs)
      pass.foreach { r =>
        val qid = tracer.add(pid, "query", r.name, r.startMs, r.endMs)
        val bid = tracer.add(qid, "build", "build", r.startMs, r.startMs + r.buildMs)
        val aid = tracer.add(qid, "action", "count", r.startMs + r.buildMs, r.endMs)
        jobsByGroup.getOrElse(s"pass$p:${r.name}", Nil).foreach { case (j, _, a, b) =>
          tracer.add(if (a < r.startMs + r.buildMs) bid else aid, "job", s"job$j", a, b)
        }
      }
    }
    StreamBench.finishTrace(tracer, out, work, workload)
  }

  /** Loop/Ck layer from `LoopStats.drain()` maps: rounds are the counts
    * recorded with a checkpoint split; `loopWallMs` is the wall time of
    * the runs that recorded any. */
  def loopLayers(out: Outcome, drained: Seq[Map[String, Long]], loopWallMs: Double, per: Double): Unit = {
    def loopSum(f: (String, Long, Map[String, Long]) => Long): Double =
      drained.map(m => m.collect { case (k, v) if m.contains(s"${k}_wms") => f(k, v, m) }.sum).sum.toDouble
    val rounds = loopSum((_, v, _) => v)
    out.layer("loop.rounds") = rounds / per
    out.layer("loop.ck_wall_ms") = loopSum((k, _, m) => m(s"${k}_wms")) / per
    out.layer("loop.ck_task_ms") = loopSum((k, _, m) => m(s"${k}_tms")) / per
    out.layer("loop.ms_per_round") = if (rounds > 0) loopWallMs / rounds else 0.0
  }

  /** latency_ms: geometric mean of the per-query median wall times;
    * latency_tail_ms: a pass made of those medians, the longest wait of
    * the suite; throughput_per_s: query runs per second of that pass. */
  private def summarize(passes: Seq[Seq[QueryRun]], names: Seq[String], out: Outcome): Unit = {
    val runs = passes.flatten
    val med = names.map(n => Metrics.median(runs.filter(_.name == n).map(_.wallMs)))
    out.e2e("latency_ms") = Metrics.geomean(med)
    out.e2e("latency_tail_ms") = med.sum
    out.e2e("throughput_per_s") = names.size / (med.sum / 1000.0)
  }

  /** Dump each query's rows as parquet next to its oracle SQL (the
    * layout `scripts/check_oracle.py` reads) and print fingerprints. */
  def freeze(spark: SparkSession, names: Seq[String], dataDir: String, outDir: String): Unit = {
    val entries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val lines = names.map { n =>
      val df = entries(n)(spark, dataDir)
      df.write.mode("overwrite").parquet(s"$outDir/$n")
      val fp = Fingerprint.of(spark.read.parquet(s"$outDir/$n"))
      val live = Fingerprint.of(df)
      require(fp == live, s"$n: fingerprint of the written rows $fp differs from the live frame $live")
      s"$n ${fp.rows} ${fp.hash}"
    }
    val json = names.filter(oracles.contains).map { n =>
      val q = oracles(n).replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
      s""""$n": "$q""""
    }.mkString("{", ",\n", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, "oracle_sql.json"), json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, "fingerprints.txt"), lines.mkString("", "\n", "\n"))
    lines.foreach(println)
  }
}
