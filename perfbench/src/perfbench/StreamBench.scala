package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.LoopStats
import graft.model.{ControlEvent, Hysteresis}
import graft.streaming.{HeaterCommand, ProtoCodec, ThermostatStream}

/** Sizes of the two stream workloads. */
final case class StreamCfg(
    sensors: Int,
    eventsPerSec: Int, // stream_steady offered reading rate
    warmS: Double, // stream_steady untimed warm-up at the offered rate
    batchEvents: Int) // stream_backlog events per micro-batch

/** The controller as a running query: one in-process source carrying
  * both topics (so a chunk's controls and readings land in the same
  * micro-batch), decoded by `fromWireProto`, the keyed state machine,
  * and a sink that collects the emitted commands. */
final class ControllerQuery(spark: SparkSession, twsRocks: Boolean, chk: String) {
  import spark.implicits._
  private implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
  // a fixed partition count; without it every appended chunk becomes
  // its own input partition, one task each
  val source: MemoryStream[Wire] = MemoryStream[Wire](Main.Cores)
  val emitted = new ConcurrentLinkedQueue[Array[HeaterCommand]]()
  private val sizes = new java.util.concurrent.ConcurrentHashMap[Long, Int]()

  val query: StreamingQuery = {
    val wire = source.toDS()
    val sensor = wire.filter(_.topic == 0).map(w => (w.seq, w.payload))
    val control = wire.filter(_.topic == 1).map(w => (w.seq, w.payload))
    val events = ThermostatStream.fromWireProto(sensor, control)
    val cmds = if (twsRocks) ThermostatStream.pipelineTws(events) else ThermostatStream.pipeline(events)
    val sink = emitted
    cmds.writeStream
      .outputMode("update")
      .option("checkpointLocation", chk)
      .foreachBatch { (ds: Dataset[HeaterCommand], _: Long) => sink.add(ds.collect()); () }
      .start()
  }

  /** Append records; returns the source offset they end at. */
  def append(ws: Array[Wire]): Long = {
    val off = source.addData(ws.toSeq).json().toLong
    sizes.put(off, ws.length)
    off
  }

  /** Events a micro-batch read. (Its numInputRows counts the source
    * once per topic branch.) */
  def events(b: BatchProgress): Long =
    (b.startOffset + 1 to b.endOffset).map(o => sizes.getOrDefault(o, 0).toLong).sum

  def commands: Array[HeaterCommand] = emitted.asScala.toArray.flatten

  def stop(): Unit = query.stop()
}

/** Progress of one micro-batch on the benchmark's clock. */
final case class BatchProgress(p: StreamingQueryProgress) {
  val startMs: Double = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  val endMs: Double = startMs + dur("triggerExecution")
  val endOffset: Long = offset(_.endOffset)
  val startOffset: Long = offset(_.startOffset)
  private def offset(f: org.apache.spark.sql.streaming.SourceProgress => String): Long =
    Option(p.sources).filter(_.nonEmpty).flatMap(s => Option(f(s(0))))
      .filter(_ != "null").map(_.toLong).getOrElse(-1L)
  def dur(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
}

object StreamBench {
  /** stream_steady appends a chunk every ChunkMs; a chunk committed
    * more than LatencyLimitMs after it was due (twice the reference's
    * 1 s trigger) fails. */
  val ChunkMs = 20
  val LatencyLimitMs = 2000.0
  /** Phase order inside a micro-batch, for laying out phase spans. */
  private val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** stream_steady: open loop at a fixed offered rate. One generator
    * thread appends each pre-encoded chunk at its due time; a chunk's
    * latency runs from that due time to the end of the micro-batch
    * that committed it. */
  def steady(spark: SparkSession, cfg: StreamCfg, seed: Long, seconds: Int,
      trace: Boolean, work: Work, out: Outcome): Unit = {
    val windows = if (trace) 2 else 1
    val horizonS = cfg.warmS + windows * seconds
    val periodS = cfg.sensors.toDouble / cfg.eventsPerSec
    val rounds = math.ceil(horizonS / periodS).toInt + 1
    val input = StreamGen.generate(seed, cfg.sensors, rounds)
    val perChunk = (cfg.eventsPerSec.toLong * ChunkMs / 1000).toInt
    val nChunks = math.ceil(horizonS * 1000 / ChunkMs).toInt
    // cut the stream into chunks of `perChunk` readings, each reading
    // with the control that precedes it
    val chunks: Array[Array[GenEvent]] = {
      val b = Array.newBuilder[Array[GenEvent]]
      var i = 0
      while (b.knownSize < nChunks && i < input.stream.length) {
        val cur = Array.newBuilder[GenEvent]
        var readings = 0
        while (readings < perChunk && i < input.stream.length) {
          val g = input.stream(i)
          cur += g
          if (g.ev.kind == "data") readings += 1
          i += 1
        }
        b += cur.result()
      }
      b.result()
    }
    val wires = chunks.map(_.map(_.wire))

    val q = new ControllerQuery(spark, twsRocks = false, work.dir("chk-steady"))
    q.append(input.setup.map(_.wire))
    q.query.processAllAvailable()

    val t0 = Clock.nowMs + 200.0
    val dueMs = Array.tabulate(chunks.length)(k => t0 + k.toDouble * ChunkMs)
    val appendMs = new Array[Double](chunks.length)
    val offsets = new Array[Long](chunks.length)
    val gen = new Thread(() => {
      var k = 0
      while (k < chunks.length) {
        val waitMs = dueMs(k) - Clock.nowMs
        if (waitMs > 0) LockSupport.parkNanos((waitMs * 1e6).toLong)
        appendMs(k) = Clock.nowMs
        offsets(k) = q.append(wires(k))
        k += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()

    val win1 = t0 + cfg.warmS * 1000
    val win1End = win1 + seconds * 1000.0
    sleepUntil(win1)
    out.e2e("setup_s") = (win1 - Main.jvmStartMs) / 1000.0
    val (winStart, winEnd, rec, jvm0) =
      if (!trace) (win1, win1End, None, None)
      else {
        sleepUntil(win1End)
        val r = new SparkRecorders(spark)
        r.install()
        LoopStats.drain()
        (win1End, win1End + seconds * 1000.0, Some(r), Some(JvmSnapshot.now()))
      }
    sleepUntil(winEnd)
    gen.join()
    q.query.processAllAvailable()
    Mem.sampleLive()
    val jvmD = jvm0.map(_.delta(JvmSnapshot.now()))
    val loops = LoopStats.drain()
    rec.foreach(_.uninstall())
    val progress = q.query.recentProgress.toSeq.map(BatchProgress).filter(_.endOffset >= 0).sortBy(_.p.batchId)
    q.stop()

    // chunk -> end of the first micro-batch whose end offset covers it
    val commitMs = new Array[Double](chunks.length)
    var pi = 0
    (0 until chunks.length).foreach { k =>
      while (pi < progress.size && progress(pi).endOffset < offsets(k)) pi += 1
      commitMs(k) = if (pi < progress.size) progress(pi).endMs else Double.PositiveInfinity
    }
    def inWindow(k: Int, a: Double, b: Double) = dueMs(k) >= a && dueMs(k) < b
    val lat1 = (0 until chunks.length).filter(inWindow(_, win1, win1End)).map(k => commitMs(k) - dueMs(k))
    val committed1 = progress.filter(b => b.endMs >= win1 && b.endMs < win1End).map(q.events).sum
    out.e2e("latency_ms") = Metrics.quantile(lat1, 0.5)
    out.e2e("latency_tail_ms") = Metrics.quantile(lat1, 0.99)
    out.e2e("throughput_per_s") = committed1 / seconds.toDouble

    val sent = input.setup.iterator ++ chunks.iterator.flatten
    val badSensors = checkOutput(spark, sent, input.sensors, q.commands, trace, out)
    val opIdx = (0 until chunks.length).filter(inWindow(_, winStart, winEnd))
    // an open loop is only as good as its schedule: a generator that
    // runs late by more than a chunk interval at the median cannot
    // keep the offered rate, which invalidates the run. The gate is not
    // the p99: one 100 ms pause of the whole process (a collection, the
    // host descheduling the machine) queues five chunks behind it. Such
    // a pause cannot flatter the program, since latency runs from each
    // chunk's due time, not from its append.
    val lag = opIdx.map(k => appendMs(k) - dueMs(k))
    val lagP50 = Metrics.median(lag)
    val lagP99 = Metrics.quantile(lag, 0.99)
    val lagMax = if (lag.isEmpty) 0.0 else lag.max
    System.err.println(f"[perfbench] generator lag: p50 $lagP50%.2f ms, p99 $lagP99%.2f ms, max $lagMax%.2f ms")
    out.check(lagP50 <= ChunkMs, f"generator ran $lagP50%.1f ms late at the median, more than one chunk interval")
    out.attempted = opIdx.size
    out.failed = opIdx.count { k =>
      commitMs(k) - dueMs(k) > LatencyLimitMs || chunks(k).exists(g => badSensors(g.ev.sensorID.toInt))
    }

    rec.foreach { r =>
      val tracer = new Tracer
      val root = tracer.add(0, "workload", "stream_steady", winStart, winEnd)
      // a chunk's child is the micro-batch that committed it (a batch
      // commits many chunks, so it appears under each of them): the
      // chunk's self time is its wait before that batch started
      val traced = streamProgress(r, winStart, winEnd)
      opIdx.foreach { k =>
        val id = tracer.add(root, "chunk", s"chunk-$k", dueMs(k), math.min(commitMs(k), dueMs(k) + 60000))
        traced.find(_.endOffset >= offsets(k)).foreach(addBatchSpans(tracer, id, _))
      }
      out.layer("gen.events") = opIdx.map(k => chunks(k).length).sum.toDouble
      out.layer("gen.lag_ms_p99") = lagP99
      out.layer("gen.lag_ms_max") = lagMax
      streamLayers(out, traced, q, rocks = false)
      r.layerMetrics(out, 1.0, winEnd - winStart, spark.sparkContext.defaultParallelism)
      jvmD.foreach(JvmSnapshot.record(out, _, 1.0))
      BatchBench.loopLayers(out, Seq(loops), 0.0, 1.0)
      out.notExercised(queryLayerNames :+ "exec.local1_eps": _*)
      out.layer("trace.overhead_pct") =
        pct(Metrics.median(opIdx.map(k => commitMs(k) - dueMs(k))), out.e2e("latency_ms"))
      finishTrace(tracer, out, work, "stream_steady")
    }
  }

  /** stream_backlog: closed loop over a pre-encoded backlog, one
    * micro-batch of `batchEvents` at a time; the next batch is added
    * when the previous one has committed. */
  def backlog(spark: SparkSession, cfg: StreamCfg, seed: Long, seconds: Int,
      trace: Boolean, work: Work, out: Outcome): Unit = {
    // 4 warm-up batches, then enough backlog for about 1.8x today's
    // drain rate (~45k events/s at 100k sensors) through every window
    val input = StreamGen.generate(seed, cfg.sensors, if (trace) 18 else 10)
    val batches = input.stream.grouped(cfg.batchEvents).filter(_.length == cfg.batchEvents).toArray
    val q = new ControllerQuery(spark, twsRocks = true, work.dir("chk-backlog"))
    q.append(input.setup.map(_.wire))
    q.query.processAllAvailable()
    var next = 0
    def drainOne(): (Double, Double, Int) = {
      val a = Clock.nowMs
      q.append(batches(next).map(_.wire))
      q.query.processAllAvailable()
      next += 1
      (a, Clock.nowMs, next - 1)
    }
    (1 to 4).foreach(_ => drainOne()) // warm-up batches, untimed
    def window(): (Seq[(Double, Double, Int)], Double, Double) = {
      val start = Clock.nowMs
      val end = start + seconds * 1000.0
      val done = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Int)]
      while (Clock.nowMs < end && next < batches.length) done += drainOne()
      if (Clock.nowMs < end) System.err.println("[perfbench] backlog exhausted before the window ended")
      (done.toSeq, start, Clock.nowMs)
    }
    def eps(w: (Seq[(Double, Double, Int)], Double, Double)): Double =
      w._1.map(b => batches(b._3).length).sum / ((w._3 - w._2) / 1000.0)
    out.e2e("setup_s") = (Clock.nowMs - Main.jvmStartMs) / 1000.0
    val w1 = window()
    out.e2e("latency_ms") = Metrics.median(w1._1.map(b => b._2 - b._1))
    out.e2e("latency_tail_ms") = w1._1.map(b => b._2 - b._1).max
    out.e2e("throughput_per_s") = eps(w1)
    val (w, rec, jvmD) =
      if (!trace) (w1, None, None)
      else {
        val r = new SparkRecorders(spark)
        val j0 = JvmSnapshot.now()
        r.install()
        LoopStats.drain()
        val w2 = window()
        val d = j0.delta(JvmSnapshot.now())
        r.uninstall()
        (w2, Some(r), Some((d, LoopStats.drain())))
      }
    Mem.sampleLive()
    q.stop()
    val sent = input.setup.iterator ++ batches.iterator.take(next).flatten
    val badSensors = checkOutput(spark, sent, input.sensors, q.commands, trace, out)
    out.attempted = w._1.size
    out.failed = w._1.count(b => batches(b._3).exists(g => badSensors(g.ev.sensorID.toInt)))

    rec.foreach { r =>
      val tracer = new Tracer
      val root = tracer.add(0, "workload", "stream_backlog", w._2, w._3)
      val traced = streamProgress(r, w._2, w._3)
      w._1.foreach { case (a, b, i) =>
        val id = tracer.add(root, "chunk", s"batch-$i", a, b)
        traced.filter(p => p.startMs >= a - 1 && p.startMs <= b).foreach(addBatchSpans(tracer, id, _))
      }
      out.layer("gen.events") = w._1.map(b => batches(b._3).length).sum.toDouble
      // a closed loop has no schedule to lag behind
      out.notExercised("gen.lag_ms_p99", "gen.lag_ms_max")
      streamLayers(out, traced, q, rocks = true)
      r.layerMetrics(out, 1.0, w._3 - w._2, spark.sparkContext.defaultParallelism)
      jvmD.foreach { case (d, loops) =>
        JvmSnapshot.record(out, d, 1.0)
        BatchBench.loopLayers(out, Seq(loops), 0.0, 1.0)
      }
      out.notExercised(queryLayerNames: _*)
      out.layer("trace.overhead_pct") = pct(1.0 / eps(w), 1.0 / eps(w1))
      finishTrace(tracer, out, work, "stream_backlog")
      out.layer("exec.local1_eps") = local1Eps(spark, input, batches, seconds, work)
    }
  }

  /** The same drain on a single core: a fresh local[1] session, the
    * same set-up and backlog, events drained per second. */
  private def local1Eps(spark: SparkSession, input: StreamInput, batches: Array[Array[GenEvent]],
      seconds: Int, work: Work): Double = {
    spark.stop()
    val one = Main.session(1, rocks = true, work)
    val q = new ControllerQuery(one, twsRocks = true, work.dir("chk-local1"))
    q.append(input.setup.map(_.wire))
    q.query.processAllAvailable()
    val start = Clock.nowMs
    var n = 0L
    var i = 0
    while (Clock.nowMs < start + seconds * 1000.0 && i < batches.length) {
      q.append(batches(i).map(_.wire))
      q.query.processAllAvailable()
      n += batches(i).length
      i += 1
    }
    val r = n / ((Clock.nowMs - start) / 1000.0)
    q.stop()
    r
  }

  /** Compare the emitted commands with `Hysteresis.replay` per sensor
    * over the events actually sent, minus the truncated ones; check
    * that `toWireProto` emits one decodable payload per command and
    * that the codec drops exactly the truncated payloads. Returns the
    * sensors whose commands differ. */
  private def checkOutput(spark: SparkSession, sent: Iterator[GenEvent], sensors: Int,
      got: Array[HeaterCommand], trace: Boolean, out: Outcome): Set[Int] = {
    val events = sent.toArray
    import spark.implicits._
    // the controller's drop path: what fromWireProto leaves out of the
    // records sent must be exactly the truncated payloads
    def topic(t: Int) = spark.createDataset(events.iterator.filter(_.wire.topic == t)
      .map(g => (g.wire.seq, g.wire.payload)).toSeq)
    val dropped = events.length - ThermostatStream.fromWireProto(topic(0), topic(1)).count()
    val injected = events.count(_.bad).toLong
    out.check(dropped == injected, s"fromWireProto dropped $dropped records, $injected were truncated")

    // group delivered events by sensor, keeping send order
    val delivered = events.filter(!_.bad)
    val count = new Array[Int](sensors + 1)
    delivered.foreach(g => count(g.ev.sensorID.toInt + 1) += 1)
    (1 to sensors).foreach(i => count(i) += count(i - 1))
    val bySensor = new Array[ControlEvent](delivered.length)
    val fill = count.clone()
    delivered.foreach { g => val s = g.ev.sensorID.toInt; bySensor(fill(s)) = g.ev; fill(s) += 1 }
    val expected = Array.newBuilder[Long]
    val t0 = System.nanoTime()
    (0 until sensors).foreach { s =>
      Hysteresis.replay(Iterator.range(count(s), count(s + 1)).map(bySensor))
        .foreach { case (seq, a) => expected += pack(s.toLong, seq, a) }
    }
    val stepNs = System.nanoTime() - t0
    val exp = expected.result().sorted
    val act = got.map(c => pack(c.sensorID, c.seq, c.action)).sorted
    val bad = scala.collection.mutable.Set.empty[Int]
    var i = 0
    var j = 0
    while (i < exp.length || j < act.length) {
      if (j >= act.length || (i < exp.length && exp(i) < act(j))) { bad += (exp(i) >>> 32).toInt; i += 1 }
      else if (i >= exp.length || act(j) < exp(i)) { bad += (act(j) >>> 32).toInt; j += 1 }
      else { i += 1; j += 1 }
    }
    out.check(bad.isEmpty, s"commands differ from Hysteresis.replay on ${bad.size} sensors")
    out.check(exp.nonEmpty, "no commands expected: the workload is vacuous")

    val payloads = ThermostatStream.toWireProto(spark.createDataset(got.toSeq)).collect()
    out.check(payloads.length == got.length, s"toWireProto emitted ${payloads.length} payloads for ${got.length} commands")
    val decoded = payloads.flatMap(ProtoCodec.decodeHeater(_)).map(h => (h.sensorID.toLong << 1) | h.action).sorted
    out.check(decoded.sameElements(got.map(c => (c.sensorID << 1) | c.action).sorted),
      "toWireProto payloads do not decode to the emitted commands")

    if (trace) {
      out.layer("codec.decode_ns") = StreamGen.decodeNs(events) / events.length
      out.layer("codec.dropped") = dropped.toDouble
      out.layer("model.step_ns") = stepNs.toDouble / math.max(1, delivered.length)
      val t1 = System.nanoTime()
      var sink = 0L
      got.foreach(c => sink += ProtoCodec.encodeHeater(graft.model.HeaterControl(c.sensorID.toInt, c.action)).length)
      out.layer("codec.encode_ns") = (System.nanoTime() - t1).toDouble / math.max(1, got.length)
    }
    bad.toSet
  }

  private def pack(sensor: Long, seq: Long, action: Int): Long = (sensor << 32) | (seq << 1) | action.toLong

  private def streamProgress(r: SparkRecorders, a: Double, b: Double): Seq[BatchProgress] =
    r.progress.asScala.toSeq.map(BatchProgress).filter(p => p.endOffset >= 0 && p.startMs >= a && p.startMs < b)

  private def addBatchSpans(t: Tracer, parent: Long, b: BatchProgress): Unit = {
    val id = t.add(parent, "batch", s"batch-${b.p.batchId}", b.startMs, b.endMs)
    var at = b.startMs
    phases.foreach { ph =>
      val d = b.dur(ph)
      if (d > 0) { t.add(id, "phase", ph, at, at + d); at += d }
    }
  }

  /** RocksDB state-store counters and the `customMetrics` key of each. */
  private val rocksCounters: Seq[(String, String)] = Seq(
    "state.rocksdb_get" -> "rocksdbGetCount", "state.rocksdb_put" -> "rocksdbPutCount",
    "state.rocksdb_sync_ms" -> "rocksdbCommitFileSyncLatencyMs",
    "state.rocksdb_snapshot_ms" -> "rocksdbCommitCheckpointLatency")
  private val rocksLayerNames = rocksCounters.map(_._1) :+ "state.rocksdb_cache_miss_ratio"

  /** Layers only the stream workloads exercise. */
  val streamLayerNames: Seq[String] = Seq("streaming.batches", "streaming.rows_per_batch_p50",
    "streaming.trigger_ms_p50", "streaming.query_planning_ms_p50", "streaming.add_batch_ms_p50",
    "streaming.wal_commit_ms_p50", "streaming.commit_offsets_ms_p50", "streaming.latest_offset_ms_p50",
    "state.rows_total", "state.rows_updated", "state.memory_bytes", "state.commit_ms_p50",
    "state.update_ms_p50") ++ rocksLayerNames

  /** Layers only the batch suite exercises. */
  def queryLayerNames: Seq[String] =
    "queries.build_ms" +: (Metrics.queriesLoops ++ Metrics.queriesOneshot).map(q => s"queries.${q}_s")

  private def streamLayers(out: Outcome, bs: Seq[BatchProgress], q: ControllerQuery, rocks: Boolean): Unit = {
    def p50(f: BatchProgress => Double) = Metrics.median(bs.map(f))
    out.layer("streaming.batches") = bs.size.toDouble
    out.layer("streaming.rows_per_batch_p50") = p50(q.events(_).toDouble)
    out.layer("streaming.trigger_ms_p50") = p50(_.dur("triggerExecution"))
    out.layer("streaming.query_planning_ms_p50") = p50(_.dur("queryPlanning"))
    out.layer("streaming.add_batch_ms_p50") = p50(_.dur("addBatch"))
    out.layer("streaming.wal_commit_ms_p50") = p50(_.dur("walCommit"))
    out.layer("streaming.commit_offsets_ms_p50") = p50(_.dur("commitOffsets"))
    out.layer("streaming.latest_offset_ms_p50") = p50(_.dur("latestOffset"))
    val ops = bs.flatMap(_.p.stateOperators.headOption)
    out.layer("state.rows_total") = ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    out.layer("state.rows_updated") = ops.map(_.numRowsUpdated.toDouble).sum
    out.layer("state.memory_bytes") = ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
    out.layer("state.commit_ms_p50") = Metrics.median(ops.map(_.commitTimeMs.toDouble))
    out.layer("state.update_ms_p50") = Metrics.median(ops.map(_.allUpdatesTimeMs.toDouble))
    if (!rocks) out.notExercised(rocksLayerNames: _*)
    else {
      // a key the provider stopped reporting leaves its metric unset,
      // which run.py refuses, rather than reading as 0
      def custom(k: String): Option[Double] = {
        val vs = ops.flatMap(o => Option(o.customMetrics.get(k)).map(_.doubleValue))
        if (vs.isEmpty) None else Some(vs.sum)
      }
      rocksCounters.foreach { case (name, key) => custom(key).foreach(out.layer(name) = _) }
      for (hit <- custom("rocksdbReadBlockCacheHitCount"); miss <- custom("rocksdbReadBlockCacheMissCount"))
        out.layer("state.rocksdb_cache_miss_ratio") = if (hit + miss > 0) miss / (hit + miss) else 0.0
    }
  }

  /** Mean self time per span of each kind, plus the span file. */
  def finishTrace(tracer: Tracer, out: Outcome, work: Work, workload: String): Unit = {
    val self = tracer.selfMsByKind
    Seq("chunk", "batch", "phase", "query", "build", "action", "job").foreach { k =>
      out.layer(s"self.${k}_ms") = self.getOrElse(k, 0.0)
    }
    out.layer("trace.spans") = tracer.spans.size.toDouble
    tracer.write(work.traceFile(workload), self)
  }

  /** Relative change of a traced figure against its untraced twin, in %. */
  def pct(traced: Double, untraced: Double): Double =
    if (untraced > 0) (traced - untraced) / untraced * 100.0 else 0.0

  private def sleepUntil(ms: Double): Unit = {
    val d = ms - Clock.nowMs
    if (d > 0) Thread.sleep(d.toLong + 1)
  }
}
