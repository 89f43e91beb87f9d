package perfbench

import graft.model.{ControlEvent, SensorData, TemperatureControl}
import graft.streaming.{HeaterSim, ProtoCodec}

/** One record on the in-process wire: topic 0 carries SensorData,
  * topic 1 TemperatureControl; `seq` is the record's per-sensor
  * ordering sequence, as a Kafka offset would be. */
final case class Wire(topic: Int, seq: Long, payload: Array[Byte])

/** A generated event: the model event, its record on the wire, and
  * whether the payload was replaced by truncated bytes (which the
  * controller must drop). */
final class GenEvent(val ev: ControlEvent, val wire: Wire, val bad: Boolean)

/** The generated input of a stream workload.
  *  - `setup`: each sensor's current setpoint, sent before timing so
  *    that state exists for every key;
  *  - `stream`: readings in send order (reading round, then sensor
  *    slot), each preceded by the control it follows, if any.
  */
final class StreamInput(val sensors: Int, val setup: Array[GenEvent], val stream: Array[GenEvent])

/** Thermostat input built from `HeaterSim.closedLoopWalk`: one walk per
  * sensor with the reference's one control per 60 readings (10 min of
  * 10 s readings). Each sensor joins its walk at a random reading
  * offset below 60, so controls land at the 1:60 ratio inside any
  * window instead of all at the start. One payload in 1,000 on either
  * topic is truncated. Everything is a pure function of `seed`.
  */
object StreamGen {
  val ControlEvery = 60
  val BadOneIn = 1000

  def generate(seed: Long, sensors: Int, readingsPerSensor: Int): StreamInput = {
    val slotOf = {
      val perm = Array.tabulate(sensors)(identity)
      val rnd = new scala.util.Random(seed)
      var i = sensors - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = perm(i); perm(i) = perm(j); perm(j) = t
        i -= 1
      }
      val inv = new Array[Int](sensors)
      var k = 0
      while (k < sensors) { inv(perm(k)) = k; k += 1 }
      inv
    }
    val setup = new Array[GenEvent](sensors)
    val reads = Array.fill(readingsPerSensor)(new Array[GenEvent](sensors))
    val ctls = Array.fill(readingsPerSensor)(new Array[GenEvent](sensors))
    // sensors are independent and write disjoint slots: generate them
    // on all cores
    java.util.stream.IntStream.range(0, sensors).parallel().forEach { s =>
      val rnd = new scala.util.Random(seed * 1000003L + s)
      val offset = rnd.nextInt(ControlEvery)
      val walk = HeaterSim.closedLoopWalk(offset + readingsPerSensor,
        controlEvery = ControlEvery, seed = seed * 7919L + s, sensorID = s.toLong)
      val slot = slotOf(s)
      var reading = 0
      var pendingCtl: GenEvent = null
      walk.foreach { ev =>
        val g = encode(ev, rnd.nextInt(BadOneIn) == 0)
        if (ev.kind == "control") {
          if (reading == 0) setup(slot) = g else pendingCtl = g
        } else {
          val r = reading - offset
          if (r >= 0) {
            reads(r)(slot) = g
            ctls(r)(slot) = pendingCtl
          }
          pendingCtl = null
          reading += 1
        }
      }
    }
    val stream = Array.newBuilder[GenEvent]
    var r = 0
    while (r < readingsPerSensor) {
      var k = 0
      while (k < sensors) {
        if (ctls(r)(k) != null) stream += ctls(r)(k)
        stream += reads(r)(k)
        k += 1
      }
      r += 1
    }
    new StreamInput(sensors, setup, stream.result())
  }

  private def encode(ev: ControlEvent, bad: Boolean): GenEvent = {
    val id = ev.sensorID.toInt
    val (topic, bytes) =
      if (ev.kind == "control")
        (1, ProtoCodec.encodeControl(TemperatureControl(id, ev.desired, ev.upDelta, ev.downDelta)))
      else (0, ProtoCodec.encodeSensor(SensorData(id, ev.temperature)))
    // dropping the last byte always cuts a varint or a fixed64 short
    val payload = if (bad) java.util.Arrays.copyOf(bytes, bytes.length - 1) else bytes
    if (bad) require(ProtoCodec.decodeSensor(payload).isEmpty && ProtoCodec.decodeControl(payload).isEmpty,
      s"truncated payload of $ev still decodes")
    new GenEvent(ev, Wire(topic, ev.seq, payload), bad)
  }

  /** Nanoseconds to decode every payload with the decoder of its topic. */
  def decodeNs(events: Array[GenEvent]): Double = {
    var kept = 0L
    val t0 = System.nanoTime()
    events.foreach { g =>
      val ok = if (g.wire.topic == 1) ProtoCodec.decodeControl(g.wire.payload).isDefined
               else ProtoCodec.decodeSensor(g.wire.payload).isDefined
      if (ok) kept += 1
    }
    val ns = (System.nanoTime() - t0).toDouble
    require(kept > 0, "no payload decoded")
    ns
  }
}
