package graft.conn

import java.io.{EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** MQTT 3.1.1 (internal/impl/mqtt/: input.go:23 subscribe-to-topics,
  * output.go publish) — both ends from the PUBLIC OASIS spec, the
  * [[Ws]]/[[Resp]]/[[Nats]] precedent (the reference wraps the paho
  * client; neither a broker nor a client library exists in-sandbox).
  *
  * Wire format implemented: the fixed header (packet type + flags +
  * varint remaining-length), CONNECT/CONNACK with protocol name "MQTT"
  * level 4, PUBLISH with QoS 0/1 + retain + PUBACK, SUBSCRIBE/SUBACK
  * with `+`/`#` topic filters, PINGREQ/PINGRESP, DISCONNECT.
  * [[MiniMqtt]] routes publishes to matching subscriptions at
  * min(publish QoS, granted QoS) and replays retained messages on
  * subscribe — the broker behaviors the reference connector relies on
  * (input.go:31-33 exposes mqtt_qos/mqtt_retained/mqtt_topic metadata).
  * Declared out: QoS 2 (exactly-once handshake — the reference itself
  * documents at-least-once as the delivery contract), persistent
  * sessions, TLS/auth.
  */
object Mqtt {

  // --------------------------------------------------------------- wire

  /** Varint remaining-length (spec §2.2.3): 7 bits per byte, MSB = more. */
  def writeRemainingLength(out: OutputStream, n0: Int): Unit = {
    var n = n0
    do {
      var d = n % 128
      n /= 128
      if (n > 0) d |= 0x80
      out.write(d)
    } while (n > 0)
  }

  def readRemainingLength(in: InputStream): Int = {
    var mult = 1; var value = 0; var i = 0
    var more = true
    while (more) {
      val b = in.read()
      if (b < 0) throw new EOFException("MQTT stream closed in remaining-length")
      value += (b & 0x7f) * mult
      mult *= 128
      i += 1
      if (i > 4) throw new java.io.IOException("malformed remaining-length")
      more = (b & 0x80) != 0
    }
    value
  }

  /** One control packet: (type, flags, body). */
  final case class Packet(ptype: Int, flags: Int, body: Array[Byte])

  def readPacket(in: InputStream): Packet = {
    val h = in.read()
    if (h < 0) throw new EOFException("MQTT stream closed")
    val n = readRemainingLength(in)
    Packet(h >> 4, h & 0x0f, Wire.readExact(in, n, "MQTT"))
  }

  def writePacket(out: OutputStream, ptype: Int, flags: Int, body: Array[Byte]): Unit = {
    out.write((ptype << 4) | flags)
    writeRemainingLength(out, body.length)
    out.write(body)
    out.flush()
  }

  /** Length-prefixed UTF-8 string (spec §1.5.3). */
  private def mqttString(s: String): Array[Byte] = {
    val b = s.getBytes(UTF_8)
    Array[Byte]((b.length >> 8).toByte, (b.length & 0xff).toByte) ++ b
  }

  private final class Reader(body: Array[Byte]) {
    var pos = 0
    def u8(): Int = { val v = body(pos) & 0xff; pos += 1; v }
    def u16(): Int = { val v = ((body(pos) & 0xff) << 8) | (body(pos + 1) & 0xff); pos += 2; v }
    def str(): String = {
      val n = u16()
      val s = new String(body, pos, n, UTF_8); pos += n; s
    }
    def rest(): Array[Byte] = java.util.Arrays.copyOfRange(body, pos, body.length)
    def hasMore: Boolean = pos < body.length
  }

  /** Topic filter match (spec §4.7): `/`-separated levels, `+` matches one
    * level, `#` (last level only) matches any remaining levels incl. none. */
  def topicMatches(filter: String, topic: String): Boolean = {
    val f = filter.split("/", -1); val t = topic.split("/", -1)
    var i = 0
    while (i < f.length) {
      if (f(i) == "#") return true
      if (i >= t.length) return false
      if (f(i) != "+" && f(i) != t(i)) return false
      i += 1
    }
    i == t.length
  }

  // ------------------------------------------------------------- broker

  final case class Publish(topic: String, payload: Array[Byte], qos: Int, retained: Boolean)

  /** Minimal MQTT 3.1.1 broker: CONNECT/CONNACK, SUBSCRIBE/SUBACK with
    * wildcards, PUBLISH QoS 0/1 (+PUBACK), retained messages,
    * PINGREQ/PINGRESP. Thread-per-connection, all daemon. */
  final class MiniMqtt {
    private final case class Sub(conn: Wire.Conn, filter: String, qos: Int)
    private val lock = new Object
    private val subs = mutable.ArrayBuffer[Sub]()
    private val retained = mutable.LinkedHashMap[String, Array[Byte]]()
    private var listener: Wire.Listener = _

    def start(): MiniMqtt = { listener = Wire.listen("mini-mqtt")(serve); this }

    def port: Int = listener.port
    def url: String = s"tcp://127.0.0.1:$port"

    def stop(): Unit = listener.close()

    private def sendPublish(conn: Wire.Conn, topic: String, payload: Array[Byte],
                            qos: Int, retain: Boolean, pid: Int): Unit = {
      val o = conn.out
      o.synchronized {
        val bo = new java.io.ByteArrayOutputStream()
        bo.write(mqttString(topic))
        if (qos > 0) { bo.write(pid >> 8); bo.write(pid & 0xff) }
        bo.write(payload)
        val flags = (qos << 1) | (if (retain) 1 else 0)
        writePacket(o, 3, flags, bo.toByteArray)
      }
    }

    private def route(topic: String, payload: Array[Byte], qos: Int): Unit = {
      val targets = lock.synchronized {
        subs.filter(s => topicMatches(s.filter, topic)).toVector
      }
      var pid = 1
      targets.foreach { s =>
        try {
          sendPublish(s.conn, topic, payload, math.min(qos, s.qos), retain = false, pid)
          pid += 1
        } catch { case _: Throwable => () }
      }
    }

    private def serve(conn: Wire.Conn): Unit = {
      val (in, out) = (conn.in, conn.out)
      try {
        // first packet MUST be CONNECT (spec §3.1)
        val c = readPacket(in)
        if (c.ptype != 1) throw new java.io.IOException(s"expected CONNECT, got type ${c.ptype}")
        val r = new Reader(c.body)
        val proto = r.str()
        val level = r.u8()
        if (proto != "MQTT" || level != 4)
          throw new java.io.IOException(s"unsupported protocol $proto level $level")
        out.synchronized { writePacket(out, 2, 0, Array[Byte](0, 0)) } // CONNACK accepted
        while (true) {
          val p = readPacket(in)
          p.ptype match {
            case 3 => // PUBLISH
              val qos = (p.flags >> 1) & 0x3
              val retain = (p.flags & 1) != 0
              val pr = new Reader(p.body)
              val topic = pr.str()
              val pid = if (qos > 0) pr.u16() else 0
              val payload = pr.rest()
              if (retain) lock.synchronized {
                if (payload.isEmpty) retained.remove(topic) // spec: empty clears
                else retained(topic) = payload
              }
              if (qos == 1) out.synchronized {
                writePacket(out, 4, 0, Array[Byte]((pid >> 8).toByte, (pid & 0xff).toByte))
              }
              route(topic, payload, qos)
            case 8 => // SUBSCRIBE
              val sr = new Reader(p.body)
              val pid = sr.u16()
              val granted = mutable.ArrayBuffer[Byte]()
              val newSubs = mutable.ArrayBuffer[(String, Int)]()
              while (sr.hasMore) {
                val filter = sr.str()
                val q = math.min(sr.u8(), 1) // QoS 2 downgraded to 1
                newSubs.append((filter, q))
                granted.append(q.toByte)
              }
              lock.synchronized {
                newSubs.foreach { case (f, q) => subs.append(Sub(conn, f, q)) }
              }
              out.synchronized {
                writePacket(out, 9, 0,
                  Array[Byte]((pid >> 8).toByte, (pid & 0xff).toByte) ++ granted)
              }
              // retained replay AFTER SUBACK, flagged retained=true (§3.3.1.3)
              val replay = lock.synchronized {
                retained.toVector.flatMap { case (t, v) =>
                  newSubs.collect { case (f, q) if topicMatches(f, t) => (t, v, q) }
                }
              }
              replay.foreach { case (t, v, q) =>
                sendPublish(conn, t, v, q, retain = true, pid = 1)
              }
            case 12 => // PINGREQ
              out.synchronized { writePacket(out, 13, 0, Array.emptyByteArray) }
            case 14 => return // DISCONNECT
            case 4 => () // PUBACK from a QoS-1 delivery to this subscriber
            case other => throw new java.io.IOException(s"unexpected packet type $other")
          }
        }
      } finally lock.synchronized { subs.filterInPlace(s => s.conn ne conn) }
    }
  }

  // ------------------------------------------------------------- client

  /** Blocking client; one per partition in the operator layer. QoS-1
    * publishes await PUBACK; inbound PUBLISH packets seen while waiting
    * are buffered for [[nextPublish]]. */
  final class Client(url: String, clientId: String) extends AutoCloseable {
    private val u = java.net.URI.create(url)
    private val conn = Wire.connect("MQTT", u.getHost, u.getPort)
    private val in = conn.in
    private val out = conn.out
    private val inbound = new java.util.ArrayDeque[Publish]()
    private var nextPid = 1

    locally {
      val bo = new java.io.ByteArrayOutputStream()
      bo.write(mqttString("MQTT"))
      bo.write(4)    // protocol level 3.1.1
      bo.write(0x02) // clean session
      bo.write(0); bo.write(0) // keep-alive: disabled for the fixture
      bo.write(mqttString(clientId))
      writePacket(out, 1, 0, bo.toByteArray)
      val ack = readPacket(in)
      require(ack.ptype == 2 && ack.body(1) == 0,
        s"CONNACK refused: type ${ack.ptype} code ${if (ack.body.length > 1) ack.body(1) else -1}")
    }

    private def bufferIfPublish(p: Packet): Boolean = {
      if (p.ptype != 3) return false
      val qos = (p.flags >> 1) & 0x3
      val retainFlag = (p.flags & 1) != 0
      val r = new Reader(p.body)
      val topic = r.str()
      val pid = if (qos > 0) r.u16() else 0
      val payload = r.rest()
      if (qos == 1) out.synchronized { // ack the delivery
        writePacket(out, 4, 0, Array[Byte]((pid >> 8).toByte, (pid & 0xff).toByte))
      }
      inbound.add(Publish(topic, payload, qos, retainFlag))
      true
    }

    def publish(topic: String, payload: Array[Byte], qos: Int = 1,
                retain: Boolean = false): Unit = synchronized {
      val pid = { val p = nextPid; nextPid = if (nextPid == 65535) 1 else nextPid + 1; p }
      val bo = new java.io.ByteArrayOutputStream()
      bo.write(mqttString(topic))
      if (qos > 0) { bo.write(pid >> 8); bo.write(pid & 0xff) }
      bo.write(payload)
      writePacket(out, 3, (qos << 1) | (if (retain) 1 else 0), bo.toByteArray)
      if (qos == 1) { // await PUBACK, buffering interleaved deliveries
        var acked = false
        while (!acked) {
          val p = readPacket(in)
          if (p.ptype == 4) {
            val got = ((p.body(0) & 0xff) << 8) | (p.body(1) & 0xff)
            require(got == pid, s"PUBACK pid $got != $pid")
            acked = true
          } else if (!bufferIfPublish(p)) {
            throw new java.io.IOException(s"unexpected packet type ${p.ptype} awaiting PUBACK")
          }
        }
      }
    }

    def subscribe(filters: Seq[(String, Int)]): Unit = synchronized {
      val pid = { val p = nextPid; nextPid += 1; p }
      val bo = new java.io.ByteArrayOutputStream()
      bo.write(pid >> 8); bo.write(pid & 0xff)
      filters.foreach { case (f, q) => bo.write(mqttString(f)); bo.write(q) }
      writePacket(out, 8, 0x02, bo.toByteArray) // flags MUST be 0010 (§3.8.1)
      var acked = false
      while (!acked) {
        val p = readPacket(in)
        if (p.ptype == 9) acked = true
        else if (!bufferIfPublish(p))
          throw new java.io.IOException(s"unexpected packet type ${p.ptype} awaiting SUBACK")
      }
    }

    /** Next delivered PUBLISH (buffered or read fresh); answers pings. */
    def nextPublish(): Publish = synchronized {
      if (!inbound.isEmpty) return inbound.poll()
      while (true) {
        val p = readPacket(in)
        if (bufferIfPublish(p)) return inbound.poll()
        else if (p.ptype == 13) () // PINGRESP
        else throw new java.io.IOException(s"unexpected packet type ${p.ptype}")
      }
      null // unreachable
    }

    def disconnect(): Unit = synchronized {
      try writePacket(out, 14, 0, Array.emptyByteArray) catch { case _: Throwable => () }
      close()
    }
    override def close(): Unit = conn.close()
  }
}
