package graft.conn

import java.io.{DataInputStream, DataOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** NSQ (internal/impl/nsq/: input.go:33 topic+channel subscribe,
  * output.go publish — the reference wraps go-nsq) — both ends from the
  * PUBLIC NSQ TCP protocol spec (V2): the `"  V2"` magic, line commands
  * `SUB <topic> <channel>`, `PUB <topic>\n<size><body>`, `RDY <n>`,
  * `FIN <id>` / `REQ <id> <delay>`, and size-prefixed response frames
  * `size(4) frameType(4) data` with frame types response(0), error(1)
  * and message(2: timestamp(8) attempts(2) id(16hex) body).
  *
  * NSQ semantics the fixture honors: a CHANNEL is a durable consumer
  * group — every channel of a topic receives every message; consumers on
  * the same channel split the stream. RDY is consumer flow control;
  * unFINished messages requeue when their consumer dies (at-least-once,
  * attempts incremented). Declared out: nsqlookupd discovery (the
  * reference also connects direct when `nsqd_tcp_addresses` is set),
  * deflate/snappy negotiation, delayed REQ timers (requeue is immediate).
  */
object Nsq {

  final val FrameResponse = 0
  final val FrameError = 1
  final val FrameMessage = 2

  def writeFrame(out: OutputStream, ftype: Int, data: Array[Byte]): Unit = {
    val d = new DataOutputStream(out)
    d.writeInt(4 + data.length)
    d.writeInt(ftype)
    d.write(data)
    d.flush()
  }

  /** One delivered message. */
  final case class Delivery(id: String, attempts: Int, body: Array[Byte])

  // -------------------------------------------------------------- server

  /** Minimal nsqd: topics fan out to channels, channels split across
    * consumers, RDY flow control, FIN/REQ, requeue-on-death. */
  final class MiniNsq {
    private final case class Consumer(conn: Wire.Conn,
                                      topic: String, channel: String) {
      var rdy: Long = 0
    }
    private final case class PendingMsg(id: String, body: Array[Byte], attempts: Int)
    private val lock = new Object
    // (topic, channel) → queued messages; channels created on first SUB
    private val queues = mutable.LinkedHashMap[(String, String), mutable.ArrayDeque[PendingMsg]]()
    private val channelsOf = mutable.HashMap[String, mutable.LinkedHashSet[String]]()
    private val consumers = mutable.ArrayBuffer[Consumer]()
    private val inflight = mutable.HashMap[(Wire.Conn, String), (String, String, PendingMsg)]()
    private val idGen = new AtomicLong(0)
    private var listener: Wire.Listener = _

    def start(): MiniNsq = { listener = Wire.listen("mini-nsq")(serve); this }

    def port: Int = listener.port
    def address: String = s"127.0.0.1:$port"
    def stop(): Unit = listener.close()

    private def publish(topic: String, body: Array[Byte]): Unit = {
      val dests = lock.synchronized {
        val chans = channelsOf.getOrElseUpdate(topic, mutable.LinkedHashSet[String]())
        chans.foreach { ch =>
          val id = f"${idGen.incrementAndGet()}%016x"
          queues.getOrElseUpdate((topic, ch), mutable.ArrayDeque[PendingMsg]())
            .append(PendingMsg(id, body, 1))
        }
        chans.toVector
      }
      dests.foreach(ch => pump(topic, ch))
    }

    private def pump(topic: String, channel: String): Unit = {
      while (true) {
        val hand = lock.synchronized {
          val q = queues.get((topic, channel))
          val c = consumers.find(c => c.topic == topic && c.channel == channel && c.rdy > 0)
          if (q.isEmpty || q.get.isEmpty || c.isEmpty) None
          else {
            val m = q.get.removeHead()
            c.get.rdy -= 1
            inflight((c.get.conn, m.id)) = (topic, channel, m)
            Some((c.get, m))
          }
        }
        hand match {
          case None => return
          case Some((c, m)) =>
            try {
              val payload = new java.io.ByteArrayOutputStream()
              val d = new DataOutputStream(payload)
              d.writeLong(System.nanoTime())
              d.writeShort(m.attempts)
              d.write(m.id.getBytes(UTF_8)) // 16 ascii-hex bytes
              d.write(m.body)
              c.conn.out.synchronized { writeFrame(c.conn.out, FrameMessage, payload.toByteArray) }
            } catch { case _: Throwable => dropConsumer(c.conn) }
        }
      }
    }

    private def dropConsumer(conn: Wire.Conn): Unit = {
      val requeued = lock.synchronized {
        consumers.filterInPlace(_.conn ne conn)
        val mine = inflight.keys.filter(_._1 eq conn).toVector
        val items = mine.map(inflight(_))
        mine.foreach(inflight.remove)
        items.foreach { case (t, ch, m) =>
          queues.getOrElseUpdate((t, ch), mutable.ArrayDeque[PendingMsg]())
            .prepend(m.copy(attempts = m.attempts + 1))
        }
        items.map(i => (i._1, i._2)).distinct
      }
      requeued.foreach { case (t, ch) => pump(t, ch) }
    }

    private def serve(conn: Wire.Conn): Unit = {
      val (in, out) = (conn.in, conn.out)
      try {
        val magic = Wire.readExact(in, 4, "nsq")
        if (!java.util.Arrays.equals(magic, "  V2".getBytes(UTF_8)))
          throw new java.io.IOException("bad NSQ magic")
        while (true) {
          val line = Wire.readLineLf(in, "nsq")
          val parts = line.split(" ")
          parts(0) match {
            case "IDENTIFY" =>
              val n = in.readInt()
              Wire.readExact(in, n, "nsq") // feature negotiation body ignored
              out.synchronized { writeFrame(out, FrameResponse, "OK".getBytes(UTF_8)) }
            case "SUB" =>
              val (topic, channel) = (parts(1), parts(2))
              lock.synchronized {
                channelsOf.getOrElseUpdate(topic, mutable.LinkedHashSet[String]()).add(channel)
                queues.getOrElseUpdate((topic, channel), mutable.ArrayDeque[PendingMsg]())
                consumers.append(Consumer(conn, topic, channel))
              }
              out.synchronized { writeFrame(out, FrameResponse, "OK".getBytes(UTF_8)) }
            case "RDY" =>
              val n = parts(1).toLong
              lock.synchronized {
                consumers.find(_.conn eq conn).foreach(_.rdy = n)
              }
              val mine = lock.synchronized {
                consumers.find(_.conn eq conn).map(c => (c.topic, c.channel))
              }
              mine.foreach { case (t, ch) => pump(t, ch) }
            case "PUB" =>
              val n = in.readInt()
              val body = Wire.readExact(in, n, "nsq")
              publish(parts(1), body)
              out.synchronized { writeFrame(out, FrameResponse, "OK".getBytes(UTF_8)) }
            case "FIN" =>
              lock.synchronized { inflight.remove((conn, parts(1))); () }
            case "REQ" =>
              val re = lock.synchronized {
                inflight.remove((conn, parts(1))).map { case (t, ch, m) =>
                  queues.getOrElseUpdate((t, ch), mutable.ArrayDeque[PendingMsg]())
                    .prepend(m.copy(attempts = m.attempts + 1))
                  (t, ch)
                }
              }
              re.foreach { case (t, ch) => pump(t, ch) }
            case "NOP" => ()
            case "CLS" =>
              out.synchronized { writeFrame(out, FrameResponse, "CLOSE_WAIT".getBytes(UTF_8)) }
              return
            case other =>
              out.synchronized {
                writeFrame(out, FrameError, s"E_INVALID unknown command $other".getBytes(UTF_8))
              }
          }
        }
      } finally dropConsumer(conn)
    }
  }

  // -------------------------------------------------------------- client

  /** Blocking client: magic + IDENTIFY handshake, then publish or
    * subscribe/consume with FIN acks. One per partition in operators. */
  final class Client(address: String) extends AutoCloseable {
    private val conn = Wire.connect("nsq", address)
    private val in = conn.in
    private val out = conn.out

    locally {
      out.write("  V2".getBytes(UTF_8))
      val body = """{"client_id":"graft","hostname":"graft","user_agent":"graft/0.1"}"""
        .getBytes(UTF_8)
      out.write("IDENTIFY\n".getBytes(UTF_8))
      new DataOutputStream(out).writeInt(body.length)
      out.write(body)
      out.flush()
      expectOk()
    }

    private def readFrame(): (Int, Array[Byte]) = {
      val size = in.readInt()
      val ftype = in.readInt()
      (ftype, Wire.readExact(in, size - 4, "nsq"))
    }

    private def expectOk(): Unit = {
      val (t, data) = readFrame()
      val s = new String(data, UTF_8)
      if (t != FrameResponse || s != "OK")
        throw new java.io.IOException(s"expected OK, got type $t '$s'")
    }

    def publish(topic: String, body: Array[Byte]): Unit = synchronized {
      out.write(s"PUB $topic\n".getBytes(UTF_8))
      new DataOutputStream(out).writeInt(body.length)
      out.write(body)
      out.flush()
      expectOk()
    }

    private var rdyMax = 0
    private var rdyLeft = 0

    def subscribe(topic: String, channel: String, maxInFlight: Int = 64): Unit =
      synchronized {
        out.write(s"SUB $topic $channel\n".getBytes(UTF_8))
        out.flush()
        expectOk()
        rdyMax = maxInFlight; rdyLeft = maxInFlight
        out.write(s"RDY $maxInFlight\n".getBytes(UTF_8))
        out.flush()
      }

    /** Next pushed message (frame type 2); answers heartbeats. */
    def nextDelivery(): Delivery = synchronized {
      while (true) {
        val (t, data) = readFrame()
        t match {
          case FrameMessage =>
            val r = new DataInputStream(new java.io.ByteArrayInputStream(data))
            r.readLong() // timestamp
            val attempts = r.readUnsignedShort()
            val id = new String(Wire.readExact(r, 16, "nsq"), UTF_8)
            val body = Wire.readExact(r, data.length - 26, "nsq")
            return Delivery(id, attempts, body)
          case FrameResponse if new String(data, UTF_8) == "_heartbeat_" =>
            out.write("NOP\n".getBytes(UTF_8)); out.flush()
          case FrameError =>
            throw new java.io.IOException(s"nsq error: ${new String(data, UTF_8)}")
          case _ => () // stray OK
        }
      }
      null // unreachable
    }

    /** FIN the message and re-arm RDY when half the window is consumed —
      * the go-nsq client's continual-RDY behavior (RDY is an absolute
      * server-side counter decremented per delivery). */
    def fin(id: String): Unit = synchronized {
      out.write(s"FIN $id\n".getBytes(UTF_8))
      rdyLeft -= 1
      if (rdyMax > 0 && rdyLeft <= rdyMax / 2) {
        rdyLeft = rdyMax
        out.write(s"RDY $rdyMax\n".getBytes(UTF_8))
      }
      out.flush()
    }
    def requeue(id: String): Unit = synchronized {
      out.write(s"REQ $id 0\n".getBytes(UTF_8)); out.flush()
    }
    override def close(): Unit = conn.close()
  }
}
