package graft.conn

import java.io.{DataInputStream, DataOutputStream, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** AMQP 0-9-1 (internal/impl/amqp09/: input.go:24 queue consume,
  * output.go:23 exchange publish — the reference wraps rabbitmq/amqp091-go)
  * — both ends from the PUBLIC AMQP 0-9-1 specification, the established
  * from-scratch-protocol precedent ([[Ws]]/[[Resp]]/[[Nats]]/[[Mqtt]]).
  *
  * Wire format implemented: the `AMQP\0\0\x09\x01` protocol header, frames
  * `type(1) channel(2) size(4) payload 0xCE`, METHOD/HEADER/BODY frame
  * types, the connection negotiation (Start/Start-Ok PLAIN, Tune/Tune-Ok,
  * Open/Open-Ok), Channel.Open, Queue.Declare, Basic.Publish with content
  * header + body frames, Basic.Consume with server-push Basic.Deliver, and
  * Basic.Ack. Field codec: octet/short/long/longlong, short+long strings,
  * and length-skipped field tables.
  *
  * [[MiniAmqp]] is the fixture broker: the DEFAULT exchange (`""` routes
  * by routing key to the queue of the same name — the rabbit behavior the
  * reference's `queue` field leans on), in-memory queues, one consumer per
  * queue delivery, at-least-once redelivery of unacked messages when a
  * consumer connection dies. Declared out: non-default exchange types
  * (topic/fanout binding tables), transactions/confirms, QoS prefetch —
  * the connector surface the reference's input/output actually exercises
  * is queue-consume + default-exchange publish + explicit acks.
  */
object Amqp {

  private val ProtocolHeader: Array[Byte] =
    Array[Byte]('A', 'M', 'Q', 'P', 0, 0, 9, 1)

  final val FrameMethod = 1
  final val FrameHeader = 2
  final val FrameBody = 3
  final val FrameHeartbeat = 8
  private val FrameEnd = 0xCE

  // -------------------------------------------------------- field codec

  final class W {
    private val bo = new java.io.ByteArrayOutputStream()
    private val d = new DataOutputStream(bo)
    def octet(v: Int): W = { d.writeByte(v); this }
    def short(v: Int): W = { d.writeShort(v); this }
    def long(v: Int): W = { d.writeInt(v); this }
    def longlong(v: Long): W = { d.writeLong(v); this }
    def shortstr(s: String): W = {
      val b = s.getBytes(UTF_8)
      require(b.length < 256, s"shortstr too long: ${b.length}")
      d.writeByte(b.length); d.write(b); this
    }
    def longstr(b: Array[Byte]): W = { d.writeInt(b.length); d.write(b); this }
    def emptyTable(): W = { d.writeInt(0); this }
    def raw(b: Array[Byte]): W = { d.write(b); this }
    def bytes: Array[Byte] = { d.flush(); bo.toByteArray }
  }

  final class R(payload: Array[Byte]) {
    private val d = new DataInputStream(new java.io.ByteArrayInputStream(payload))
    def octet(): Int = d.readUnsignedByte()
    def short(): Int = d.readUnsignedShort()
    def long(): Int = d.readInt()
    def longlong(): Long = d.readLong()
    def shortstr(): String = {
      val n = d.readUnsignedByte()
      val b = new Array[Byte](n); d.readFully(b); new String(b, UTF_8)
    }
    def longstr(): Array[Byte] = {
      val n = d.readInt()
      val b = new Array[Byte](n); d.readFully(b); b
    }
    /** Field tables are length-prefixed: skip the body wholesale (the
      * fixture negotiates no table-borne options). */
    def skipTable(): Unit = { val n = d.readInt(); d.skipNBytes(n.toLong) }
  }

  final case class Frame(ftype: Int, channel: Int, payload: Array[Byte])

  def writeFrame(out: OutputStream, f: Frame): Unit = {
    val d = new DataOutputStream(out)
    d.writeByte(f.ftype)
    d.writeShort(f.channel)
    d.writeInt(f.payload.length)
    d.write(f.payload)
    d.writeByte(FrameEnd)
    d.flush()
  }

  def readFrame(in: InputStream): Frame = {
    val d = new DataInputStream(in)
    val t = d.readUnsignedByte()
    val ch = d.readUnsignedShort()
    val p = Wire.readExact(d, d.readInt(), "amqp")
    if (d.readUnsignedByte() != FrameEnd)
      throw new java.io.IOException("AMQP frame missing end octet 0xCE")
    Frame(t, ch, p)
  }

  def method(classId: Int, methodId: Int, args: W => W): Array[Byte] =
    args(new W().short(classId).short(methodId)).bytes

  /** Content header frame payload for class `basic` (60): no properties. */
  def contentHeader(bodySize: Long): Array[Byte] =
    new W().short(60).short(0).longlong(bodySize).short(0).bytes

  // ------------------------------------------------------------- broker

  /** One queued message awaiting delivery or ack. */
  private final case class QMsg(routingKey: String, body: Array[Byte])

  /** Minimal AMQP 0-9-1 broker: default exchange, named queues, one
    * consumer per delivery, unacked-requeue on consumer death. */
  final class MiniAmqp {
    private final case class Consumer(conn: Wire.Conn, channel: Int,
                                      tag: String, queue: String)
    private val lock = new Object
    private val queues = mutable.LinkedHashMap[String, mutable.ArrayDeque[QMsg]]()
    private val consumers = mutable.ArrayBuffer[Consumer]()
    // delivery-tag → (consumer, message) for at-least-once requeue
    private val unacked = mutable.HashMap[(Wire.Conn, Long), (String, QMsg)]()
    private var deliveryTag = 0L
    private var listener: Wire.Listener = _

    def start(): MiniAmqp = { listener = Wire.listen("mini-amqp")(serve); this }

    def port: Int = listener.port
    def url: String = s"amqp://127.0.0.1:$port"
    def stop(): Unit = listener.close()

    /** Route: default exchange → queue named by the routing key. Then try
      * to hand pending messages to a consumer. Caller need not hold lock. */
    private def enqueue(routingKey: String, body: Array[Byte]): Unit = {
      lock.synchronized {
        queues.getOrElseUpdate(routingKey, mutable.ArrayDeque[QMsg]())
          .append(QMsg(routingKey, body))
      }
      pump(routingKey)
    }

    /** Deliver queued messages of `queue` to its first live consumer. */
    private def pump(queue: String): Unit = {
      while (true) {
        val hand = lock.synchronized {
          val q = queues.get(queue)
          val c = consumers.find(_.queue == queue)
          if (q.isEmpty || q.get.isEmpty || c.isEmpty) None
          else {
            val msg = q.get.removeHead()
            deliveryTag += 1
            unacked((c.get.conn, deliveryTag)) = (queue, msg)
            Some((c.get, deliveryTag, msg))
          }
        }
        hand match {
          case None => return
          case Some((c, tag, msg)) =>
            try {
              // write through the SAME buffered stream (and lock) the
              // connection's serve thread uses for method replies —
              // deliveries and Consume-Ok/Declare-Ok must never interleave
              val o = c.conn.out
              o.synchronized {
                // Basic.Deliver(60,60): tag, delivery-tag, redelivered,
                // exchange, routing-key — then header + body frames
                writeFrame(o, Frame(FrameMethod, c.channel,
                  method(60, 60, _.shortstr(c.tag).longlong(tag).octet(0)
                    .shortstr("").shortstr(msg.routingKey))))
                writeFrame(o, Frame(FrameHeader, c.channel, contentHeader(msg.body.length.toLong)))
                writeFrame(o, Frame(FrameBody, c.channel, msg.body))
              }
            } catch {
              case _: Throwable => dropConsumerConn(c.conn) // requeues
            }
        }
      }
    }

    private def dropConsumerConn(conn: Wire.Conn): Unit = {
      val requeue = lock.synchronized {
        consumers.filterInPlace(_.conn ne conn)
        val mine = unacked.keys.filter(_._1 eq conn).toVector
        val msgs = mine.map(unacked(_))
        mine.foreach(unacked.remove)
        // requeue at the FRONT in tag order (redelivery before new work)
        msgs.reverse.foreach { case (qn, m) =>
          queues.getOrElseUpdate(qn, mutable.ArrayDeque[QMsg]()).prepend(m)
        }
        msgs.map(_._1).distinct
      }
      requeue.foreach(pump)
    }

    private def serve(c: Wire.Conn): Unit = {
      val (in, out) = (c.in, c.out)
      // per-channel in-flight publish state: routing key → awaiting body
      val pendingPublish = mutable.HashMap[Int, (String, Long, java.io.ByteArrayOutputStream)]()
      try {
        val hdr = new Array[Byte](8)
        new DataInputStream(in).readFully(hdr)
        if (!java.util.Arrays.equals(hdr, ProtocolHeader))
          throw new java.io.IOException("bad AMQP protocol header")
        out.synchronized {
          // Connection.Start(10,10): ver 0.9, empty server props, PLAIN, en_US
          writeFrame(out, Frame(FrameMethod, 0,
            method(10, 10, _.octet(0).octet(9).emptyTable()
              .longstr("PLAIN".getBytes(UTF_8)).longstr("en_US".getBytes(UTF_8)))))
        }
        while (true) {
          val f = readFrame(in)
          f.ftype match {
            case FrameHeartbeat => ()
            case FrameMethod =>
              val r = new R(f.payload)
              val classId = r.short(); val methodId = r.short()
              (classId, methodId) match {
                case (10, 11) => // Start-Ok: client-props table, mechanism, response, locale
                  out.synchronized { // → Tune(10,30)
                    writeFrame(out, Frame(FrameMethod, 0,
                      method(10, 30, _.short(0).long(131072).short(0))))
                  }
                case (10, 31) => () // Tune-Ok
                case (10, 40) => // Connection.Open(vhost)
                  out.synchronized {
                    writeFrame(out, Frame(FrameMethod, 0, method(10, 41, _.shortstr(""))))
                  }
                case (10, 50) => // Connection.Close → Close-Ok, hang up
                  out.synchronized {
                    writeFrame(out, Frame(FrameMethod, 0, method(10, 51, identity)))
                  }
                  return
                case (20, 10) => // Channel.Open
                  out.synchronized {
                    writeFrame(out, Frame(FrameMethod, f.channel,
                      method(20, 11, _.longstr(Array.emptyByteArray))))
                  }
                case (50, 10) => // Queue.Declare: reserved, queue, flags, args
                  r.short()
                  val qname = r.shortstr()
                  val n = lock.synchronized {
                    queues.getOrElseUpdate(qname, mutable.ArrayDeque[QMsg]()).length
                  }
                  out.synchronized {
                    writeFrame(out, Frame(FrameMethod, f.channel,
                      method(50, 11, _.shortstr(qname).long(n).long(0))))
                  }
                case (60, 40) => // Basic.Publish: reserved, exchange, routing-key, flags
                  r.short()
                  val exchange = r.shortstr()
                  val routingKey = r.shortstr()
                  if (exchange.nonEmpty)
                    throw new java.io.IOException(
                      s"only the default exchange is implemented, got '$exchange'")
                  pendingPublish(f.channel) = (routingKey, -1L, new java.io.ByteArrayOutputStream())
                case (60, 20) => // Basic.Consume: reserved, queue, tag, flags, args
                  r.short()
                  val qname = r.shortstr()
                  val tag0 = r.shortstr()
                  val tag = if (tag0.isEmpty) s"ctag-${System.identityHashCode(c)}" else tag0
                  out.synchronized {
                    writeFrame(out, Frame(FrameMethod, f.channel,
                      method(60, 21, _.shortstr(tag))))
                  }
                  lock.synchronized {
                    consumers.append(Consumer(c, f.channel, tag, qname))
                  }
                  pump(qname)
                case (60, 80) => // Basic.Ack: delivery-tag, multiple
                  val tag = r.longlong()
                  val multiple = (r.octet() & 1) != 0
                  lock.synchronized {
                    if (multiple)
                      unacked.keys.filter(k => (k._1 eq c) && k._2 <= tag)
                        .toVector.foreach(unacked.remove)
                    else unacked.remove((c, tag))
                  }
                case other =>
                  throw new java.io.IOException(s"unhandled AMQP method $other")
              }
            case FrameHeader =>
              val r = new R(f.payload)
              r.short(); r.short() // class, weight
              val bodySize = r.longlong()
              pendingPublish.get(f.channel).foreach { case (rk, _, buf) =>
                pendingPublish(f.channel) = (rk, bodySize, buf)
                if (bodySize == 0) { enqueue(rk, Array.emptyByteArray); pendingPublish.remove(f.channel) }
              }
            case FrameBody =>
              pendingPublish.get(f.channel).foreach { case (rk, size, buf) =>
                buf.write(f.payload)
                if (buf.size() >= size) {
                  enqueue(rk, buf.toByteArray)
                  pendingPublish.remove(f.channel)
                }
              }
            case other => throw new java.io.IOException(s"unexpected frame type $other")
          }
        }
      } finally dropConsumerConn(c)
    }
  }

  // ------------------------------------------------------------- client

  /** One delivered message. */
  final case class Delivery(deliveryTag: Long, routingKey: String, body: Array[Byte])

  /** Blocking client: negotiates the connection, opens channel 1, then
    * publishes (output.go's default-exchange path) or consumes with
    * explicit acks (input.go). One per partition in the operator layer. */
  final class Client(url: String) extends AutoCloseable {
    private val u = java.net.URI.create(url)
    private val conn = Wire.connect("amqp", u.getHost, u.getPort)
    private val in = conn.in
    private val out = conn.out

    private def expectMethod(classId: Int, methodId: Int): R = {
      while (true) {
        val f = readFrame(in)
        if (f.ftype == FrameMethod) {
          val r = new R(f.payload)
          val c = r.short(); val m = r.short()
          if (c == classId && m == methodId) return r
          throw new java.io.IOException(s"expected ($classId,$methodId), got ($c,$m)")
        } else if (f.ftype != FrameHeartbeat)
          throw new java.io.IOException(s"expected method frame, got type ${f.ftype}")
      }
      null // unreachable
    }

    locally {
      out.write(ProtocolHeader); out.flush()
      expectMethod(10, 10) // Start
      writeFrame(out, Frame(FrameMethod, 0,
        method(10, 11, _.emptyTable().shortstr("PLAIN")
          .longstr(" guest guest".getBytes(UTF_8)).shortstr("en_US"))))
      expectMethod(10, 30) // Tune
      writeFrame(out, Frame(FrameMethod, 0, method(10, 31, _.short(0).long(131072).short(0))))
      writeFrame(out, Frame(FrameMethod, 0, method(10, 40, _.shortstr("/").shortstr("").octet(0))))
      expectMethod(10, 41) // Open-Ok
      writeFrame(out, Frame(FrameMethod, 1, method(20, 10, _.shortstr(""))))
      expectMethod(20, 11) // Channel.Open-Ok
    }

    /** Queue.Declare (input.go queue_declare / output's implicit target). */
    def declareQueue(name: String): Unit = synchronized {
      writeFrame(out, Frame(FrameMethod, 1,
        method(50, 10, _.short(0).shortstr(name).octet(0).emptyTable())))
      expectMethod(50, 11)
      ()
    }

    /** Basic.Publish to the default exchange: routing key = queue name. */
    def publish(routingKey: String, body: Array[Byte]): Unit = synchronized {
      writeFrame(out, Frame(FrameMethod, 1,
        method(60, 40, _.short(0).shortstr("").shortstr(routingKey).octet(0))))
      writeFrame(out, Frame(FrameHeader, 1, contentHeader(body.length.toLong)))
      writeFrame(out, Frame(FrameBody, 1, body))
    }

    /** Basic.Consume on `queue`; deliveries then flow via [[nextDelivery]]. */
    def consume(queue: String): Unit = synchronized {
      writeFrame(out, Frame(FrameMethod, 1,
        method(60, 20, _.short(0).shortstr(queue).shortstr("").octet(0).emptyTable())))
      expectMethod(60, 21)
      ()
    }

    /** Read one Basic.Deliver + header + body triple. */
    def nextDelivery(): Delivery = synchronized {
      var tag = -1L; var rk = ""
      while (true) {
        val f = readFrame(in)
        f.ftype match {
          case FrameMethod =>
            val r = new R(f.payload)
            val c = r.short(); val m = r.short()
            if (c != 60 || m != 60)
              throw new java.io.IOException(s"expected Basic.Deliver, got ($c,$m)")
            r.shortstr() // consumer tag
            tag = r.longlong()
            r.octet() // redelivered
            r.shortstr() // exchange
            rk = r.shortstr()
          case FrameHeader =>
            val r = new R(f.payload)
            r.short(); r.short()
            val size = r.longlong()
            val buf = new java.io.ByteArrayOutputStream()
            while (buf.size() < size) {
              val bf = readFrame(in)
              if (bf.ftype != FrameBody)
                throw new java.io.IOException(s"expected body frame, got ${bf.ftype}")
              buf.write(bf.payload)
            }
            return Delivery(tag, rk, buf.toByteArray)
          case FrameHeartbeat => ()
          case other => throw new java.io.IOException(s"unexpected frame type $other")
        }
      }
      null // unreachable
    }

    /** Basic.Ack — the input's explicit at-least-once ack. */
    def ack(deliveryTag: Long): Unit = synchronized {
      writeFrame(out, Frame(FrameMethod, 1, method(60, 80, _.longlong(deliveryTag).octet(0))))
    }

    override def close(): Unit = {
      try {
        writeFrame(out, Frame(FrameMethod, 0, method(10, 50,
          _.short(200).shortstr("bye").short(0).short(0))))
      } catch { case _: Throwable => () }
      conn.close()
    }
  }
}
