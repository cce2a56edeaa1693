package graft.conn

import java.io.DataInputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** AMQP 1.0 connector (impl/amqp1/{input,output}.go — the reference
  * wraps github.com/Azure/go-amqp) over the PUBLIC OASIS AMQP 1.0 core
  * specification: the typed encoding (described types, the primitive
  * format codes the connection needs), 8-byte framed performatives
  * (open / begin / attach / flow / transfer / disposition / detach /
  * end / close, descriptors 0x10-0x18), link CREDIT flow control
  * granted by the receiver, and at-least-once settlement — transfers
  * arrive unsettled and the receiver's accepted-outcome DISPOSITION
  * settles them (the reference input's ack path; unacked deliveries
  * redeliver on link re-attach).
  *
  * AMQP 1.0 shares nothing with 0-9-1 beyond the name — different
  * framing, type system and model — which is why it is its own
  * from-scratch implementation beside conn/Amqp.scala.
  */
object Amqp1 {

  // ========================================================= type codec
  sealed trait Value
  case object VNull extends Value
  final case class VBool(b: Boolean) extends Value
  final case class VULong(v: Long) extends Value
  final case class VUInt(v: Long) extends Value
  final case class VLong(v: Long) extends Value
  final case class VStr(s: String) extends Value
  final case class VSym(s: String) extends Value
  final case class VBin(b: Array[Byte]) extends Value
  final case class VList(items: Vector[Value]) extends Value
  final case class VMap(items: Vector[(Value, Value)]) extends Value
  final case class VDescribed(descriptor: Value, value: Value) extends Value

  def encode(v: Value): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    write(out, v)
    out.toArray
  }

  private def write(out: ArrayBuffer[Byte], v: Value): Unit = v match {
    case VNull => out += 0x40.toByte
    case VBool(true) => out += 0x41.toByte
    case VBool(false) => out += 0x42.toByte
    case VULong(0) => out += 0x44.toByte
    case VULong(x) if x > 0 && x < 256 => out += 0x53.toByte += x.toByte // smallulong
    case VULong(x) => out += 0x80.toByte; out ++= ByteBuffer.allocate(8).putLong(x).array()
    case VUInt(0) => out += 0x43.toByte
    case VUInt(x) if x > 0 && x < 256 => out += 0x52.toByte += x.toByte // smalluint
    case VUInt(x) => out += 0x70.toByte; out ++= ByteBuffer.allocate(4).putInt(x.toInt).array()
    case VLong(x) if x >= -128 && x < 128 => out += 0x55.toByte += x.toByte // smalllong
    case VLong(x) => out += 0x81.toByte; out ++= ByteBuffer.allocate(8).putLong(x).array()
    case VStr(s) =>
      val b = s.getBytes(UTF_8)
      if (b.length < 256) { out += 0xa1.toByte += b.length.toByte; out ++= b }
      else { out += 0xb1.toByte; out ++= ByteBuffer.allocate(4).putInt(b.length).array(); out ++= b }
    case VSym(s) =>
      val b = s.getBytes(UTF_8)
      if (b.length < 256) { out += 0xa3.toByte += b.length.toByte; out ++= b }
      else { out += 0xb3.toByte; out ++= ByteBuffer.allocate(4).putInt(b.length).array(); out ++= b }
    case VBin(b) =>
      if (b.length < 256) { out += 0xa0.toByte += b.length.toByte; out ++= b }
      else { out += 0xb0.toByte; out ++= ByteBuffer.allocate(4).putInt(b.length).array(); out ++= b }
    case VList(items) if items.isEmpty => out += 0x45.toByte // list0
    case VList(items) =>
      val body = new ArrayBuffer[Byte]()
      items.foreach(write(body, _))
      if (body.length + 1 < 256 && items.size < 256) {
        out += 0xc0.toByte += (body.length + 1).toByte += items.size.toByte; out ++= body
      } else {
        out += 0xd0.toByte
        out ++= ByteBuffer.allocate(4).putInt(body.length + 4).array()
        out ++= ByteBuffer.allocate(4).putInt(items.size).array()
        out ++= body
      }
    case VMap(items) =>
      val body = new ArrayBuffer[Byte]()
      items.foreach { case (k, mv) => write(body, k); write(body, mv) }
      val n = items.size * 2
      if (body.length + 1 < 256 && n < 256) {
        out += 0xc1.toByte += (body.length + 1).toByte += n.toByte; out ++= body
      } else {
        out += 0xd1.toByte
        out ++= ByteBuffer.allocate(4).putInt(body.length + 4).array()
        out ++= ByteBuffer.allocate(4).putInt(n).array()
        out ++= body
      }
    case VDescribed(d, inner) =>
      out += 0x00.toByte; write(out, d); write(out, inner)
  }

  final class Decoder(buf: Array[Byte]) {
    var pos = 0
    def hasNext: Boolean = pos < buf.length
    private def u8(): Int = { val b = buf(pos) & 0xff; pos += 1; b }
    private def i32(): Int = { val v = ByteBuffer.wrap(buf, pos, 4).getInt; pos += 4; v }
    private def i64(): Long = { val v = ByteBuffer.wrap(buf, pos, 8).getLong; pos += 8; v }
    private def bytes(n: Int): Array[Byte] = {
      val b = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; b
    }
    def read(): Value = u8() match {
      case 0x00 => val d = read(); VDescribed(d, read())
      case 0x40 => VNull
      case 0x41 => VBool(true)
      case 0x42 => VBool(false)
      case 0x56 => VBool(u8() != 0)
      case 0x44 => VULong(0)
      case 0x53 => VULong(u8().toLong)
      case 0x80 => VULong(i64())
      case 0x43 => VUInt(0)
      case 0x52 => VUInt(u8().toLong)
      case 0x70 => VUInt(i32().toLong & 0xffffffffL)
      case 0x55 => val b = buf(pos).toLong; pos += 1; VLong(b)
      case 0x81 => VLong(i64())
      case 0xa1 => val n = u8(); VStr(new String(bytes(n), UTF_8))
      case 0xb1 => val n = i32(); VStr(new String(bytes(n), UTF_8))
      case 0xa3 => val n = u8(); VSym(new String(bytes(n), UTF_8))
      case 0xb3 => val n = i32(); VSym(new String(bytes(n), UTF_8))
      case 0xa0 => val n = u8(); VBin(bytes(n))
      case 0xb0 => val n = i32(); VBin(bytes(n))
      case 0x45 => VList(Vector.empty)
      case 0xc0 =>
        u8(); val count = u8()
        VList(Vector.fill(count)(read()))
      case 0xd0 =>
        i32(); val count = i32()
        VList(Vector.fill(count)(read()))
      case 0xc1 =>
        u8(); val n = u8()
        VMap(Vector.fill(n / 2)((read(), read())))
      case 0xd1 =>
        i32(); val n = i32()
        VMap(Vector.fill(n / 2)((read(), read())))
      case other => throw new IllegalArgumentException(f"amqp1: format code 0x$other%02x unsupported")
    }
  }

  // ======================================================== performatives
  object Code {
    val Open = 0x10L; val Begin = 0x11L; val Attach = 0x12L; val Flow = 0x13L
    val Transfer = 0x14L; val Disposition = 0x15L; val Detach = 0x16L
    val End = 0x17L; val Close = 0x18L
    val Accepted = 0x24L
    val Released = 0x26L
    val HeaderSection = 0x70L
    val DataSection = 0x75L
  }

  private val ProtoHeader = Array[Byte]('A', 'M', 'Q', 'P', 0, 1, 0, 0)

  final case class AmqpFrame(channel: Int, performative: VDescribed, payload: Array[Byte])

  def writeFrame(out: java.io.OutputStream, channel: Int, perf: VDescribed,
                 payload: Array[Byte] = Array.emptyByteArray): Unit = {
    val body = encode(perf) ++ payload
    val b = ByteBuffer.allocate(8 + body.length)
    b.putInt(8 + body.length).put(2.toByte /* doff */).put(0.toByte /* AMQP frame */)
      .putShort(channel.toShort).put(body)
    out.write(b.array()); out.flush()
  }

  def readAmqpFrame(in: DataInputStream): AmqpFrame = {
    val size = in.readInt()
    val doff = in.readByte() & 0xff
    val tpe = in.readByte() & 0xff
    val channel = in.readShort() & 0xffff
    require(tpe == 0, s"amqp1: frame type $tpe unsupported")
    in.skipBytes(doff * 4 - 8)
    val body = Wire.readExact(in, size.toLong - doff * 4, "amqp1")
    val dec = new Decoder(body)
    val perf = dec.read() match {
      case d: VDescribed => d
      case other => throw new IllegalArgumentException(s"amqp1: expected performative, got $other")
    }
    AmqpFrame(channel, perf, java.util.Arrays.copyOfRange(body, dec.pos, body.length))
  }

  private def descCode(d: VDescribed): Long = d.descriptor match {
    case VULong(c) => c
    case other => throw new IllegalArgumentException(s"amqp1: non-ulong descriptor $other")
  }
  private def fields(d: VDescribed): Vector[Value] = d.value match {
    case VList(items) => items
    case _ => Vector.empty
  }
  private def fieldAt(fs: Vector[Value], i: Int): Value =
    if (i < fs.size) fs(i) else VNull

  /** a message with one data section (the reference's payload shape);
    * broker deliveries prepend a HEADER section carrying delivery-count
    * (header list field 4 — the redelivery signal service-bus-style
    * consumers read) */
  def messagePayload(body: Array[Byte], deliveryCount: Long = -1L): Array[Byte] = {
    val data = encode(VDescribed(VULong(Code.DataSection), VBin(body)))
    if (deliveryCount < 0) data
    else encode(VDescribed(VULong(Code.HeaderSection),
      VList(Vector(VBool(true), VNull, VNull, VBool(false), VUInt(deliveryCount))))) ++ data
  }

  /** (deliveryCount, body) — header section optional, 0 when absent */
  def messageSections(payload: Array[Byte]): (Long, Array[Byte]) = {
    val dec = new Decoder(payload)
    var count = 0L
    while (dec.hasNext) dec.read() match {
      case VDescribed(VULong(Code.DataSection), VBin(b)) => return (count, b)
      case VDescribed(VULong(Code.HeaderSection), VList(items)) =>
        if (items.size > 4) items(4) match {
          case VUInt(c) => count = c; case VULong(c) => count = c; case _ => ()
        }
      case other => throw new IllegalArgumentException(s"amqp1: unexpected section $other")
    }
    throw new IllegalArgumentException("amqp1: no data section")
  }
  def messageBody(payload: Array[Byte]): Array[Byte] = messageSections(payload)._2

  // ------------------------------------------------------------- fixture
  private final class QMsg(val body: Array[Byte]) {
    @volatile var acquired = false
    @volatile var settled = false
    @volatile var deliveries = 0 // bumps per acquisition (abandon -> redelivery count)
  }

  /** broker: named queues; sender links enqueue unsettled transfers,
    * receiver links get deliveries as credit allows and settle them
    * with accepted dispositions; unsettled deliveries return to the
    * queue when the link detaches (re-attach redelivery). */
  final class MiniAmqp1 {
    private val queues = new mutable.HashMap[String, ArrayBuffer[QMsg]]()
    private val qLock = new Object
    @volatile private var listener: Wire.Listener = _
    def address: String = s"127.0.0.1:${listener.port}"
    def depth(q: String): Int = qLock.synchronized(
      queues.get(q).map(_.count(m => !m.settled)).getOrElse(0))

    private def queue(n: String) = qLock.synchronized(queues.getOrElseUpdate(n, new ArrayBuffer[QMsg]()))

    private def serve(c: Wire.Conn): Unit = {
      val (in, out) = (c.in, c.out)
      val outLock = new Object // serve thread + dispatcher both write frames
      // per-link state on this connection (shared with the dispatcher
      // thread — guarded by qLock)
      // links are keyed by (channel, handle): AMQP 1.0 scopes handles
      // PER SESSION (§2.6.2), so the same handle may name different
      // links on different channels of one connection — handle-only
      // keys would let a sender attach clobber a receiver link
      type LinkKey = (Int, Long)
      val sendTargets = mutable.Map[LinkKey, String]()  // sender-role peer links -> queue
      val recvSources = mutable.Map[LinkKey, String]()  // receiver-role peer links
      val linkCredit = mutable.Map[LinkKey, Long]()     // REMAINING credit
      // delivery-ids are SESSION-scoped too (AMQP 1.0 §2.6.10: the
      // transfer's delivery-id numbers the session's transfer sequence) —
      // connection-global ids would let a disposition on one channel
      // settle another channel's deliveries
      val outstanding = mutable.Map[(Int, Long), (LinkKey, QMsg)]() // (channel, deliveryId)
      val deliveryIds = mutable.Map[Int, Long]() // channel -> last assigned id
      @volatile var closed = false

      // Standing-credit dispatcher (AMQP 1.0 §2.6.7: link-credit granted
      // by flow REMAINS until used — it is a window, not a one-shot
      // drain). The original design delivered only inside the Flow
      // handler and dropped leftover credit when the queue was
      // momentarily empty, so a transfer racing in a microsecond later
      // never delivered (the in-suite flake: sender and receiver are on
      // different connections/threads). The dispatcher waits on qLock
      // and delivers whenever BOTH a message and credit exist.
      val dispatcher = new Thread(() => {
        try while (!closed) {
          val task = qLock.synchronized {
            var found: Option[(LinkKey, QMsg)] = None
            while (found.isEmpty && !closed) {
              // flatMap, NOT collectFirst: collectFirst commits to the
              // first link with credit even when that link's queue is
              // momentarily empty (Some(None).flatten == None), starving
              // every other link on the connection
              found = linkCredit.iterator.flatMap { case (k, c) =>
                if (c > 0 && recvSources.contains(k))
                  queues.get(recvSources(k))
                    .flatMap(_.find(m => !m.settled && !m.acquired)).map(m => (k, m))
                else None
              }.nextOption()
              if (found.isEmpty) qLock.wait(200)
            }
            found.map { case (k, m) =>
              m.acquired = true
              m.deliveries += 1
              linkCredit(k) -= 1
              val did = deliveryIds.getOrElse(k._1, 0L) + 1
              deliveryIds(k._1) = did
              outstanding((k._1, did)) = (k, m)
              (k, m, did)
            }
          }
          task.foreach { case ((ch, h), m, did) =>
            outLock.synchronized {
              writeFrame(out, ch, VDescribed(VULong(Code.Transfer),
                VList(Vector(VUInt(h), VUInt(did),
                  VBin(ByteBuffer.allocate(4).putInt(did.toInt).array()),
                  VUInt(0), VBool(false) /* unsettled */))),
                messagePayload(m.body, deliveryCount = (m.deliveries - 1).toLong))
            }
          }
        } catch { case _: Throwable => () } // connection torn down
      })
      dispatcher.setDaemon(true)
      dispatcher.start()
      try {
        val hdr = new Array[Byte](8); in.readFully(hdr)
        require(java.util.Arrays.equals(hdr, ProtoHeader), "amqp1: bad protocol header")
        out.write(ProtoHeader); out.flush()
        while (true) {
          val f = readAmqpFrame(in)
          descCode(f.performative) match {
            case Code.Open =>
              writeFrame(out, 0, VDescribed(VULong(Code.Open),
                VList(Vector(VStr("mini-amqp1"), VStr("localhost")))))
            case Code.Begin =>
              // remote-channel, next-outgoing-id, incoming-window, outgoing-window
              writeFrame(out, f.channel, VDescribed(VULong(Code.Begin),
                VList(Vector(VUInt(f.channel.toLong), VUInt(0), VUInt(65535), VUInt(65535)))))
            case Code.Attach =>
              val fs = fields(f.performative)
              val name = fs(0).asInstanceOf[VStr].s
              val handle = fs(1) match { case VUInt(h) => h; case VULong(h) => h; case _ => 0L }
              val roleReceiverAtPeer = fs(2) == VBool(true) // true = peer is receiver
              // source(5)/target(6) are described lists whose first field is the address
              def address(v: Value): String = v match {
                case VDescribed(_, VList(items)) if items.nonEmpty => items(0) match {
                  case VStr(s) => s; case _ => ""
                }
                case _ => ""
              }
              qLock.synchronized {
                val k = (f.channel, handle)
                if (roleReceiverAtPeer) {
                  recvSources(k) = address(fieldAt(fs, 5))
                  queue(recvSources(k)) // ensure the queue exists
                } else sendTargets(k) = address(fieldAt(fs, 6))
              }
              outLock.synchronized {
                writeFrame(out, f.channel, VDescribed(VULong(Code.Attach),
                  VList(Vector(VStr(name), VUInt(handle), VBool(!roleReceiverAtPeer),
                    VNull, VNull, fieldAt(fs, 5), fieldAt(fs, 6)))))
                if (!roleReceiverAtPeer) // grant the sender link credit
                  writeFrame(out, f.channel, VDescribed(VULong(Code.Flow),
                    VList(Vector(VNull, VUInt(65535), VUInt(0), VUInt(65535),
                      VUInt(handle), VUInt(0), VUInt(1000)))))
              }
            case Code.Transfer =>
              val fs = fields(f.performative)
              val handle = fs(0) match { case VUInt(h) => h; case VULong(h) => h; case _ => 0L }
              sendTargets.get((f.channel, handle)).foreach { q =>
                qLock.synchronized { queue(q) += new QMsg(messageBody(f.payload)); qLock.notifyAll() }
              }
            case Code.Flow =>
              // receiver grants credit: the flow's link-credit SETS the
              // standing window (our clients send delivery-count 0 with
              // the desired credit); the dispatcher consumes it as
              // messages become available
              val fs = fields(f.performative)
              val handle = fs(4) match { case VUInt(h) => h; case VULong(h) => h; case _ => -1L }
              val credit = fs(6) match { case VUInt(c) => c; case VULong(c) => c; case _ => 0L }
              qLock.synchronized {
                val k = (f.channel, handle)
                if (recvSources.contains(k)) {
                  linkCredit(k) = credit
                  qLock.notifyAll()
                }
              }
            case Code.Disposition =>
              // role(0), first(1), last(2), settled(3), state(4)
              val fs = fields(f.performative)
              val first = fs(1) match { case VUInt(x) => x; case VULong(x) => x; case _ => 0L }
              val last = fieldAt(fs, 2) match { case VUInt(x) => x; case VULong(x) => x; case _ => first }
              val accepted = fieldAt(fs, 4) match {
                case VDescribed(VULong(Code.Accepted), _) => true
                case _ => false
              }
              qLock.synchronized {
                // session-scoped: only THIS channel's deliveries settle
                (first to last).foreach { id =>
                  outstanding.remove((f.channel, id)).foreach { case (_, m) =>
                    if (accepted) m.settled = true else m.acquired = false
                  }
                }
                qLock.notifyAll() // released deliveries may redeliver now
              }
            case Code.Detach =>
              // detach ONE link (handle in field 0): requeue ITS unsettled
              // deliveries and drop ITS standing credit — unrelated links
              // on the connection keep their credit and keep flowing
              val dfs = fields(f.performative)
              val dHandle = dfs(0) match { case VUInt(h) => h; case VULong(h) => h; case _ => 0L }
              val dKey = (f.channel, dHandle)
              qLock.synchronized {
                outstanding.filterInPlace { case (_, (k, m)) =>
                  if (k == dKey) { m.acquired = false; false } else true
                }
                linkCredit.remove(dKey)
                recvSources.remove(dKey)
                sendTargets.remove(dKey)
                qLock.notifyAll()
              }
              outLock.synchronized(writeFrame(out, f.channel, f.performative))
            case Code.End =>
              // session teardown: every link on THIS channel dies; links
              // on other sessions of the connection are untouched
              qLock.synchronized {
                val dead = (linkCredit.keySet ++ recvSources.keySet ++ sendTargets.keySet)
                  .filter(_._1 == f.channel).toSet
                outstanding.filterInPlace { case (_, (k, m)) =>
                  if (dead(k)) { m.acquired = false; false } else true
                }
                dead.foreach { k =>
                  linkCredit.remove(k); recvSources.remove(k); sendTargets.remove(k)
                }
                qLock.notifyAll()
              }
              outLock.synchronized(writeFrame(out, f.channel, f.performative))
            case Code.Close =>
              outLock.synchronized(
                writeFrame(out, 0, VDescribed(VULong(Code.Close), VList(Vector.empty))))
              return
            case other => throw new IllegalArgumentException(f"amqp1: performative 0x$other%02x")
          }
        }
      } finally {
        closed = true
        qLock.synchronized {
          outstanding.values.foreach(_._2.acquired = false)
          qLock.notifyAll() // release the dispatcher
        }
      }
    }

    def start(): this.type = { listener = Wire.listen("mini-amqp1")(serve); this }
    def stop(): Unit = if (listener != null) listener.close()
  }

  // -------------------------------------------------------------- client
  private def openConn(address: String): Wire.Conn = {
    val conn = Wire.connect("amqp1", address)
    val (in, out) = (conn.in, conn.out)
    out.write(ProtoHeader); out.flush()
    val hdr = new Array[Byte](8); in.readFully(hdr)
    require(java.util.Arrays.equals(hdr, ProtoHeader), "amqp1: bad server header")
    writeFrame(out, 0, VDescribed(VULong(Code.Open), VList(Vector(VStr("graft"), VStr("localhost")))))
    require(descCode(readAmqpFrame(in).performative) == Code.Open, "expected open")
    writeFrame(out, 0, VDescribed(VULong(Code.Begin),
      VList(Vector(VNull, VUInt(0), VUInt(65535), VUInt(65535)))))
    require(descCode(readAmqpFrame(in).performative) == Code.Begin, "expected begin")
    conn
  }

  /** sender link (output.go): attach to a target queue, transfer under
    * the broker's credit */
  final class Sender(address: String, target: String) extends AutoCloseable {
    private val conn = openConn(address)
    private val (in, out) = (conn.in, conn.out)
    private var nextDelivery = 0L
    locally {
      writeFrame(out, 0, VDescribed(VULong(Code.Attach), VList(Vector(
        VStr(s"graft-send-$target"), VUInt(0), VBool(false) /* we are sender */,
        VNull, VNull,
        VDescribed(VULong(0x28), VList(Vector(VStr("")))), // source
        VDescribed(VULong(0x29), VList(Vector(VStr(target)))))))) // target
      require(descCode(readAmqpFrame(in).performative) == Code.Attach, "expected attach")
      require(descCode(readAmqpFrame(in).performative) == Code.Flow, "expected credit flow")
    }
    def send(body: Array[Byte]): Unit = {
      nextDelivery += 1
      writeFrame(out, 0, VDescribed(VULong(Code.Transfer), VList(Vector(
        VUInt(0), VUInt(nextDelivery),
        VBin(ByteBuffer.allocate(4).putInt(nextDelivery.toInt).array()),
        VUInt(0), VBool(true) /* settled (fire-and-forget send) */))),
        messagePayload(body))
    }
    override def close(): Unit = {
      try {
        writeFrame(out, 0, VDescribed(VULong(Code.Close), VList(Vector.empty)))
        readAmqpFrame(in)
      } catch { case _: Throwable => () }
      conn.close()
    }
  }

  final case class Delivery(deliveryId: Long, body: Array[Byte], deliveryCount: Long = 0L)

  /** receiver link (input.go): attach to a source queue, grant credit,
    * settle with accepted dispositions */
  final class Receiver(address: String, source: String) extends AutoCloseable {
    private val conn = openConn(address)
    private val (in, out) = (conn.in, conn.out)
    locally {
      writeFrame(out, 0, VDescribed(VULong(Code.Attach), VList(Vector(
        VStr(s"graft-recv-$source"), VUInt(0), VBool(true) /* we are receiver */,
        VNull, VNull,
        VDescribed(VULong(0x28), VList(Vector(VStr(source)))), // source
        VDescribed(VULong(0x29), VList(Vector(VStr(""))))))))
      require(descCode(readAmqpFrame(in).performative) == Code.Attach, "expected attach")
    }
    def flow(credit: Int): Unit =
      writeFrame(out, 0, VDescribed(VULong(Code.Flow), VList(Vector(
        VNull, VUInt(65535), VUInt(0), VUInt(65535), VUInt(0), VUInt(0),
        VUInt(credit.toLong)))))

    def receive(timeoutMs: Int = Wire.TimeoutMs): Option[Delivery] =
      conn.await(timeoutMs)(Some(readAmqpFrame(in))).map { f =>
        require(descCode(f.performative) == Code.Transfer, "expected transfer")
        val fs = fields(f.performative)
        val id = fs(1) match { case VUInt(x) => x; case VULong(x) => x; case _ => 0L }
        val (count, body) = messageSections(f.payload)
        Delivery(id, body, count)
      }

    /** accepted disposition — the input's ack (input.go) */
    def accept(d: Delivery): Unit =
      writeFrame(out, 0, VDescribed(VULong(Code.Disposition), VList(Vector(
        VBool(true) /* role receiver */, VUInt(d.deliveryId), VUInt(d.deliveryId),
        VBool(true), VDescribed(VULong(Code.Accepted), VList(Vector.empty))))))

    /** released disposition — service-bus AbandonMessage: the delivery
      * returns to the queue and redelivers with delivery-count bumped */
    def release(d: Delivery): Unit =
      writeFrame(out, 0, VDescribed(VULong(Code.Disposition), VList(Vector(
        VBool(true) /* role receiver */, VUInt(d.deliveryId), VUInt(d.deliveryId),
        VBool(true), VDescribed(VULong(Code.Released), VList(Vector.empty))))))

    /** detach without settling — broker requeues outstanding deliveries */
    def detach(): Unit = {
      writeFrame(out, 0, VDescribed(VULong(Code.Detach), VList(Vector(VUInt(0), VBool(true)))))
      readAmqpFrame(in); ()
    }
    override def close(): Unit = conn.close()
  }
}
