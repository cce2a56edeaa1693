package graft.conn

import java.net.{DatagramPacket, DatagramSocket, InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8

/** Jaeger tracer (reference: internal/impl/jaeger/tracer_jaeger.go:42-177,
  * which wires the otel-sdk jaeger exporter). Both public wire surfaces,
  * built from scratch against the PUBLIC jaeger.thrift / agent.thrift IDL:
  *
  *  - `agent_address` — a one-way `emitBatch(Batch)` Thrift message in a
  *    UDP datagram, Thrift COMPACT protocol (the 6831/udp agent surface);
  *    datagrams stay under the agent's 65000-byte packet cap, batches
  *    split greedily on span boundaries.
  *  - `collector_url` — the `Batch` struct in Thrift BINARY protocol
  *    POSTed to `/api/traces` as `application/vnd.apache.thrift.binary`
  *    (the 14268/http collector surface). Per the reference contract,
  *    collector_url OVERRIDES agent_address when both are set.
  *
  * Sampling: the reference maps `sampler_type: const` to the OTel
  * TraceIDRatioBased sampler — shared here with Cloudtrace.sampled (the
  * lower-8-bytes arithmetic), so all tracers reach identical verdicts for
  * a shared trace id. Config tags become Process tags on every batch.
  */
object Jaeger {

  // thrift binary type ids
  private object TB {
    val BOOL = 2; val DOUBLE = 4; val I32 = 8; val I64 = 10
    val STRING = 11; val STRUCT = 12; val LIST = 15
  }
  // thrift compact type ids
  private object TC {
    val BOOL_TRUE = 1; val BOOL_FALSE = 2; val I32 = 5; val I64 = 6
    val DOUBLE = 7; val BINARY = 8; val LIST = 9; val STRUCT = 12
  }

  // ------------------------------------------------------------ writers
  private final class BinW {
    val out = new java.io.ByteArrayOutputStream()
    def byte(b: Int): Unit = out.write(b)
    def i16(v: Int): Unit = { byte(v >> 8); byte(v) }
    def i32(v: Int): Unit = { byte(v >> 24); byte(v >> 16); byte(v >> 8); byte(v) }
    def i64(v: Long): Unit = { var s = 56; while (s >= 0) { byte((v >>> s).toInt); s -= 8 } }
    def string(s: String): Unit = { val b = s.getBytes(UTF_8); i32(b.length); out.write(b) }
    def field(tpe: Int, id: Int): Unit = { byte(tpe); i16(id) }
    def stop(): Unit = byte(0)
    def list(elemType: Int, size: Int): Unit = { byte(elemType); i32(size) }
  }

  private final class CompactW {
    val out = new java.io.ByteArrayOutputStream()
    private var lastFieldId = 0
    private var stack = List.empty[Int]
    def byte(b: Int): Unit = out.write(b)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { byte(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      byte((v & 0x7f).toInt)
    }
    def zigzag64(v: Long): Unit = varint((v << 1) ^ (v >> 63))
    def zigzag32(v: Int): Unit = varint((((v << 1) ^ (v >> 31)): Int).toLong & 0xffffffffL)
    def fieldBegin(ctype: Int, id: Int): Unit = {
      val delta = id - lastFieldId
      if (delta >= 1 && delta <= 15) byte((delta << 4) | ctype)
      else { byte(ctype); zigzag32(id) }
      lastFieldId = id
    }
    def structBegin(): Unit = { stack = lastFieldId :: stack; lastFieldId = 0 }
    def structEnd(): Unit = { byte(0); lastFieldId = stack.head; stack = stack.tail }
    def string(s: String): Unit = { val b = s.getBytes(UTF_8); varint(b.length.toLong); out.write(b) }
    // compact doubles are 8 bytes LITTLE-endian of the IEEE bits
    def double(d: Double): Unit = {
      val v = java.lang.Double.doubleToLongBits(d)
      var s = 0; while (s < 64) { byte((v >>> s).toInt); s += 8 }
    }
    def list(ctype: Int, size: Int): Unit =
      if (size < 15) byte((size << 4) | ctype)
      else { byte(0xF0 | ctype); varint(size.toLong) }
  }

  // ------------------------------------------------------------- model
  private def traceHiLo(hex32: String): (Long, Long) = {
    val p = hex32.reverse.padTo(32, '0').reverse // defensive: ids are 32 hex
    (java.lang.Long.parseUnsignedLong(p.take(16), 16),
      java.lang.Long.parseUnsignedLong(p.slice(16, 32), 16))
  }
  private def id64(hex16: String): Long =
    if (hex16.isEmpty) 0L else java.lang.Long.parseUnsignedLong(hex16.take(16), 16)
  private def hex16(v: Long): String = f"$v%016x"

  /** jaeger.thrift Tag: key(1), vType(2), then the typed value field. */
  private def tagFields(k: String, v: Any): (Int, Any) = v match {
    case s: String => (0, s) // STRING → vStr(3)
    case d: Double => (1, d) // DOUBLE → vDouble(4)
    case b: Boolean => (2, b) // BOOL → vBool(5)
    case l: Long => (3, l) // LONG → vLong(6)
    case i: Int => (3, i.toLong)
    case other => (0, String.valueOf(other))
  }

  // ------------------------------------------------------ binary encode
  private def writeTagBin(w: BinW, k: String, v: Any): Unit = {
    w.field(TB.STRING, 1); w.string(k)
    val (vt, tv) = tagFields(k, v)
    w.field(TB.I32, 2); w.i32(vt)
    tv match {
      case s: String => w.field(TB.STRING, 3); w.string(s)
      case d: Double => w.field(TB.DOUBLE, 4); w.i64(java.lang.Double.doubleToLongBits(d))
      case b: Boolean => w.field(TB.BOOL, 5); w.byte(if (b) 1 else 0)
      case l: Long => w.field(TB.I64, 6); w.i64(l)
      case _ => ()
    }
    w.stop()
  }

  private def writeSpanBin(w: BinW, s: Otlp.Span): Unit = {
    val (hi, lo) = traceHiLo(s.traceId)
    w.field(TB.I64, 1); w.i64(lo)
    w.field(TB.I64, 2); w.i64(hi)
    w.field(TB.I64, 3); w.i64(id64(s.spanId))
    w.field(TB.I64, 4); w.i64(id64(s.parentSpanId))
    w.field(TB.STRING, 5); w.string(s.name)
    w.field(TB.I32, 7); w.i32(1) // flags: sampled
    w.field(TB.I64, 8); w.i64(s.startNano / 1000L) // µs
    w.field(TB.I64, 9); w.i64((s.endNano - s.startNano) / 1000L)
    if (s.attributes.nonEmpty) {
      w.field(TB.LIST, 10); w.list(TB.STRUCT, s.attributes.size)
      s.attributes.foreach { case (k, v) => writeTagBin(w, k, v) }
    }
    w.stop()
  }

  /** The collector payload: a bare Batch struct, thrift BINARY. */
  def encodeBatchBinary(serviceName: String, processTags: Map[String, String],
                        spans: Seq[Otlp.Span]): Array[Byte] = {
    val w = new BinW
    w.field(TB.STRUCT, 1) // Process
    w.field(TB.STRING, 1); w.string(serviceName)
    if (processTags.nonEmpty) {
      w.field(TB.LIST, 2); w.list(TB.STRUCT, processTags.size)
      processTags.foreach { case (k, v) => writeTagBin(w, k, v) }
    }
    w.stop()
    w.field(TB.LIST, 2); w.list(TB.STRUCT, spans.size)
    spans.foreach(writeSpanBin(w, _))
    w.stop()
    w.out.toByteArray
  }

  // ----------------------------------------------------- compact encode
  private def writeTagCompact(w: CompactW, k: String, v: Any): Unit = {
    w.structBegin()
    w.fieldBegin(TC.BINARY, 1); w.string(k)
    val (vt, tv) = tagFields(k, v)
    w.fieldBegin(TC.I32, 2); w.zigzag32(vt)
    tv match {
      case s: String => w.fieldBegin(TC.BINARY, 3); w.string(s)
      case d: Double => w.fieldBegin(TC.DOUBLE, 4); w.double(d)
      case b: Boolean => w.fieldBegin(if (b) TC.BOOL_TRUE else TC.BOOL_FALSE, 5)
      case l: Long => w.fieldBegin(TC.I64, 6); w.zigzag64(l)
      case _ => ()
    }
    w.structEnd()
  }

  private def writeSpanCompact(w: CompactW, s: Otlp.Span): Unit = {
    val (hi, lo) = traceHiLo(s.traceId)
    w.structBegin()
    w.fieldBegin(TC.I64, 1); w.zigzag64(lo)
    w.fieldBegin(TC.I64, 2); w.zigzag64(hi)
    w.fieldBegin(TC.I64, 3); w.zigzag64(id64(s.spanId))
    w.fieldBegin(TC.I64, 4); w.zigzag64(id64(s.parentSpanId))
    w.fieldBegin(TC.BINARY, 5); w.string(s.name)
    w.fieldBegin(TC.I32, 7); w.zigzag32(1) // flags: sampled
    w.fieldBegin(TC.I64, 8); w.zigzag64(s.startNano / 1000L)
    w.fieldBegin(TC.I64, 9); w.zigzag64((s.endNano - s.startNano) / 1000L)
    if (s.attributes.nonEmpty) {
      w.fieldBegin(TC.LIST, 10); w.list(TC.STRUCT, s.attributes.size)
      s.attributes.foreach { case (k, v) => writeTagCompact(w, k, v) }
    }
    w.structEnd()
  }

  /** The agent datagram: compact-protocol one-way message
    * `emitBatch(1: Batch)` (agent.thrift). */
  def encodeEmitBatchCompact(serviceName: String, processTags: Map[String, String],
                             spans: Seq[Otlp.Span], seqId: Long = 0L): Array[Byte] = {
    val w = new CompactW
    w.byte(0x82) // compact protocol id
    w.byte((4 << 5) | 1) // message type ONEWAY(4), version 1
    w.varint(seqId)
    w.string("emitBatch")
    w.structBegin() // args struct
    w.fieldBegin(TC.STRUCT, 1) // Batch
    w.structBegin()
    w.fieldBegin(TC.STRUCT, 1) // Process
    w.structBegin()
    w.fieldBegin(TC.BINARY, 1); w.string(serviceName)
    if (processTags.nonEmpty) {
      w.fieldBegin(TC.LIST, 2); w.list(TC.STRUCT, processTags.size)
      processTags.foreach { case (k, v) => writeTagCompact(w, k, v) }
    }
    w.structEnd()
    w.fieldBegin(TC.LIST, 2); w.list(TC.STRUCT, spans.size)
    spans.foreach(writeSpanCompact(w, _))
    w.structEnd()
    w.structEnd()
    w.out.toByteArray
  }

  // ------------------------------------------------------------ readers
  private final class BinR(b: Array[Byte]) {
    private var p = 0
    def u8(): Int = { val v = b(p) & 0xff; p += 1; v }
    def i16(): Int = (u8() << 8) | u8()
    def i32(): Int = (u8() << 24) | (u8() << 16) | (u8() << 8) | u8()
    def i64(): Long = { var v = 0L; var i = 0; while (i < 8) { v = (v << 8) | u8(); i += 1 }; v }
    def string(): String = { val n = i32(); val s = new String(b, p, n, UTF_8); p += n; s }
    def skip(tpe: Int): Unit = tpe match {
      case TB.BOOL => u8()
      case 3 => u8()
      case TB.DOUBLE | TB.I64 => i64()
      case 6 => i16()
      case TB.I32 => i32()
      case TB.STRING => p += i32()
      case TB.STRUCT =>
        var t = u8()
        while (t != 0) { i16(); skip(t); t = u8() }
      case TB.LIST =>
        val et = u8(); val n = i32()
        (0 until n).foreach(_ => skip(et))
      case other => throw new IllegalArgumentException(s"thrift-binary: type $other")
    }
    def readStruct(onField: (Int, Int, BinR) => Boolean): Unit = {
      var t = u8()
      while (t != 0) { val id = i16(); if (!onField(t, id, this)) skip(t); t = u8() }
    }
  }

  private final class CompactR(b: Array[Byte]) {
    private var p = 0
    private var lastFieldId = 0
    private var stack = List.empty[Int]
    def u8(): Int = { val v = b(p) & 0xff; p += 1; v }
    def varint(): Long = {
      var v = 0L; var s = 0; var x = u8()
      while ((x & 0x80) != 0) { v |= (x & 0x7fL) << s; s += 7; x = u8() }
      v | ((x & 0x7fL) << s)
    }
    def zigzag64(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1) }
    def zigzag32(): Int = zigzag64().toInt
    def string(): String = { val n = varint().toInt; val s = new String(b, p, n, UTF_8); p += n; s }
    def double(): Double = {
      var v = 0L; var s = 0
      while (s < 64) { v |= (u8().toLong << s); s += 8 }
      java.lang.Double.longBitsToDouble(v)
    }
    def structBegin(): Unit = { stack = lastFieldId :: stack; lastFieldId = 0 }
    def structEnd(): Unit = { lastFieldId = stack.head; stack = stack.tail }
    /** (ctype, fieldId), ctype 0 = STOP */
    def fieldHeader(): (Int, Int) = {
      val h = u8()
      if (h == 0) (0, 0)
      else {
        val ctype = h & 0x0f
        val delta = (h >> 4) & 0x0f
        val id = if (delta != 0) lastFieldId + delta else zigzag32()
        lastFieldId = id
        (ctype, id)
      }
    }
    def skip(ctype: Int): Unit = ctype match {
      case TC.BOOL_TRUE | TC.BOOL_FALSE => ()
      case 3 => u8()
      case 4 | TC.I32 | TC.I64 => varint()
      case TC.DOUBLE => p += 8
      case TC.BINARY => p += varint().toInt
      case TC.LIST =>
        val h = u8(); val et = h & 0x0f
        val n = { val s = (h >> 4) & 0x0f; if (s == 15) varint().toInt else s }
        (0 until n).foreach(_ => skipElem(et))
      case TC.STRUCT =>
        structBegin()
        var f = fieldHeader()
        while (f._1 != 0) { skip(f._1); f = fieldHeader() }
        structEnd()
      case other => throw new IllegalArgumentException(s"thrift-compact: type $other")
    }
    private def skipElem(et: Int): Unit = et match {
      case TC.BOOL_TRUE | TC.BOOL_FALSE => u8() // bools in LISTS take a byte
      case other => skip(other)
    }
    def readStruct(onField: (Int, Int, CompactR) => Boolean): Unit = {
      structBegin()
      var f = fieldHeader()
      while (f._1 != 0) { if (!onField(f._1, f._2, this)) skip(f._1); f = fieldHeader() }
      structEnd()
    }
    def listHeader(): (Int, Int) = {
      val h = u8(); val et = h & 0x0f
      (et, { val s = (h >> 4) & 0x0f; if (s == 15) varint().toInt else s })
    }
  }

  // shared decoded shapes
  private final class SpanAcc {
    var lo, hi, spanId, parent, startUs, durUs = 0L
    var name = ""
    val attrs = scala.collection.mutable.LinkedHashMap[String, Any]()
    def toSpan: Otlp.Span = Otlp.Span(
      hex16(hi) + hex16(lo), hex16(spanId),
      if (parent == 0L) "" else hex16(parent), name,
      startUs * 1000L, (startUs + durUs) * 1000L, attrs.toMap)
  }
  private final class TagAcc {
    var key = ""; var v: Any = ""
  }

  private def decodeTagBin(r: BinR): TagAcc = {
    val t = new TagAcc
    r.readStruct {
      case (TB.STRING, 1, rr) => t.key = rr.string(); true
      case (TB.I32, 2, rr) => rr.i32(); true
      case (TB.STRING, 3, rr) => t.v = rr.string(); true
      case (TB.DOUBLE, 4, rr) => t.v = java.lang.Double.longBitsToDouble(rr.i64()); true
      case (TB.BOOL, 5, rr) => t.v = rr.u8() != 0; true
      case (TB.I64, 6, rr) => t.v = rr.i64(); true
      case _ => false
    }
    t
  }

  private def decodeSpanBin(r: BinR): Otlp.Span = {
    val s = new SpanAcc
    r.readStruct {
      case (TB.I64, 1, rr) => s.lo = rr.i64(); true
      case (TB.I64, 2, rr) => s.hi = rr.i64(); true
      case (TB.I64, 3, rr) => s.spanId = rr.i64(); true
      case (TB.I64, 4, rr) => s.parent = rr.i64(); true
      case (TB.STRING, 5, rr) => s.name = rr.string(); true
      case (TB.I64, 8, rr) => s.startUs = rr.i64(); true
      case (TB.I64, 9, rr) => s.durUs = rr.i64(); true
      case (TB.LIST, 10, rr) =>
        rr.u8(); val n = rr.i32()
        (0 until n).foreach { _ => val t = decodeTagBin(rr); s.attrs(t.key) = t.v }
        true
      case _ => false
    }
    s.toSpan
  }

  /** Decode a binary-protocol Batch (the collector POST body). */
  def decodeBatchBinary(bytes: Array[Byte]): (String, Seq[Otlp.Span]) = {
    val r = new BinR(bytes)
    var service = ""
    val spans = Vector.newBuilder[Otlp.Span]
    r.readStruct {
      case (TB.STRUCT, 1, rr) => // Process
        rr.readStruct {
          case (TB.STRING, 1, r2) => service = r2.string(); true
          case _ => false
        }
        true
      case (TB.LIST, 2, rr) =>
        rr.u8(); val n = rr.i32()
        (0 until n).foreach(_ => spans += decodeSpanBin(rr))
        true
      case _ => false
    }
    (service, spans.result())
  }

  private def decodeTagCompact(r: CompactR): TagAcc = {
    val t = new TagAcc
    r.readStruct {
      case (TC.BINARY, 1, rr) => t.key = rr.string(); true
      case (TC.I32, 2, rr) => rr.zigzag32(); true
      case (TC.BINARY, 3, rr) => t.v = rr.string(); true
      case (TC.DOUBLE, 4, rr) => t.v = rr.double(); true
      case (TC.BOOL_TRUE, 5, _) => t.v = true; true
      case (TC.BOOL_FALSE, 5, _) => t.v = false; true
      case (TC.I64, 6, rr) => t.v = rr.zigzag64(); true
      case _ => false
    }
    t
  }

  private def decodeSpanCompact(r: CompactR): Otlp.Span = {
    val s = new SpanAcc
    r.readStruct {
      case (TC.I64, 1, rr) => s.lo = rr.zigzag64(); true
      case (TC.I64, 2, rr) => s.hi = rr.zigzag64(); true
      case (TC.I64, 3, rr) => s.spanId = rr.zigzag64(); true
      case (TC.I64, 4, rr) => s.parent = rr.zigzag64(); true
      case (TC.BINARY, 5, rr) => s.name = rr.string(); true
      case (TC.I64, 8, rr) => s.startUs = rr.zigzag64(); true
      case (TC.I64, 9, rr) => s.durUs = rr.zigzag64(); true
      case (TC.LIST, 10, rr) =>
        val (_, n) = rr.listHeader()
        (0 until n).foreach { _ => val t = decodeTagCompact(rr); s.attrs(t.key) = t.v }
        true
      case _ => false
    }
    s.toSpan
  }

  /** Decode a compact-protocol emitBatch datagram (the agent surface). */
  def decodeEmitBatchCompact(bytes: Array[Byte]): (String, Seq[Otlp.Span]) = {
    val r = new CompactR(bytes)
    require(r.u8() == 0x82, "jaeger-agent: not a compact-protocol message")
    val vt = r.u8()
    require((vt & 0x1f) == 1, "jaeger-agent: unsupported compact version")
    r.varint() // seqid
    val method = r.string()
    require(method == "emitBatch", s"jaeger-agent: unexpected method $method")
    var service = ""
    val spans = Vector.newBuilder[Otlp.Span]
    r.readStruct { // args
      case (TC.STRUCT, 1, rr) => // Batch
        rr.readStruct {
          case (TC.STRUCT, 1, r2) => // Process
            r2.readStruct {
              case (TC.BINARY, 1, r3) => service = r3.string(); true
              case _ => false
            }
            true
          case (TC.LIST, 2, r2) =>
            val (_, n) = r2.listHeader()
            (0 until n).foreach(_ => spans += decodeSpanCompact(r2))
            true
          case _ => false
        }
        true
      case _ => false
    }
    (service, spans.result())
  }

  // ----------------------------------------------------------- exporter
  /** The agent transport's packet cap (thrift UDP transport default). */
  val MaxDatagramBytes = 65000

  final class Exporter(agentAddress: String = "", collectorUrl: String = "",
                       serviceName: String = "graft", samplerParam: Double = 1.0,
                       tags: Map[String, String] = Map.empty) extends AutoCloseable {
    require(agentAddress.nonEmpty || collectorUrl.nonEmpty,
      "jaeger: one of agent_address / collector_url is required")
    // collector_url overrides agent_address (tracer_jaeger.go:131-141)
    private val useCollector = collectorUrl.nonEmpty
    private val http = if (useCollector) new Aws.Http else null
    private val (udp, udpAddr, udpPort) =
      if (useCollector) (null: DatagramSocket, null: InetAddress, 0)
      else {
        val i = agentAddress.lastIndexOf(':')
        require(i > 0, s"jaeger: agent_address host:port, got $agentAddress")
        (new DatagramSocket(), InetAddress.getByName(agentAddress.substring(0, i)),
          agentAddress.substring(i + 1).toInt)
      }
    private var seq = 0L

    /** Export the sampled subset; returns how many spans were kept.
      * `sampler_type: const` maps to TraceIDRatioBased (tracer_jaeger
      * .go:113-116) — the same lower-8-bytes arithmetic as Cloudtrace. */
    def export(spans: Seq[Otlp.Span]): Int = {
      val kept = spans.filter(s => Cloudtrace.sampled(s.traceId, samplerParam))
      if (kept.isEmpty) 0
      else if (useCollector) {
        val body = encodeBatchBinary(serviceName, tags, kept)
        val r = http.request("POST", collectorUrl,
          Seq("content-type" -> "application/vnd.apache.thrift.binary"), body)
        require(r.status == 200 || r.status == 202,
          s"jaeger collector: ${r.status} ${r.bodyStr}")
        kept.size
      } else {
        sendAgent(kept)
        kept.size
      }
    }

    /** Greedy datagram packing on span boundaries (the emitBatch split
      * the thrift UDP client performs when a batch exceeds the packet). */
    private def sendAgent(spans: Seq[Otlp.Span]): Unit = {
      def emit(chunk: Seq[Otlp.Span]): Unit = {
        seq += 1
        val body = encodeEmitBatchCompact(serviceName, tags, chunk, seq)
        if (body.length > MaxDatagramBytes && chunk.size > 1) {
          val (a, b) = chunk.splitAt(chunk.size / 2)
          emit(a); emit(b)
        } else udp.send(new DatagramPacket(body, body.length, udpAddr, udpPort))
      }
      emit(spans)
    }

    override def close(): Unit = {
      if (http != null) http.close()
      if (udp != null) udp.close()
    }
  }

  // ----------------------------------------------------------- fixtures
  /** UDP agent fixture: decodes compact emitBatch datagrams. */
  final class MiniJaegerAgent {
    private val sock = new DatagramSocket(new InetSocketAddress("127.0.0.1", 0))
    // room for a whole split batch (several ~65 KB datagrams): at the
    // default receive buffer a loaded host drops one before this
    // thread drains the socket
    sock.setReceiveBufferSize(4 << 20)
    private val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Otlp.Span)]()
    @volatile private var running = true
    def address: String = s"127.0.0.1:${sock.getLocalPort}"
    def spans: Vector[(String, Otlp.Span)] = {
      import scala.jdk.CollectionConverters._
      buf.iterator().asScala.toVector
    }
    def start(): this.type = {
      val th = new Thread(() => {
        val pkt = new DatagramPacket(new Array[Byte](65535), 65535)
        while (running) {
          // catch per-datagram: a malformed packet must not kill the
          // receiver thread; only a closed socket exits the loop
          try {
            sock.receive(pkt)
            val bytes = java.util.Arrays.copyOf(pkt.getData, pkt.getLength)
            val (service, ss) = decodeEmitBatchCompact(bytes)
            ss.foreach(s => buf.add((service, s)))
          } catch {
            case _: java.net.SocketException => running = false // socket closed
            case _: Exception => () // bad datagram: skip it
          }
        }
      })
      th.setDaemon(true); th.start()
      this
    }
    def stop(): Unit = { running = false; sock.close() }
  }

  /** HTTP collector fixture: decodes binary Batch POSTs to /api/traces,
    * answering 202 Accepted like the real collector. */
  final class MiniJaegerCollector {
    private val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Otlp.Span)]()
    @volatile private var server: com.sun.net.httpserver.HttpServer = _
    def port: Int = server.getAddress.getPort
    def url: String = s"http://127.0.0.1:$port/api/traces"
    def spans: Vector[(String, Otlp.Span)] = {
      import scala.jdk.CollectionConverters._
      buf.iterator().asScala.toVector
    }
    def start(): this.type = {
      graft.conn.Aws.serverNoDelay()
      server = com.sun.net.httpserver.HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/api/traces", (x: com.sun.net.httpserver.HttpExchange) => {
        val body = x.getRequestBody.readAllBytes()
        val ct = Option(x.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
        val status =
          if (!ct.startsWith("application/vnd.apache.thrift")) 415
          else try {
            val (service, ss) = decodeBatchBinary(body)
            ss.foreach(s => buf.add((service, s)))
            202
          } catch { case _: Exception => 400 }
        x.sendResponseHeaders(status, -1)
        x.close()
      })
      server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4,
        (r: Runnable) => { val th = new Thread(r); th.setDaemon(true); th }))
      val starter = new Thread(() => server.start())
      starter.setDaemon(true); starter.start(); starter.join()
      this
    }
    def stop(): Unit = if (server != null) server.stop(0)
  }
}
