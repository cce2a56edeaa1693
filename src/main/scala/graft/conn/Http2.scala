package graft.conn

import java.io.{DataInputStream, EOFException}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.{TrieMap => CTrieMap}

/** HTTP/2 framing (RFC 9113) carrying the gRPC connectors: the 9-byte
  * frame header, client connection preface, SETTINGS exchange with ACK,
  * HEADERS (HPACK-coded via conn/Hpack.scala, one encoder/decoder table
  * pair per connection applied in frame order), DATA with END_STREAM,
  * trailers as a second HEADERS frame, WINDOW_UPDATE / PING / GOAWAY /
  * RST_STREAM. Streams multiplex over one connection with odd
  * client-initiated ids; per-stream delivery rides blocking queues so
  * response data can be STREAMED (the server-streaming RPCs the etcd
  * Watch input needs).
  *
  * Deliberate bounds (both ends are in-repo): no PRIORITY/PUSH_PROMISE,
  * no CONTINUATION (header blocks stay far under the frame limit), no
  * padding emitted and PADDED rejected loudly, and flow control is
  * MAXED at connect (windows to 2^31-1) rather than tracked — gRPC
  * messages here are small and the spec permits any window management.
  */
object Http2 {

  // frame types
  val TData = 0x0; val THeaders = 0x1; val TRstStream = 0x3; val TSettings = 0x4
  val TPing = 0x6; val TGoAway = 0x7; val TWindowUpdate = 0x8
  // flags
  val FEndStream = 0x1; val FAck = 0x1; val FEndHeaders = 0x4; val FPadded = 0x8

  final case class Frame(tpe: Int, flags: Int, streamId: Int, payload: Array[Byte])

  private val Preface = "PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes(UTF_8)

  private def writeFrame(out: java.io.OutputStream, f: Frame): Unit = {
    val b = ByteBuffer.allocate(9 + f.payload.length)
    b.put((f.payload.length >> 16).toByte).put((f.payload.length >> 8).toByte)
      .put(f.payload.length.toByte)
    b.put(f.tpe.toByte).put(f.flags.toByte).putInt(f.streamId)
    b.put(f.payload)
    out.write(b.array()); out.flush()
  }

  private def readFrame(in: DataInputStream): Frame = {
    val h = new Array[Byte](9); in.readFully(h)
    val len = ((h(0) & 0xff) << 16) | ((h(1) & 0xff) << 8) | (h(2) & 0xff)
    val tpe = h(3) & 0xff
    val flags = h(4) & 0xff
    val sid = ByteBuffer.wrap(h, 5, 4).getInt & 0x7fffffff
    val payload = new Array[Byte](len); in.readFully(payload)
    Frame(tpe, flags, sid, payload)
  }

  /** one multiplexed stream's inbound state */
  final class StreamIn {
    val headersQ = new LinkedBlockingQueue[Seq[(String, String)]]()
    val dataQ = new LinkedBlockingQueue[Option[Array[Byte]]]() // None = END_STREAM
    @volatile var trailers: Seq[(String, String)] = Nil
    @volatile var sawHeaders = false

    def awaitHeaders(timeoutMs: Long = 10000): Seq[(String, String)] = {
      val h = headersQ.poll(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      require(h != null, "h2: timed out waiting for HEADERS")
      h
    }
    /** next DATA chunk; None once END_STREAM was seen */
    def nextData(timeoutMs: Long = 10000): Option[Array[Byte]] = {
      val d = dataQ.poll(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      require(d != null, "h2: timed out waiting for DATA")
      d
    }
  }

  /** shared connection half: frame pump + HPACK tables + stream registry */
  sealed class Conn(wire: Wire.Conn, onNewStream: (Int, Conn) => Unit) {
    private[Http2] val (in, out) = (wire.in, wire.out)
    private val encTable = new Hpack.DynamicTable()
    private val decTable = new Hpack.DynamicTable()
    private[Http2] val streams = new CTrieMap[Int, StreamIn]()
    @volatile private[Http2] var closed = false

    def stream(id: Int): StreamIn = streams.getOrElseUpdate(id, new StreamIn)

    def sendSettings(ack: Boolean): Unit = synchronized {
      writeFrame(out, Frame(TSettings, if (ack) FAck else 0, 0,
        if (ack) Array.emptyByteArray
        else ByteBuffer.allocate(6).putShort(4 /* INITIAL_WINDOW_SIZE */)
          .putInt(Int.MaxValue).array()))
    }
    def sendWindowUpdate(streamId: Int, inc: Int): Unit = synchronized {
      writeFrame(out, Frame(TWindowUpdate, 0, streamId, ByteBuffer.allocate(4).putInt(inc).array()))
    }
    def sendHeaders(streamId: Int, headers: Seq[(String, String)], endStream: Boolean): Unit =
      synchronized {
        val block = Hpack.encode(encTable, headers)
        writeFrame(out, Frame(THeaders,
          FEndHeaders | (if (endStream) FEndStream else 0), streamId, block))
      }
    def sendData(streamId: Int, data: Array[Byte], endStream: Boolean): Unit = synchronized {
      // respect SETTINGS_MAX_FRAME_SIZE's 16384 default — large gRPC
      // messages span DATA frames and reassemble in the message reader
      val MaxFrame = 16384
      if (data.length <= MaxFrame)
        writeFrame(out, Frame(TData, if (endStream) FEndStream else 0, streamId, data))
      else {
        var off = 0
        while (off < data.length) {
          val n = math.min(MaxFrame, data.length - off)
          val last = off + n >= data.length
          writeFrame(out, Frame(TData, if (endStream && last) FEndStream else 0, streamId,
            java.util.Arrays.copyOfRange(data, off, off + n)))
          off += n
        }
      }
    }
    def sendGoAway(): Unit = synchronized {
      writeFrame(out, Frame(TGoAway, 0, 0, ByteBuffer.allocate(8).putInt(0).putInt(0).array()))
    }
    def ping(): Unit = synchronized {
      writeFrame(out, Frame(TPing, 0, 0, new Array[Byte](8)))
    }

    /** the single-threaded frame pump — HPACK decode stays in frame order */
    private[Http2] def pump(): Unit = {
      try while (!closed) {
        val f = readFrame(in)
        f.tpe match {
          case TSettings =>
            if ((f.flags & FAck) == 0) sendSettings(ack = true)
          case THeaders =>
            require((f.flags & FPadded) == 0, "h2: PADDED unsupported")
            require((f.flags & FEndHeaders) != 0, "h2: CONTINUATION unsupported")
            val isNew = !streams.contains(f.streamId)
            val st = stream(f.streamId)
            val headers = Hpack.decode(decTable, f.payload)
            if (!st.sawHeaders) {
              st.sawHeaders = true
              st.headersQ.put(headers)
              if (isNew) onNewStream(f.streamId, this)
            } else st.trailers = headers // trailing HEADERS
            if ((f.flags & FEndStream) != 0) st.dataQ.put(None)
          case TData =>
            require((f.flags & FPadded) == 0, "h2: PADDED unsupported")
            val st = stream(f.streamId)
            if (f.payload.nonEmpty) st.dataQ.put(Some(f.payload))
            if ((f.flags & FEndStream) != 0) st.dataQ.put(None)
          case TPing =>
            if ((f.flags & FAck) == 0) synchronized {
              writeFrame(out, Frame(TPing, FAck, 0, f.payload))
            }
          case TGoAway => closed = true
          case TWindowUpdate | TRstStream => () // windows are maxed; RST ends tests' streams via close
          case _ => () // ignore unknown extension frames (spec requirement)
        }
      } catch { case _: EOFException | _: java.net.SocketException => closed = true }
    }
    def close(): Unit = { closed = true; wire.close() }
  }

  // -------------------------------------------------------------- client
  final class ClientConn(host: String, port: Int) extends AutoCloseable {
    private val streamIds = new AtomicInteger(-1)
    val conn: Conn = new Conn(Wire.connect("h2", host, port), (_, _) => ())

    locally {
      conn.out.write(Preface)
      conn.sendSettings(ack = false)
      conn.sendWindowUpdate(0, Int.MaxValue - 65535)
      val t = new Thread(() => conn.pump()); t.setDaemon(true); t.start()
    }

    /** open a stream with request headers; returns (id, inbound view) */
    def openStream(headers: Seq[(String, String)], endStream: Boolean): (Int, StreamIn) = {
      val id = streamIds.addAndGet(2) // 1, 3, 5, …
      val st = conn.stream(id)
      conn.sendHeaders(id, headers, endStream)
      (id, st)
    }
    def sendData(id: Int, data: Array[Byte], endStream: Boolean): Unit =
      conn.sendData(id, data, endStream)
    override def close(): Unit = { try conn.sendGoAway() catch { case _: Throwable => () }; conn.close() }
  }

  // -------------------------------------------------------------- server
  /** handler runs on its own thread per stream: (request headers,
    * stream id, inbound stream, connection for writing) */
  final class Server(handler: (Seq[(String, String)], Int, StreamIn, Conn) => Unit) {
    @volatile private var listener: Wire.Listener = _
    def port: Int = listener.port

    def start(): this.type = { listener = Wire.listen("h2")(serve); this }

    private def serve(wire: Wire.Conn): Unit = {
      val conn: Conn = new Conn(wire, (sid, c) => {
        val st = c.streams(sid)
        val th = new Thread(() => {
          try handler(st.awaitHeaders(0), sid, st, c)
          catch { case _: Throwable => () }
        })
        th.setDaemon(true); th.start()
      })
      // server preface check
      val got = new Array[Byte](Preface.length)
      conn.in.readFully(got)
      require(java.util.Arrays.equals(got, Preface), "h2: bad client preface")
      conn.sendSettings(ack = false)
      conn.pump()
    }
    def stop(): Unit = if (listener != null) listener.close()
  }
}
