package graft.conn

import java.nio.ByteBuffer

import graft.conn.Http2.{ClientConn, Conn, Server, StreamIn}

/** gRPC over the from-scratch HTTP/2 layer (impl/grpc/
  * input_grpc_client.go, output_grpc_client.go wrap google.golang.org/
  * grpc; the wire contract here follows the published
  * "gRPC over HTTP2" protocol spec): POST to /pkg.Service/Method with
  * content-type application/grpc and te:trailers; length-prefixed
  * messages (1-byte compressed flag + 4-byte big-endian length) that
  * may span or share DATA frames; a 200 response with message DATA and
  * grpc-status carried in TRAILERS. Unary and server-streaming shapes
  * (the etcd Watch input is server-streaming).
  */
object Grpc {

  final case class GrpcError(status: Int, message: String)
      extends RuntimeException(s"grpc-status $status: $message")

  // --------------------------------------------------- message framing
  def frameMessage(payload: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(5 + payload.length).put(0.toByte)
      .putInt(payload.length).put(payload).array()

  /** reassembles length-prefixed messages from a stream's DATA chunks
    * (messages can split across or share frames) */
  final class MessageReader(st: StreamIn) {
    private var buf = Array.emptyByteArray
    private var ended = false

    /** next message; None once END_STREAM is reached */
    def next(timeoutMs: Long = 10000): Option[Array[Byte]] = {
      while (true) {
        if (buf.length >= 5) {
          val b = ByteBuffer.wrap(buf)
          val compressed = b.get()
          require(compressed == 0, "grpc: compressed messages unsupported")
          val len = b.getInt()
          if (buf.length >= 5 + len) {
            val msg = java.util.Arrays.copyOfRange(buf, 5, 5 + len)
            buf = java.util.Arrays.copyOfRange(buf, 5 + len, buf.length)
            return Some(msg)
          }
        }
        if (ended) {
          require(buf.isEmpty, "grpc: truncated message at end of stream")
          return None
        }
        st.nextData(timeoutMs) match {
          case Some(chunk) => buf = buf ++ chunk
          case None => ended = true
        }
      }
      None
    }
    def trailers: Seq[(String, String)] = st.trailers
  }

  // -------------------------------------------------------------- client
  final class Client(host: String, port: Int) extends AutoCloseable {
    private val h2 = new ClientConn(host, port)

    private def call(path: String, request: Array[Byte]): MessageReader = {
      val (id, st) = h2.openStream(Seq(
        ":method" -> "POST", ":scheme" -> "http", ":path" -> path,
        ":authority" -> s"$host:$port",
        "content-type" -> "application/grpc", "te" -> "trailers"),
        endStream = false)
      h2.sendData(id, frameMessage(request), endStream = true)
      val headers = st.awaitHeaders()
      val status = headers.collectFirst { case (":status", v) => v }.getOrElse("?")
      require(status == "200", s"grpc: http status $status")
      new MessageReader(st)
    }

    private def checkTrailers(r: MessageReader): Unit = {
      val t = r.trailers.toMap
      val status = t.getOrElse("grpc-status", "2").toInt
      if (status != 0) throw GrpcError(status, t.getOrElse("grpc-message", ""))
    }

    def unary(path: String, request: Array[Byte]): Array[Byte] = {
      val r = call(path, request)
      val resp = r.next()
      require(r.next().isEmpty, "grpc: unary RPC returned extra messages")
      checkTrailers(r)
      resp.getOrElse(throw GrpcError(
        r.trailers.toMap.getOrElse("grpc-status", "2").toInt,
        r.trailers.toMap.getOrElse("grpc-message", "empty unary response")))
    }

    /** server-streaming: pull messages until the server half-closes */
    def serverStream(path: String, request: Array[Byte]): ServerStreamCall = {
      val r = call(path, request)
      new ServerStreamCall(r, () => checkTrailers(r))
    }

    /** bidirectional streaming: the caller interleaves send() with
      * next(); closeSend() half-closes the request side. The response
      * headers are awaited lazily on the first read so requests can
      * start flowing immediately (the AppendRows shape). */
    def bidiStream(path: String): BidiCall = {
      val (id, st) = h2.openStream(Seq(
        ":method" -> "POST", ":scheme" -> "http", ":path" -> path,
        ":authority" -> "localhost",
        "content-type" -> "application/grpc", "te" -> "trailers"),
        endStream = false)
      new BidiCall(h2, id, st)
    }
    override def close(): Unit = h2.close()
  }

  final class BidiCall(h2: ClientConn, id: Int, st: StreamIn) {
    private var headersSeen = false
    private lazy val reader = new MessageReader(st)
    def send(msg: Array[Byte]): Unit = h2.sendData(id, frameMessage(msg), endStream = false)
    def closeSend(): Unit = h2.sendData(id, Array.emptyByteArray, endStream = true)
    /** next response message; None after the server half-closes (then
      * grpc-status trailers are verified) */
    def next(timeoutMs: Long = 10000): Option[Array[Byte]] = {
      if (!headersSeen) {
        val headers = st.awaitHeaders()
        val status = headers.collectFirst { case (":status", v) => v }.getOrElse("?")
        require(status == "200", s"grpc: http status $status")
        headersSeen = true
      }
      reader.next(timeoutMs) match {
        case some @ Some(_) => some
        case None =>
          val t = reader.trailers.toMap
          val status = t.getOrElse("grpc-status", "2").toInt
          if (status != 0) throw GrpcError(status, t.getOrElse("grpc-message", ""))
          None
      }
    }
  }

  final class ServerStreamCall(r: MessageReader, check: () => Unit) {
    /** next streamed message; None after clean end (trailers verified) */
    def next(timeoutMs: Long = 10000): Option[Array[Byte]] = r.next(timeoutMs) match {
      case some @ Some(_) => some
      case None => check(); None
    }
  }

  // -------------------------------------------------------------- server
  sealed trait Handler
  /** one request message in, one response message out */
  final case class Unary(f: Array[Byte] => Array[Byte]) extends Handler
  /** one request message in, emit-many via the sink, return to finish */
  final case class ServerStreaming(f: (Array[Byte], Array[Byte] => Unit) => Unit) extends Handler
  /** request messages pulled from the reader, responses emitted via the
    * sink, interleaved freely; return ends the response side */
  final case class BidiStreaming(f: (MessageReader, Array[Byte] => Unit) => Unit) extends Handler

  final class GrpcServer(services: Map[String, Handler]) {
    private val h2 = new Server((headers, sid, st, conn) => handle(headers, sid, st, conn))
    def start(): this.type = { h2.start(); this }
    def port: Int = h2.port
    def stop(): Unit = h2.stop()

    private def respondError(conn: Conn, sid: Int, status: Int, msg: String,
                             headersSent: Boolean): Unit = {
      if (!headersSent)
        conn.sendHeaders(sid, Seq(":status" -> "200", "content-type" -> "application/grpc"),
          endStream = false)
      conn.sendHeaders(sid, Seq("grpc-status" -> status.toString, "grpc-message" -> msg),
        endStream = true)
    }

    private def handle(headers: Seq[(String, String)], sid: Int, st: StreamIn, conn: Conn): Unit = {
      val h = headers.toMap
      val path = h.getOrElse(":path", "")
      require(h.get("content-type").exists(_.startsWith("application/grpc")),
        "grpc: wrong content type")
      services.get(path) match {
        case None => respondError(conn, sid, 12 /* UNIMPLEMENTED */, s"unknown method $path",
          headersSent = false)
        case Some(handler) =>
          val reader = new MessageReader(st)
          handler match {
            case BidiStreaming(f) =>
              conn.sendHeaders(sid, Seq(":status" -> "200", "content-type" -> "application/grpc"),
                endStream = false)
              try {
                f(reader, msg => conn.sendData(sid, frameMessage(msg), endStream = false))
                conn.sendHeaders(sid, Seq("grpc-status" -> "0"), endStream = true)
              } catch {
                case e: Throwable =>
                  respondError(conn, sid, 13, String.valueOf(e.getMessage), headersSent = true)
              }
              return
            case _ => ()
          }
          val request = reader.next().getOrElse {
            respondError(conn, sid, 3, "missing request message", headersSent = false); return
          }
          conn.sendHeaders(sid, Seq(":status" -> "200", "content-type" -> "application/grpc"),
            endStream = false)
          try {
            handler match {
              case Unary(f) =>
                conn.sendData(sid, frameMessage(f(request)), endStream = false)
              case ServerStreaming(f) =>
                f(request, msg => conn.sendData(sid, frameMessage(msg), endStream = false))
              case BidiStreaming(_) => () // handled above
            }
            conn.sendHeaders(sid, Seq("grpc-status" -> "0"), endStream = true)
          } catch {
            case e: Throwable =>
              respondError(conn, sid, 13 /* INTERNAL */, String.valueOf(e.getMessage),
                headersSent = true)
          }
      }
    }
  }
}
