package graft.conn

import java.io.{InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64
import java.util.concurrent.{CompletionStage, LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable.ArrayBuffer

/** `websocket` input/output (impl/io/input_websocket.go:37,
  * output_websocket.go): connect to a websocket server, optionally send
  * `open_messages` on connect, then continuously receive (input) or send
  * (output) messages.
  *
  * The CLIENT side — the operator — is the JDK's `java.net.http.WebSocket`
  * (RFC 6455 client). The SERVER here implements the RFC 6455 handshake +
  * framing from the public spec (no websocket server exists in the JDK or
  * on the Spark classpath): Sec-WebSocket-Accept = base64(SHA-1(key ||
  * 258EAFA5-E914-47DA-95CA-C5AB0DC85B11)), FIN/opcode framing with
  * 7/16/64-bit payload lengths, client-to-server masking. It exists so the
  * connector is testable in-sandbox and doubles as the fixture for the
  * output round-trip; at scale only the URL changes.
  *
  * A websocket edge is non-replayable ingest (same as the reference's —
  * no offsets, no acks): the scale path drains frames into a durable
  * spool consumed by a file/kafka stream. The gate proves the framing,
  * handshake, open-message and continuous-receive envelope.
  */
object Ws {

  private val WsGuid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

  /** RFC 6455 §4.2.2: handshake accept token. */
  def acceptKey(secWebSocketKey: String): String =
    Base64.getEncoder.encodeToString(
      MessageDigest.getInstance("SHA-1").digest((secWebSocketKey + WsGuid).getBytes(UTF_8)))

  /** Write one unmasked server→client frame (RFC 6455 §5.2). */
  def writeFrame(out: OutputStream, opcode: Int, payload: Array[Byte]): Unit = {
    out.write(0x80 | (opcode & 0x0f)) // FIN + opcode
    val n = payload.length
    if (n < 126) out.write(n)
    else if (n < 65536) { out.write(126); out.write(n >> 8); out.write(n & 0xff) }
    else {
      out.write(127)
      (7 to 0 by -1).foreach(i => out.write(((n.toLong >> (8 * i)) & 0xff).toInt))
    }
    out.write(payload)
    out.flush()
  }

  /** One parsed frame. */
  final case class Frame(opcode: Int, payload: Array[Byte], fin: Boolean)

  /** Read one frame, unmasking if the mask bit is set (client→server
    * frames MUST be masked, RFC 6455 §5.3). Returns None on clean EOF
    * before a frame starts. */
  def readFrame(in: InputStream): Option[Frame] = {
    val b0 = in.read()
    if (b0 < 0) return None
    val b1 = in.read()
    if (b1 < 0) throw new java.io.EOFException("ws frame truncated after first byte")
    val fin = (b0 & 0x80) != 0
    val opcode = b0 & 0x0f
    val masked = (b1 & 0x80) != 0
    var len: Long = b1 & 0x7f
    if (len == 126) len = Wire.readExact(in, 2, "ws").foldLeft(0L)((a, b) => (a << 8) | (b & 0xff))
    else if (len == 127) len = Wire.readExact(in, 8, "ws").foldLeft(0L)((a, b) => (a << 8) | (b & 0xff))
    val mask = if (masked) Wire.readExact(in, 4, "ws") else null
    val payload = Wire.readExact(in, len, "ws")
    if (masked) payload.indices.foreach(i => payload(i) = (payload(i) ^ mask(i % 4)).toByte)
    Some(Frame(opcode, payload, fin))
  }

  /** Minimal RFC 6455 server for one purpose: serve `lines` as text frames
    * to each connecting client once the expected open messages arrive.
    * `collectFrom`: when true, the server instead COLLECTS client text
    * frames (the output-connector round-trip fixture) until a close frame.
    */
  final class Server(lines: Seq[String], expectOpen: Seq[String] = Nil,
                     collectFrom: Boolean = false) {
    val received = new LinkedBlockingQueue[String]()
    private var listener: Wire.Listener = _

    def port: Int = listener.port
    def url: String = s"ws://127.0.0.1:$port/stream"

    private def handshake(in: InputStream, out: OutputStream): Unit = {
      val head = new ArrayBuffer[Byte]()
      // read until \r\n\r\n (request head is tiny; byte-at-a-time is fine)
      var state = 0
      while (state < 4) {
        val b = in.read()
        if (b < 0) throw new java.io.EOFException("ws handshake truncated")
        head += b.toByte
        state = (state, b) match {
          case (0, '\r') => 1
          case (1, '\n') => 2
          case (2, '\r') => 3
          case (3, '\n') => 4
          case (_, _)    => if (b == '\r') 1 else 0
        }
      }
      val req = new String(head.toArray, UTF_8)
      val key = req.linesIterator
        .find(_.toLowerCase.startsWith("sec-websocket-key:"))
        .map(_.split(":", 2)(1).trim)
        .getOrElse(throw new java.io.IOException("ws handshake missing Sec-WebSocket-Key"))
      out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
        "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
        s"Sec-WebSocket-Accept: ${acceptKey(key)}\r\n\r\n").getBytes(UTF_8))
      out.flush()
    }

    private def serveOne(c: Wire.Conn): Unit = {
      val (in, out) = (c.in, c.out)
      handshake(in, out)
      // open messages arrive as masked client text frames
      val seenOpen = ArrayBuffer.empty[String]
      while (seenOpen.size < expectOpen.size) {
        readFrame(in) match {
          case Some(Frame(1, p, _)) => seenOpen += new String(p, UTF_8)
          case Some(Frame(9, p, _)) => writeFrame(out, 10, p) // ping → pong
          case Some(_)              => ()
          case None => throw new java.io.EOFException("ws closed before open messages")
        }
      }
      if (seenOpen != expectOpen)
        throw new java.io.IOException(s"ws open messages mismatch: $seenOpen")
      if (collectFrom) {
        // output-connector fixture: accumulate client text frames until close
        var open = true
        var partial = new StringBuilder
        while (open) readFrame(in) match {
          case Some(Frame(1, p, fin)) =>
            partial ++= new String(p, UTF_8)
            if (fin) { received.put(partial.result()); partial = new StringBuilder }
          case Some(Frame(0, p, fin)) => // continuation
            partial ++= new String(p, UTF_8)
            if (fin) { received.put(partial.result()); partial = new StringBuilder }
          case Some(Frame(8, _, _)) => writeFrame(out, 8, Array.emptyByteArray); open = false
          case Some(Frame(9, p, _)) => writeFrame(out, 10, p)
          case Some(_)              => ()
          case None                 => open = false
        }
      } else {
        lines.foreach(l => writeFrame(out, 1, l.getBytes(UTF_8)))
        // half-close politely: close frame, then await the client's echo
        writeFrame(out, 8, Array.emptyByteArray)
        var open = true
        while (open) readFrame(in) match {
          case Some(Frame(8, _, _)) | None => open = false
          case Some(Frame(9, p, _))        => writeFrame(out, 10, p)
          case Some(_)                     => ()
        }
      }
    }

    def start(): this.type = { listener = Wire.listen("ws")(serveOne); this }

    def stop(): Unit = listener.close()
  }

  /** The `websocket` INPUT operator: JDK RFC 6455 client. Connects to
    * `url`, sends `openMessages`, then receives text messages until the
    * server closes or `expected` messages arrive (whichever first).
    * Partial text deliveries (`last == false`) accumulate until the final
    * part, matching the reference's one-message-per-frame contract. */
  def receive(url: String, openMessages: Seq[String], expected: Int,
              timeoutSec: Long = 60): Seq[String] = {
    val queue = new LinkedBlockingQueue[String]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new java.net.http.WebSocket.Listener {
      private val partial = new StringBuilder
      override def onText(ws: java.net.http.WebSocket, data: CharSequence,
                          last: Boolean): CompletionStage[_] = {
        partial.append(data)
        if (last) { queue.put(partial.result()); partial.clear() }
        ws.request(1)
        null
      }
      override def onClose(ws: java.net.http.WebSocket, code: Int,
                           reason: String): CompletionStage[_] = {
        done.countDown(); null
      }
      override def onError(ws: java.net.http.WebSocket, err: Throwable): Unit =
        done.countDown()
    }
    val exec = java.util.concurrent.Executors.newFixedThreadPool(2,
      (r: Runnable) => { val th = new Thread(r); th.setDaemon(true); th })
    val client = java.net.http.HttpClient.newBuilder().executor(exec).build()
    val ws = client.newWebSocketBuilder()
      .buildAsync(java.net.URI.create(url), listener)
      .get(timeoutSec, TimeUnit.SECONDS)
    openMessages.foreach(m => ws.sendText(m, true).get(timeoutSec, TimeUnit.SECONDS))
    val out = ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + timeoutSec * 1000000000L
    while (out.size < expected && System.nanoTime() < deadline) {
      val m = queue.poll(200, TimeUnit.MILLISECONDS)
      if (m != null) out += m
    }
    if (out.size < expected)
      throw new java.util.concurrent.TimeoutException(
        s"websocket: ${out.size}/$expected messages within ${timeoutSec}s")
    ws.sendClose(java.net.http.WebSocket.NORMAL_CLOSURE, "done")
    out.toSeq
  }

  /** The `websocket` OUTPUT operator: send each line as one text frame,
    * then close. */
  def send(url: String, openMessages: Seq[String], lines: Seq[String],
           timeoutSec: Long = 60): Unit = {
    val exec = java.util.concurrent.Executors.newFixedThreadPool(2,
      (r: Runnable) => { val th = new Thread(r); th.setDaemon(true); th })
    val client = java.net.http.HttpClient.newBuilder().executor(exec).build()
    val ws = client.newWebSocketBuilder()
      .buildAsync(java.net.URI.create(url), new java.net.http.WebSocket.Listener {})
      .get(timeoutSec, TimeUnit.SECONDS)
    (openMessages ++ lines).foreach(m => ws.sendText(m, true).get(timeoutSec, TimeUnit.SECONDS))
    ws.sendClose(java.net.http.WebSocket.NORMAL_CLOSURE, "done")
      .get(timeoutSec, TimeUnit.SECONDS)
  }
}
