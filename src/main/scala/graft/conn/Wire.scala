package graft.conn

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException, FilterInputStream, IOException, InputStream}
import java.net.{InetAddress, InetSocketAddress, ServerSocket, Socket, SocketException, SocketTimeoutException}
import java.util.concurrent.ConcurrentHashMap

/** The socket layer under every connector client and `Mini*` fixture:
  * listening, dialing, exact and line reads, and the idle wait. The
  * deadline policy lives here and nowhere else:
  *
  *  - [[TimeoutMs]] (5 s) is the one deadline. [[connect]] waits that
  *    long for the TCP handshake, the idle polls (`receive`, `nextRow`)
  *    take it as their default wait, and NATS request/reply waits that
  *    long for its reply.
  *  - A timed-out read is clean only at a frame boundary.
  *    [[Conn.await]] returns None when the deadline passes before the
  *    next frame's first byte is consumed. A timeout after that byte
  *    leaves the stream mid-frame: the connection is closed and marked
  *    dead, and this and every later read on it fails with an
  *    IOException naming the connector. It never answers None and then
  *    misparses the frame's tail on the next call.
  *  - Subscription reads (MQTT, NSQ and AMQP 0-9-1 consumers, NATS
  *    `nextMsg` outside `request`) block with no deadline by design: a
  *    subscriber idles until the broker pushes, and a dead broker shows
  *    as a closed socket, not as a quiet one.
  *  - Every length read off the wire reaches [[readExact]], which checks
  *    it before allocating: a negative length, or one above
  *    `Int.MaxValue`, is an IOException naming the connector rather than
  *    a `NegativeArraySizeException` or a wrapped size.
  */
object Wire {

  /** The one deadline, in milliseconds (see the policy above). */
  final val TimeoutMs = 5000

  private def quietly(f: => Unit): Unit = try f catch { case _: Throwable => () }

  private def daemon(name: String)(body: => Unit): Unit = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
  }

  /** A bound loopback listener. `close()` stops accepting and closes
    * every connection still open, so a stopped fixture drops its
    * clients the way a stopped broker would. */
  final class Listener private[Wire] (server: ServerSocket) extends AutoCloseable {
    private[Wire] val open = ConcurrentHashMap.newKeySet[Conn]()
    def port: Int = server.getLocalPort
    override def close(): Unit = {
      quietly(server.close())
      open.forEach(_.close())
    }
  }

  /** Listen on an ephemeral loopback port. A daemon thread accepts, and
    * each connection runs `serve` on its own daemon thread with
    * `TCP_NODELAY` set (small frames otherwise stall on Nagle plus
    * delayed ACKs); the connection is closed when `serve` returns or
    * throws. A peer that leaves (EOF, reset, closed socket) ends `serve`
    * quietly; any other error reaches the thread's uncaught-exception
    * handler, so a fixture bug is not mistaken for a hang-up. The port
    * is bound when this returns. */
  def listen(name: String)(serve: Conn => Unit): Listener = {
    val server = new ServerSocket(0, 128, InetAddress.getLoopbackAddress)
    val l = new Listener(server)
    daemon(s"$name-accept") {
      while (!server.isClosed) {
        try {
          val sock = server.accept()
          sock.setTcpNoDelay(true)
          val c = new Conn(name, sock)
          l.open.add(c)
          daemon(s"$name-conn") {
            try serve(c) catch { case _: EOFException | _: SocketException => () }
            finally { l.open.remove(c); c.close() }
          }
        } catch { case _: IOException => () }
      }
    }
    l
  }

  /** Dial `host:port` within [[TimeoutMs]], with `TCP_NODELAY` set. A
    * failure names `who` and the address. */
  def connect(who: String, host: String, port: Int): Conn = {
    val sock = new Socket()
    try {
      sock.connect(new InetSocketAddress(host, port), TimeoutMs)
      sock.setTcpNoDelay(true)
    } catch {
      case e: IOException =>
        quietly(sock.close())
        throw new IOException(s"$who: connect to $host:$port failed: ${e.getMessage}", e)
    }
    new Conn(who, sock)
  }

  /** `host:port` form of [[connect]]. */
  def connect(who: String, address: String): Conn = {
    val i = address.lastIndexOf(':')
    connect(who, address.substring(0, i), address.substring(i + 1).toInt)
  }

  /** One connection, dialed or accepted: buffered streams over the
    * socket, and the frame-boundary wait. */
  final class Conn private[Wire] (val who: String, sock: Socket) extends AutoCloseable {
    @volatile private var dead: IOException = _
    private def checkAlive(): Unit =
      if (dead != null) throw new IOException(s"$who: connection is dead: ${dead.getMessage}", dead)

    /** counts consumed bytes, so [[await]] can tell a frame boundary */
    private final class Counted extends FilterInputStream(new BufferedInputStream(sock.getInputStream)) {
      var consumed = 0L
      override def read(): Int = {
        checkAlive(); val b = super.read(); if (b >= 0) consumed += 1; b
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        checkAlive(); val r = super.read(b, off, len); if (r > 0) consumed += r; r
      }
      override def skip(n: Long): Long = {
        checkAlive(); val r = super.skip(n); consumed += r; r
      }
    }
    private val counted = new Counted
    val in: DataInputStream = new DataInputStream(counted)
    val out: BufferedOutputStream = new BufferedOutputStream(sock.getOutputStream)

    /** Read frames with `frame` (one frame per call: Some ends the wait,
      * None skips a frame that is not the one awaited) for at most `ms`.
      * None when the deadline passes at a frame boundary; a deadline
      * inside a frame kills the connection (see [[Wire]]). */
    def await[A](ms: Int)(frame: => Option[A]): Option[A] = {
      checkAlive()
      val deadline = System.nanoTime + ms * 1000000L
      var got: Option[A] = None
      while (got.isEmpty) {
        val left = (deadline - System.nanoTime) / 1000000L
        if (left <= 0) return None
        val before = counted.consumed
        sock.setSoTimeout(left.toInt)
        try got = frame
        catch {
          case e: SocketTimeoutException =>
            if (counted.consumed == before) return None
            dead = new IOException(s"$who: read timed out after $ms ms mid-frame, " +
              s"${counted.consumed - before} bytes in", e)
            close()
            throw dead
        } finally if (!sock.isClosed) sock.setSoTimeout(0)
      }
      got
    }

    override def close(): Unit = quietly(sock.close())
  }

  // ------------------------------------------------------------- reads

  /** Exactly `n` bytes, or EOFException naming `who`. `n` is usually a
    * length read off the wire, so one below 0 or above `Int.MaxValue` is
    * an IOException naming `who`, raised before allocating. */
  def readExact(in: InputStream, n: Long, who: String): Array[Byte] = {
    if (n < 0 || n > Int.MaxValue) throw new IOException(s"$who: frame length $n out of range")
    val buf = new Array[Byte](n.toInt)
    var off = 0
    while (off < buf.length) {
      val r = in.read(buf, off, buf.length - off)
      if (r < 0) throw new EOFException(s"$who stream closed at $off/$n bytes")
      off += r
    }
    buf
  }

  /** A `\r\n`-terminated line (NATS, RESP, memcached); a `\r` not
    * followed by `\n` is an IOException. */
  def readLineCrlf(in: InputStream, who: String): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    while (c != '\r') {
      if (c < 0) throw new EOFException(s"$who stream closed mid-line")
      sb.append(c.toChar)
      c = in.read()
    }
    if (in.read() != '\n') throw new IOException(s"$who line missing \\n after \\r")
    sb.toString
  }

  /** A `\n`-terminated line with every `\r` dropped (beanstalkd, NSQ,
    * SSH version lines). */
  def readLineLf(in: InputStream, who: String): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new EOFException(s"$who stream closed mid-line")
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }
}
