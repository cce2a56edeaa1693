package graft.conn

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable

/** NATS core protocol (internal/impl/nats/: input.go:18 subscribe,
  * output.go publish, processor_request_reply.go) — both ends from the
  * PUBLIC client-protocol spec, the [[Ws]]/[[Resp]] precedent. The wire
  * is line-oriented text: server greets `INFO {json}`, client sends
  * `CONNECT {json}`, then `PUB <subject> [reply] <#bytes>\r\n<payload>`,
  * `SUB <subject> [queue] <sid>`, `PING`/`PONG`; the server delivers
  * `MSG <subject> <sid> [reply] <#bytes>\r\n<payload>`.
  *
  * [[MiniNats]] implements subject routing with the spec's wildcards
  * (`*` = one token, `>` = tail), queue groups (one member per group gets
  * each message), and request/reply via reply-to subjects. Core NATS is
  * at-most-once fire-and-forget — same contract as the reference input
  * (no acks unless JetStream). Headers (HPUB/HMSG, the public 2.2+
  * extension) are implemented — the [[JetStream]] layer and the KV
  * bucket semantics ([[NatsKv]]) ride them. Declared out: TLS/auth (no
  * secure endpoints in-sandbox).
  */
object Nats {

  // --------------------------------------------------------------- wire

  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    while (c != '\r') {
      if (c < 0) throw new EOFException("NATS stream closed mid-line")
      sb.append(c.toChar)
      c = in.read()
    }
    if (in.read() != '\n') throw new java.io.IOException("NATS line missing \\n")
    sb.toString
  }

  private def readExact(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new EOFException(s"NATS stream closed at $off/$n payload bytes")
      off += r
    }
    buf
  }

  /** Subject filter match per the spec: tokens split on '.', `*` matches
    * exactly one token, `>` matches one-or-more trailing tokens. */
  def subjectMatches(filter: String, subject: String): Boolean = {
    val f = filter.split('.'); val s = subject.split('.')
    var i = 0
    while (i < f.length) {
      if (f(i) == ">") return i < s.length
      if (i >= s.length) return false
      if (f(i) != "*" && f(i) != s(i)) return false
      i += 1
    }
    i == s.length
  }

  // ------------------------------------------------------------- server

  /** One delivered message. `headers` ride the HPUB/HMSG forms (the
    * public headers extension, NATS 2.2+): a `NATS/1.0\r\n` version line
    * followed by `Key: Value` lines — the substrate the KV layer's
    * KV-Operation / Nats-Expected-Last-Subject-Sequence controls need. */
  final case class Msg(subject: String, reply: String, payload: Array[Byte],
                       headers: Map[String, String] = Map.empty)

  private[conn] def renderHeaders(h: Map[String, String]): Array[Byte] = {
    val sb = new StringBuilder("NATS/1.0\r\n")
    h.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
    sb.append("\r\n").toString.getBytes(UTF_8)
  }

  private[conn] def parseHeaders(b: Array[Byte]): Map[String, String] = {
    val lines = new String(b, UTF_8).split("\r\n")
    require(lines.nonEmpty && lines(0).startsWith("NATS/1.0"), "bad header version line")
    lines.drop(1).filter(_.nonEmpty).map { l =>
      val i = l.indexOf(':')
      l.substring(0, i).trim -> l.substring(i + 1).trim
    }.toMap
  }

  /** Minimal NATS server: CONNECT/PING/SUB/UNSUB/PUB with wildcard and
    * queue-group routing. Thread-per-connection, all daemon. */
  final class MiniNats {
    private final case class Sub(sock: Socket, sid: String, filter: String, queue: String)
    private val subsLock = new Object
    private val subs = mutable.ArrayBuffer[Sub]()
    private val rr = mutable.HashMap[String, Int]() // queue-group round-robin
    private val running = new AtomicBoolean(true)
    private var server: ServerSocket = _

    def start(): MiniNats = {
      server = new ServerSocket(0, 128, InetAddress.getLoopbackAddress)
      val acceptor = new Thread(() => {
        while (running.get()) {
          try {
            val s = server.accept()
            val th = new Thread(() => serve(s)); th.setDaemon(true); th.start()
          } catch { case _: Throwable => () }
        }
      }, "mini-nats-accept")
      acceptor.setDaemon(true)
      acceptor.start()
      this
    }

    def port: Int = server.getLocalPort
    def url: String = s"nats://127.0.0.1:$port"

    def stop(): Unit = {
      running.set(false)
      try server.close() catch { case _: Throwable => () }
      subsLock.synchronized {
        subs.foreach(s => try s.sock.close() catch { case _: Throwable => () })
      }
    }

    private def deliver(subject: String, reply: String, payload: Array[Byte],
                        headers: Map[String, String] = Map.empty): Unit = {
      // plain subs all get it; each queue group elects ONE member (spec's
      // distribution queue) — round-robin keeps the fixture deterministic
      val targets = subsLock.synchronized {
        val hit = subs.filter(s => subjectMatches(s.filter, subject))
        val (queued, plain) = hit.partition(_.queue.nonEmpty)
        val perGroup = queued.groupBy(_.queue).map { case (g, members) =>
          val i = rr.getOrElse(g, 0)
          rr(g) = i + 1
          members(i % members.length)
        }
        (plain ++ perGroup).toVector
      }
      targets.foreach { s =>
        try {
          val o = s.sock.getOutputStream
          o.synchronized {
            val rp = if (reply.isEmpty) "" else s" $reply"
            if (headers.isEmpty) {
              o.write(s"MSG $subject ${s.sid}$rp ${payload.length}\r\n".getBytes(UTF_8))
              o.write(payload)
            } else {
              val hb = renderHeaders(headers)
              o.write(s"HMSG $subject ${s.sid}$rp ${hb.length} ${hb.length + payload.length}\r\n".getBytes(UTF_8))
              o.write(hb); o.write(payload)
            }
            o.write('\r'); o.write('\n')
            o.flush()
          }
        } catch { case _: Throwable => () }
      }
    }

    private def serve(sock: Socket): Unit = {
      sock.setTcpNoDelay(true)
      val in = new BufferedInputStream(sock.getInputStream)
      val out = sock.getOutputStream
      // +OK acks are verbose-mode ONLY (nats protocol: the server confirms
      // operations only when the client CONNECTs with "verbose":true). Our
      // clients connect verbose:false and never read acks — an unsolicited
      // +OK would sit unread in the client's receive buffer, and a socket
      // close() with unread data sends TCP RST instead of FIN, DISCARDING
      // any still-queued PUB bytes server-side (observed as variable tail
      // loss on publisher partitions under load).
      var verbose = false
      try {
        out.synchronized {
          out.write(("INFO {\"server_id\":\"mini\",\"version\":\"0.0.1\"," +
            "\"proto\":1,\"headers\":true,\"max_payload\":1048576}\r\n").getBytes(UTF_8))
          out.flush()
        }
        while (true) {
          val line = readLine(in)
          val sp = line.indexOf(' ')
          val op = (if (sp < 0) line else line.substring(0, sp)).toUpperCase
          op match {
            case "CONNECT" =>
              verbose = line.replace(" ", "").contains("\"verbose\":true")
              if (verbose)
                out.synchronized { out.write("+OK\r\n".getBytes(UTF_8)); out.flush() }
            case "PING" =>
              out.synchronized { out.write("PONG\r\n".getBytes(UTF_8)); out.flush() }
            case "PONG" => ()
            case "SUB" =>
              val a = line.substring(4).trim.split("\\s+")
              val (filter, queue, sid) =
                if (a.length == 3) (a(0), a(1), a(2)) else (a(0), "", a(1))
              subsLock.synchronized { subs.append(Sub(sock, sid, filter, queue)) }
              if (verbose)
                out.synchronized { out.write("+OK\r\n".getBytes(UTF_8)); out.flush() }
            case "UNSUB" =>
              val sid = line.substring(6).trim.split("\\s+")(0)
              subsLock.synchronized {
                subs.filterInPlace(s => !(s.sock.eq(sock) && s.sid == sid))
              }
            case "PUB" =>
              val a = line.substring(4).trim.split("\\s+")
              val (subject, reply, n) =
                if (a.length == 3) (a(0), a(1), a(2).toInt) else (a(0), "", a(1).toInt)
              val payload = readExact(in, n)
              if (in.read() != '\r' || in.read() != '\n')
                throw new java.io.IOException("PUB payload missing CRLF")
              deliver(subject, reply, payload)
            case "HPUB" =>
              // HPUB <subject> [reply] <#hdr-bytes> <#total-bytes>
              val a = line.substring(5).trim.split("\\s+")
              val (subject, reply, hn, tn) =
                if (a.length == 4) (a(0), a(1), a(2).toInt, a(3).toInt)
                else (a(0), "", a(1).toInt, a(2).toInt)
              val hdrBytes = readExact(in, hn)
              val payload = readExact(in, tn - hn)
              if (in.read() != '\r' || in.read() != '\n')
                throw new java.io.IOException("HPUB payload missing CRLF")
              deliver(subject, reply, payload, parseHeaders(hdrBytes))
            case other =>
              out.synchronized {
                out.write(s"-ERR 'Unknown Protocol Operation: $other'\r\n".getBytes(UTF_8))
                out.flush()
              }
          }
        }
      } catch {
        case _: EOFException => ()
        case _: java.net.SocketException => ()
      } finally {
        subsLock.synchronized { subs.filterInPlace(s => s.sock ne sock) }
        try sock.close() catch { case _: Throwable => () }
      }
    }
  }

  // ------------------------------------------------------------- client

  private val sidGen = new AtomicLong(0)
  private val inboxGen = new AtomicLong(0)

  /** Blocking client: CONNECT handshake, publish, subscribe, request.
    * One per partition in the operator layer, like [[Resp.Client]]. */
  final class Client(url: String) extends AutoCloseable {
    private val u = java.net.URI.create(url)
    private val sock = new Socket(u.getHost, u.getPort)
    sock.setTcpNoDelay(true)
    private val in = new BufferedInputStream(sock.getInputStream)
    private val out = new BufferedOutputStream(sock.getOutputStream)
    locally {
      val info = readLine(in)
      require(info.startsWith("INFO "), s"expected INFO greeting, got: $info")
      out.write(("CONNECT {\"verbose\":false,\"pedantic\":false," +
        "\"name\":\"graft\",\"lang\":\"scala\",\"version\":\"0.1\"}\r\n").getBytes(UTF_8))
      out.flush()
    }

    def publish(subject: String, payload: Array[Byte], reply: String = ""): Unit =
      synchronized {
        val rp = if (reply.isEmpty) "" else s" $reply"
        out.write(s"PUB $subject$rp ${payload.length}\r\n".getBytes(UTF_8))
        out.write(payload); out.write('\r'); out.write('\n')
        out.flush()
      }

    /** HPUB — publish with headers (the public headers extension). */
    def publishH(subject: String, payload: Array[Byte], headers: Map[String, String],
                 reply: String = ""): Unit =
      if (headers.isEmpty) publish(subject, payload, reply)
      else synchronized {
        val hb = renderHeaders(headers)
        val rp = if (reply.isEmpty) "" else s" $reply"
        out.write(s"HPUB $subject$rp ${hb.length} ${hb.length + payload.length}\r\n".getBytes(UTF_8))
        out.write(hb); out.write(payload); out.write('\r'); out.write('\n')
        out.flush()
      }

    def subscribe(filter: String, queue: String = ""): String = synchronized {
      val sid = s"s${sidGen.incrementAndGet()}"
      val q = if (queue.isEmpty) "" else s" $queue"
      out.write(s"SUB $filter$q $sid\r\n".getBytes(UTF_8))
      out.flush()
      sid
    }

    /** Read protocol lines until the next MSG; answers server PINGs. */
    def nextMsg(): Msg = synchronized {
      while (true) {
        val line = readLine(in)
        if (line.startsWith("MSG ")) {
          val a = line.substring(4).trim.split("\\s+")
          val (subject, reply, n) =
            if (a.length == 4) (a(0), a(2), a(3).toInt) else (a(0), "", a(2).toInt)
          val payload = readExact(in, n)
          if (in.read() != '\r' || in.read() != '\n')
            throw new java.io.IOException("MSG payload missing CRLF")
          return Msg(subject, reply, payload)
        } else if (line.startsWith("HMSG ")) {
          // HMSG <subject> <sid> [reply] <#hdr> <#total>
          val a = line.substring(5).trim.split("\\s+")
          val (subject, reply, hn, tn) =
            if (a.length == 5) (a(0), a(2), a(3).toInt, a(4).toInt)
            else (a(0), "", a(2).toInt, a(3).toInt)
          val hdrBytes = readExact(in, hn)
          val payload = readExact(in, tn - hn)
          if (in.read() != '\r' || in.read() != '\n')
            throw new java.io.IOException("HMSG payload missing CRLF")
          return Msg(subject, reply, payload, parseHeaders(hdrBytes))
        } else if (line == "PING") {
          out.write("PONG\r\n".getBytes(UTF_8)); out.flush()
        } else if (line.startsWith("-ERR")) {
          throw new java.io.IOException(s"NATS error: $line")
        } // +OK / INFO updates: skip
      }
      null // unreachable
    }

    /** nats.Request: publish with this client's inbox as the reply
      * subject, await the single response (processor_request_reply.go's
      * verb). ONE inbox subscription per client — requests on a client
      * are serialized, so responses can't interleave, and the server's
      * sub table stays O(clients), not O(requests). */
    private lazy val inbox: String = {
      val ib = s"_INBOX.graft.${inboxGen.incrementAndGet()}"
      subscribe(ib)
      ib
    }
    def request(subject: String, payload: Array[Byte]): Array[Byte] = {
      publish(subject, payload, reply = inbox)
      nextMsg().payload
    }

    /** request with headers on the outbound message */
    def requestH(subject: String, payload: Array[Byte], headers: Map[String, String]): Array[Byte] = {
      publishH(subject, payload, headers, reply = inbox)
      nextMsg().payload
    }

    /** socket read deadline for nextMsg() — a timed-out read throws
      * SocketTimeoutException at a FRAME BOUNDARY in the pull-consume
      * idle-wait pattern (the JetStream fetch expiry); 0 = block forever */
    def setReadTimeout(ms: Int): Unit = sock.setSoTimeout(ms)

    /** nats.Flush: PING, then read until the server's PONG. The server
      * handles one connection's commands in order, so every SUB written
      * before the PING is registered once this returns. Call it only
      * while no MSG can arrive (before another connection learns of the
      * subscriptions): lines other than PING/PONG are skipped. */
    def flush(): Unit = synchronized {
      out.write("PING\r\n".getBytes(UTF_8)); out.flush()
      var line = readLine(in)
      while (line != "PONG") {
        if (line == "PING") { out.write("PONG\r\n".getBytes(UTF_8)); out.flush() }
        line = readLine(in)
      }
    }

    override def close(): Unit = { try sock.close() catch { case _: Throwable => () } }
  }
}
