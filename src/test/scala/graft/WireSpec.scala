package graft

import java.io.{ByteArrayInputStream, IOException, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.conn.{Amqp1, Nanomsg, Pgwire, Pulsar, Wire, Zmq}
import org.scalatest.funsuite.AnyFunSuite

/** The shared socket layer: line-reader rules, the frame-boundary rule
  * of the idle polls (a timeout inside a frame fails loudly instead of
  * answering None and misparsing the tail), wire-length validation, and
  * a guard that keeps socket plumbing out of the connectors. */
class WireSpec extends AnyFunSuite {
  private def b(s: String) = s.getBytes(UTF_8)
  private def in(s: String): InputStream = new ByteArrayInputStream(b(s))

  test("line readers keep each protocol's terminator rule") {
    assert(Wire.readLineCrlf(in("PING\r\nnext"), "NATS") == "PING")
    val bare = intercept[IOException](Wire.readLineCrlf(in("PI\rNG\r\n"), "RESP"))
    assert(bare.getMessage.contains("RESP"))
    assert(Wire.readLineLf(in("USING a\r\n"), "beanstalkd") == "USING a")
    assert(Wire.readLineLf(in("SUB t c\n"), "nsq") == "SUB t c")
    val eof = intercept[java.io.EOFException](Wire.readExact(in("abc"), 5, "kafka"))
    assert(eof.getMessage.contains("kafka") && eof.getMessage.contains("3/5"))
    for (n <- Seq(-1L, Int.MaxValue + 1L)) {
      val bad = intercept[IOException](Wire.readExact(in("abc"), n, "nsq"))
      assert(bad.getMessage.contains("nsq") && bad.getMessage.contains("out of range"), bad.getMessage)
    }
  }

  /** A loopback relay in front of a fixture. [[cutNext]] makes it forward
    * the next server→client chunk `n` bytes first and the rest after
    * `pauseMs`; [[inject]] writes raw bytes to the client. */
  private final class Relay(upstreamPort: Int, pauseMs: Int = 1500) extends AutoCloseable {
    private val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    @volatile private var cut = 0
    @volatile private var toClient: OutputStream = _
    private val sockets = new java.util.concurrent.ConcurrentLinkedQueue[Socket]()
    def port: Int = server.getLocalPort
    def cutNext(n: Int): Unit = cut = n
    def inject(bytes: Array[Byte]): Unit = toClient.synchronized { toClient.write(bytes); toClient.flush() }

    private def pump(from: InputStream, to: OutputStream, splits: Boolean): Unit = {
      val buf = new Array[Byte](65536)
      var n = from.read(buf)
      while (n >= 0) {
        val c = if (splits) cut else 0
        if (c > 0) {
          cut = 0
          val k = math.min(c, n)
          to.synchronized { to.write(buf, 0, k); to.flush() }
          Thread.sleep(pauseMs)
          to.synchronized { to.write(buf, k, n - k); to.flush() }
        } else to.synchronized { to.write(buf, 0, n); to.flush() }
        n = from.read(buf)
      }
    }
    private def daemon(body: => Unit): Unit = {
      val t = new Thread(() => try body catch { case _: Throwable => () })
      t.setDaemon(true); t.start()
    }
    daemon {
      val client = server.accept()
      val up = new Socket(InetAddress.getLoopbackAddress, upstreamPort)
      sockets.add(client); sockets.add(up)
      toClient = client.getOutputStream
      daemon(pump(client.getInputStream, up.getOutputStream, splits = false))
      pump(up.getInputStream, toClient, splits = true)
    }
    override def close(): Unit = (server +: sockets.asScala.toSeq).foreach(s =>
      try s.close() catch { case _: Throwable => () })
  }

  /** One idle poller wired through a relay to its fixture. */
  private trait Session extends AutoCloseable {
    def poll(ms: Int): Option[Any]
    /** have the fixture send one message */
    def send(): Unit
  }
  private final case class Poller(who: String, cut: Int, badLengths: Seq[Array[Byte]],
                                  open: () => (Relay, Session))

  private def long8(v: Long) = ByteBuffer.allocate(8).putLong(v).array()
  private def int4(v: Int) = ByteBuffer.allocate(4).putInt(v).array()
  private def waitFor(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(cond, "fixture never became ready")
  }

  private val pollers = Seq(
    // cut = 5 is the whole topic frame ("t.a", a short frame): the pause
    // falls between the two frames of one multipart message
    Poller("zmq", 5, Seq(Array[Byte](0x03) ++ long8(1L << 31), Array[Byte](0x03) ++ long8((1L << 32) + 5)), () => {
      val srv = new Zmq.PubServer().start()
      val relay = new Relay(srv.port)
      val sub = new Zmq.SubClient("127.0.0.1", relay.port, Seq("t."))
      waitFor(srv.subscriptionCount == 1)
      (relay, new Session {
        def poll(ms: Int) = sub.receive(ms)
        def send() = srv.publish(b("t.a"), b("payload"))
        def close() = { sub.close(); srv.stop() }
      })
    }),
    Poller("nanomsg", 1, Seq(long8(1L << 31), long8((1L << 32) + 5)), () => {
      val srv = new Nanomsg.PubServer().start()
      val relay = new Relay(srv.port)
      val sub = new Nanomsg.SubClient("127.0.0.1", relay.port, Seq(""))
      waitFor(srv.subscriberCount == 1)
      (relay, new Session {
        def poll(ms: Int) = sub.receive(ms)
        def send() = srv.publish(b("payload"))
        def close() = { sub.close(); srv.stop() }
      })
    }),
    Poller("pulsar", 1, Seq(int4(-1)), () => {
      val srv = new Pulsar.MiniPulsar().start()
      val relay = new Relay(srv.address.split(':')(1).toInt)
      val cons = new Pulsar.Consumer(s"127.0.0.1:${relay.port}", "wire", "s")
      val prod = new Pulsar.Producer(srv.address, "wire")
      cons.flow(10)
      (relay, new Session {
        def poll(ms: Int) = cons.receive(ms)
        def send() = { prod.send(b("payload")); () }
        def close() = { prod.close(); cons.close(); srv.stop() }
      })
    }),
    Poller("amqp1", 1, Seq(int4(-1) ++ Array[Byte](2, 0, 0, 0)), () => {
      val srv = new Amqp1.MiniAmqp1().start()
      val relay = new Relay(srv.address.split(':')(1).toInt)
      val rcv = new Amqp1.Receiver(s"127.0.0.1:${relay.port}", "wire")
      val snd = new Amqp1.Sender(srv.address, "wire")
      rcv.flow(10)
      (relay, new Session {
        def poll(ms: Int) = rcv.receive(ms)
        def send() = snd.send(b("payload"))
        def close() = { snd.close(); rcv.close(); srv.stop() }
      })
    }),
    Poller("pgwire", 1, Seq(Array[Byte]('D') ++ int4(-1)), () => {
      val srv = new Pgwire.MiniCrdb("graft", "pg-pass").start()
      val relay = new Relay(srv.address.split(':')(1).toInt)
      val c = new Pgwire.Client(s"127.0.0.1:${relay.port}", "graft", "pg-pass")
      c.exec("SET CLUSTER SETTING kv.rangefeed.enabled = true")
      c.startChangefeed(Seq("wire"))
      (relay, new Session {
        def poll(ms: Int) = c.nextRow(ms)
        def send() = { srv.putDirect("wire", "[1]", """{"a": 1}"""); () }
        def close() = { c.close(); srv.stop() }
      })
    }))

  private def session[T](p: Poller)(f: (Relay, Session) => T): T = {
    val (relay, s) = p.open()
    Thread.sleep(100) // let handshake stragglers pass before arming the relay
    try f(relay, s) finally { s.close(); relay.close() }
  }

  pollers.foreach { p =>
    test(s"${p.who}: a timeout inside a frame fails loudly, then every later poll fails") {
      session(p) { (relay, s) =>
        relay.cutNext(p.cut)
        s.send()
        val e = intercept[IOException](s.poll(300))
        assert(e.getMessage.contains(p.who) && e.getMessage.contains("mid-frame"), e.getMessage)
        // the frame's tail arrives after the pause; the connection stays dead
        val again = intercept[IOException](s.poll(2000))
        assert(again.getMessage.contains("dead"), again.getMessage)
      }
    }

    test(s"${p.who}: an idle poll is a clean None and the connection stays usable") {
      session(p) { (_, s) =>
        assert(s.poll(300).isEmpty)
        s.send()
        assert(s.poll(Wire.TimeoutMs).isDefined)
      }
    }

    p.badLengths.zipWithIndex.foreach { case (frame, i) =>
      test(s"${p.who}: an out-of-range wire length is an IOException (case ${i + 1})") {
        session(p) { (relay, s) =>
          relay.inject(frame)
          val e = intercept[IOException](s.poll(2000))
          assert(e.getMessage.contains(p.who) && e.getMessage.contains("out of range"), e.getMessage)
        }
      }
    }
  }

  // Socket plumbing (listen, dial, read deadlines) lives in Wire.scala;
  // a connector that needs a new exemption names it here with its reason.
  private val exemptions: Map[String, String] = Map.empty

  test("no connector opens, accepts or times out sockets outside Wire.scala") {
    val dir = Paths.get("src/main/scala/graft/conn")
    val banned = Seq("new ServerSocket(", "new Socket(", "setSoTimeout", "SocketTimeoutException")
    val files = Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    assert(files.exists(_.getFileName.toString == "Wire.scala"))
    val hits = for {
      f <- files
      name = f.getFileName.toString
      if name != "Wire.scala" && !exemptions.contains(name)
      (line, n) <- Files.readAllLines(f, UTF_8).asScala.zipWithIndex
      pat <- banned if line.contains(pat)
    } yield s"$name:${n + 1}: $pat"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
