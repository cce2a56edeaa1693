package graft.conn

import java.io.DataInputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

/** ZeroMQ connector (impl/zeromq/native_{input,output}_zmq4n.go — the
  * reference's "native" flavor wraps go-zeromq/zmq4) over the PUBLIC
  * ZMTP 3.0 wire protocol (the published rfc.zeromq.org/spec/23 framing):
  * the 64-byte greeting (0xFF…0x7F signature, version, NULL mechanism,
  * as-server + filler), the READY command with length-prefixed metadata
  * properties (Socket-Type validated for peer compatibility), and
  * short/long message frames with the MORE bit for multipart.
  *
  * ZeroMQ is BROKERLESS — the natural Spark topology is executors
  * PUSH-connecting to a socket the driver binds (fan-in), or SUB
  * sockets connecting out to a bound PUB (fan-out with prefix
  * subscriptions, delivered publisher-side per the XPUB/XSUB contract:
  * a SUB forwards `0x01 + topic` subscribe messages upstream).
  */
object Zmq {

  // ---------------------------------------------------------- wire bits
  private def greeting(asServer: Boolean): Array[Byte] = {
    val g = new Array[Byte](64)
    g(0) = 0xff.toByte; g(9) = 0x7f.toByte // signature
    g(10) = 3; g(11) = 0 // version 3.0
    "NULL".getBytes(UTF_8).copyToArray(g, 12) // mechanism, zero-padded to 20
    g(32) = if (asServer) 1 else 0
    g
  }

  private def readGreeting(in: DataInputStream): Unit = {
    val g = new Array[Byte](64); in.readFully(g)
    require(g(0) == 0xff.toByte && g(9) == 0x7f.toByte, "zmtp: bad signature")
    require(g(10) >= 3, s"zmtp: unsupported version ${g(10)}")
    val mech = new String(g, 12, 20, UTF_8).takeWhile(_ != 0)
    require(mech == "NULL", s"zmtp: unsupported mechanism $mech")
  }

  /** frame: flags (bit0 MORE, bit1 LONG, bit2 COMMAND) + 1- or 8-byte
    * size + body */
  private def writeFrame(out: java.io.OutputStream, body: Array[Byte],
                         more: Boolean = false, command: Boolean = false): Unit = {
    var flags = 0
    if (more) flags |= 0x01
    if (command) flags |= 0x04
    if (body.length > 255) {
      out.write(flags | 0x02)
      out.write(ByteBuffer.allocate(8).putLong(body.length.toLong).array())
    } else {
      out.write(flags); out.write(body.length)
    }
    out.write(body)
  }

  private def readFrame(in: DataInputStream): (Int, Array[Byte]) = {
    val flags = in.readByte() & 0xff
    val size = if ((flags & 0x02) != 0) in.readLong() else (in.readByte() & 0xff).toLong
    (flags, Wire.readExact(in, size, "zmq"))
  }

  /** READY command: "READY" + (1-byte-len name, 4-byte-BE-len value)* */
  private def readyCommand(socketType: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(5); out.write("READY".getBytes(UTF_8))
    val name = "Socket-Type".getBytes(UTF_8)
    out.write(name.length); out.write(name)
    val v = socketType.getBytes(UTF_8)
    out.write(ByteBuffer.allocate(4).putInt(v.length).array()); out.write(v)
    out.toByteArray
  }

  private def parseReady(body: Array[Byte]): Map[String, String] = {
    val b = ByteBuffer.wrap(body)
    val nameLen = b.get() & 0xff
    val cmd = new Array[Byte](nameLen); b.get(cmd)
    require(new String(cmd, UTF_8) == "READY", "zmtp: expected READY")
    val props = Map.newBuilder[String, String]
    while (b.remaining() > 0) {
      val nl = b.get() & 0xff
      val n = new Array[Byte](nl); b.get(n)
      val vl = b.getInt()
      val v = new Array[Byte](vl); b.get(v)
      props += new String(n, UTF_8) -> new String(v, UTF_8)
    }
    props.result()
  }

  private val compatible = Map(
    "PUSH" -> "PULL", "PULL" -> "PUSH", "PUB" -> "SUB", "SUB" -> "PUB",
    "XPUB" -> "SUB", "XSUB" -> "PUB", "PAIR" -> "PAIR")

  /** `conn` (dialed or accepted) after the ZMTP handshake */
  private def handshake(conn: Wire.Conn, myType: String, asServer: Boolean): Wire.Conn = {
    val (in, out) = (conn.in, conn.out)
    out.write(greeting(asServer)); out.flush()
    readGreeting(in)
    writeFrame(out, readyCommand(myType), command = true); out.flush()
    val (flags, body) = readFrame(in)
    require((flags & 0x04) != 0, "zmtp: expected READY command")
    val peer = parseReady(body).getOrElse("Socket-Type", "")
    require(compatible.get(myType).contains(peer),
      s"zmtp: socket type $myType incompatible with peer $peer")
    conn
  }

  // ------------------------------------------------------------- PULL/PUSH
  /** bound PULL: fair-queues multipart messages from all connected
    * pushers into one collection queue */
  final class PullServer {
    private val msgQueue = new java.util.concurrent.LinkedBlockingQueue[Vector[Array[Byte]]]()
    @volatile private var listener: Wire.Listener = _
    def port: Int = listener.port

    def start(): this.type = {
      listener = Wire.listen("zmq-pull") { c =>
        val in = handshake(c, "PULL", asServer = true).in
        while (true) {
          val parts = Vector.newBuilder[Array[Byte]]
          var more = true
          while (more) {
            val (flags, body) = readFrame(in)
            if ((flags & 0x04) == 0) { parts += body; more = (flags & 0x01) != 0 }
          }
          msgQueue.put(parts.result())
        }
      }
      this
    }
    def receive(timeoutMs: Long = Wire.TimeoutMs): Option[Vector[Array[Byte]]] =
      Option(msgQueue.poll(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))
    def stop(): Unit = if (listener != null) listener.close()
  }

  final class PushClient(host: String, port: Int) extends AutoCloseable {
    private val conn = handshake(Wire.connect("zmq", host, port), "PUSH", asServer = false)
    private val out = conn.out
    def send(parts: Array[Byte]*): Unit = synchronized {
      parts.zipWithIndex.foreach { case (p, i) =>
        writeFrame(out, p, more = i < parts.size - 1)
      }
      out.flush()
    }
    override def close(): Unit = { out.flush(); conn.close() }
  }

  // -------------------------------------------------------------- PUB/SUB
  /** bound PUB honoring upstream subscribe messages (0x01+topic /
    * 0x00+topic) with publisher-side prefix filtering — the XPUB
    * contract the NULL-mechanism SUB speaks */
  final class PubServer {
    private final class Peer(val conn: Wire.Conn) {
      val topics = ArrayBuffer[Array[Byte]]()
    }
    private val peers = ArrayBuffer[Peer]()
    @volatile private var listener: Wire.Listener = _
    def port: Int = listener.port
    def subscriberCount: Int = peers.synchronized(peers.size)

    /** Registered topic subscriptions across peers. A peer appears in
      * [[subscriberCount]] as soon as its handshake completes, BEFORE its
      * SUBSCRIBE control frame is processed — the ZMQ "slow joiner"
      * window, during which a publish is (correctly) filtered away.
      * Coordination that needs delivery guarantees waits on THIS count. */
    def subscriptionCount: Int = peers.synchronized(peers.map(_.topics.size).sum)

    def start(): this.type = {
      listener = Wire.listen("zmq-pub") { c =>
        val peer = new Peer(c)
        try {
          val in = handshake(c, "PUB", asServer = true).in
          peers.synchronized(peers += peer)
          while (true) { // subscription control messages
            val (flags, body) = readFrame(in)
            if ((flags & 0x04) == 0 && body.nonEmpty) peers.synchronized {
              if (body(0) == 1) peer.topics += body.drop(1)
              else if (body(0) == 0) {
                val topic = body.drop(1)
                peer.topics.filterInPlace(!_.sameElements(topic))
              }
            }
          }
        } finally peers.synchronized(peers -= peer)
      }
      this
    }

    def publish(topic: Array[Byte], payload: Array[Byte]): Unit = peers.synchronized {
      peers.foreach { p =>
        val matches = p.topics.exists(t => t.length <= topic.length &&
          java.util.Arrays.equals(t, topic.take(t.length)))
        if (matches) {
          try {
            writeFrame(p.conn.out, topic, more = true)
            writeFrame(p.conn.out, payload)
            p.conn.out.flush()
          } catch { case _: Throwable => () }
        }
      }
    }
    def stop(): Unit = if (listener != null) listener.close()
  }

  final class SubClient(host: String, port: Int, topics: Seq[String]) extends AutoCloseable {
    private val conn = handshake(Wire.connect("zmq", host, port), "SUB", asServer = false)
    private val (in, out) = (conn.in, conn.out)
    locally {
      topics.foreach { t =>
        writeFrame(out, Array[Byte](1) ++ t.getBytes(UTF_8))
      }
      out.flush()
    }
    /** next (topic, payload), or None if none starts within `timeoutMs`;
      * the two frames are one message, so a timeout between them kills
      * the connection (see [[Wire]]) */
    def receive(timeoutMs: Int = Wire.TimeoutMs): Option[(String, Array[Byte])] =
      conn.await(timeoutMs) {
        val (f1, topic) = readFrame(in)
        require((f1 & 0x01) != 0, "zmtp sub: expected multipart topic frame")
        val (_, payload) = readFrame(in)
        Some((new String(topic, UTF_8), payload))
      }
    override def close(): Unit = conn.close()
  }
}
