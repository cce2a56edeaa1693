package graft.conn

import java.io.DataInputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** Nanomsg connector (impl/nanomsg/input.go, output.go — the reference
  * wraps go.nanomsg.org/mangos; "Currently only PULL and SUB sockets
  * are supported" on the input, PUSH/PUB on the output) over the PUBLIC
  * SP TCP mapping (nanomsg RFC sp-tcp-mapping): an 8-byte connection
  * header `0x00 'S' 'P' 0x00 <protocol uint16 BE> 0x00 0x00` validated
  * for peer compatibility, then messages as 8-byte big-endian length +
  * payload. SUB filtering is SUBSCRIBER-side prefix matching — the SP
  * pub/sub RFC places filtering at the receiver (unlike ZMTP's
  * upstream subscription forwarding), which the SubClient implements.
  */
object Nanomsg {

  // SP protocol numbers (public nanomsg constants)
  val Pair = 16; val Pub = 32; val Sub = 33; val Req = 48; val Rep = 49
  val Push = 80; val Pull = 81

  private val peerOf = Map(Push -> Pull, Pull -> Push, Pub -> Sub, Sub -> Pub,
    Req -> Rep, Rep -> Req, Pair -> Pair)

  private def header(protocol: Int): Array[Byte] =
    Array[Byte](0x00, 'S'.toByte, 'P'.toByte, 0x00,
      ((protocol >> 8) & 0xff).toByte, (protocol & 0xff).toByte, 0x00, 0x00)

  /** `conn` (dialed or accepted) after the SP handshake */
  private def handshake(conn: Wire.Conn, myProtocol: Int): Wire.Conn = {
    conn.out.write(header(myProtocol)); conn.out.flush()
    val h = new Array[Byte](8); conn.in.readFully(h)
    require(h(0) == 0 && h(1) == 'S' && h(2) == 'P' && h(3) == 0, "sp: bad connection header")
    val peer = ((h(4) & 0xff) << 8) | (h(5) & 0xff)
    require(peerOf.get(myProtocol).contains(peer),
      s"sp: protocol $myProtocol incompatible with peer $peer")
    conn
  }

  private def writeMsg(out: java.io.OutputStream, body: Array[Byte]): Unit = {
    out.write(ByteBuffer.allocate(8).putLong(body.length.toLong).array())
    out.write(body)
  }
  private def readMsg(in: DataInputStream): Array[Byte] =
    Wire.readExact(in, in.readLong(), "nanomsg")

  /** bound PULL fair-queuing messages from all connected PUSH peers —
    * the input's bind-side default (input.go). */
  final class PullServer {
    private val msgQueue = new java.util.concurrent.LinkedBlockingQueue[Array[Byte]]()
    @volatile private var listener: Wire.Listener = _
    def port: Int = listener.port
    def start(): this.type = {
      listener = Wire.listen("nanomsg-pull") { c =>
        handshake(c, Pull)
        while (true) msgQueue.put(readMsg(c.in))
      }
      this
    }
    def receive(timeoutMs: Long = Wire.TimeoutMs): Option[Array[Byte]] =
      Option(msgQueue.poll(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))
    def stop(): Unit = if (listener != null) listener.close()
  }

  final class PushClient(host: String, port: Int) extends AutoCloseable {
    private val conn = handshake(Wire.connect("nanomsg", host, port), Push)
    private val out = conn.out
    def send(body: Array[Byte]): Unit = synchronized { writeMsg(out, body); out.flush() }
    override def close(): Unit = { out.flush(); conn.close() }
  }

  /** bound PUB broadcasting every message to every connected SUB (the
    * SP pub/sub contract: filtering is the receiver's job) */
  final class PubServer {
    private val peers = new scala.collection.mutable.ArrayBuffer[Wire.Conn]()
    @volatile private var listener: Wire.Listener = _
    def port: Int = listener.port
    def subscriberCount: Int = peers.synchronized(peers.size)
    def start(): this.type = {
      listener = Wire.listen("nanomsg-pub") { c =>
        try {
          handshake(c, Pub)
          peers.synchronized(peers += c)
          while (c.in.read() >= 0) () // drain until close
        } finally peers.synchronized(peers -= c)
      }
      this
    }
    def publish(body: Array[Byte]): Unit = peers.synchronized {
      peers.foreach { c =>
        try { writeMsg(c.out, body); c.out.flush() } catch { case _: Throwable => () }
      }
    }
    def stop(): Unit = if (listener != null) listener.close()
  }

  /** connecting SUB with receiver-side prefix filters (input.go:46
    * sub_filters; `""` subscribes to everything) */
  final class SubClient(host: String, port: Int, filters: Seq[String]) extends AutoCloseable {
    private val conn = handshake(Wire.connect("nanomsg", host, port), Sub)
    private val filterBytes = filters.map(_.getBytes(UTF_8))

    /** next message passing a filter, or None if none starts within
      * `timeoutMs` */
    def receive(timeoutMs: Int = Wire.TimeoutMs): Option[Array[Byte]] =
      conn.await(timeoutMs)(Some(readMsg(conn.in)).filter(m =>
        filterBytes.isEmpty || filterBytes.exists(f =>
          f.length <= m.length && java.util.Arrays.equals(f, m.take(f.length)))))
    override def close(): Unit = conn.close()
  }
}
