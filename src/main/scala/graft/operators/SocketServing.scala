package graft.operators

import java.net.{DatagramPacket, DatagramSocket, InetAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** socket_server input (impl/io/input_socket_server.go:28-180): LISTEN
  * for connections and read messages from whoever dials in — the
  * inverse of the connect-mode `socket` input (src_socket). The
  * reference accepts tcp/udp/unix/tls and feeds each connection
  * through the configured scanner (lines by default).
  *
  * Carried here: `tcp` (multiple concurrent connections, each
  * line-scanned on its own daemon thread) and `udp` (per-packet,
  * packets may carry several lines). `unix`/`tls` are the same accept
  * loop behind Java's UnixDomainSocketAddress/SSLServerSocket and stay
  * out of scope with the repo's other TLS surfaces. The dynamically
  * bound port is exposed like the reference's address_cache contract
  * (input_socket_server.go:49 — written to a cache so other components
  * can discover it; here: the `port` accessor).
  *
  * Spark shape: the listener is a driver-side ingress buffer (the same
  * class as HttpServerInput); producers — including Spark tasks acting
  * as external clients in the gates — dial in concurrently, and the
  * drained rows become a DataFrame. At scale the socket feed is the
  * bounded control-plane path, not the bulk path (that's the object
  * stores); rows are bounded by the await count.
  */
final class SocketServerInput(network: String = "tcp") {
  require(network == "tcp" || network == "udp", s"socket network '$network' unsupported")

  private val queue = new ConcurrentLinkedQueue[String]()
  @volatile private var tcpServer: graft.conn.Wire.Listener = _
  @volatile private var udpServer: DatagramSocket = _
  @volatile private var running = true

  def port: Int = if (network == "tcp") tcpServer.port else udpServer.getLocalPort

  def start(): this.type = {
    if (network == "tcp") tcpServer = graft.conn.Wire.listen("socket-server")(readLines)
    else {
      udpServer = new DatagramSocket(0, InetAddress.getLoopbackAddress)
      val pump = new Thread(() => {
        val buf = new Array[Byte](65536)
        try while (running) {
          val pkt = new DatagramPacket(buf, buf.length)
          udpServer.receive(pkt)
          new String(pkt.getData, pkt.getOffset, pkt.getLength, UTF_8)
            .split("\n").iterator.filter(_.nonEmpty).foreach(queue.add)
        } catch { case _: Throwable => () }
      })
      pump.setDaemon(true)
      pump.start()
    }
    this
  }

  private def readLines(c: graft.conn.Wire.Conn): Unit = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(c.in, UTF_8))
    var line = in.readLine()
    while (line != null) {
      if (line.nonEmpty) queue.add(line)
      line = in.readLine()
    }
  }

  /** block until `n` messages arrived (the gates' barrier between the
    * producer job and the read-back) */
  def awaitCount(n: Int, timeoutMs: Long = 60000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (queue.size < n) {
      require(System.currentTimeMillis() < deadline,
        s"socket_server: ${queue.size}/$n messages after ${timeoutMs}ms")
      Thread.sleep(10)
    }
  }

  def received: Vector[String] = queue.iterator().asScala.toVector

  def stop(): Unit = {
    running = false
    if (tcpServer != null) tcpServer.close()
    if (udpServer != null) udpServer.close()
  }
}
