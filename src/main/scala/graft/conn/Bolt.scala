package graft.conn

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.VectorMap
import scala.collection.mutable.ArrayBuffer

/** Neo4j Bolt protocol + PackStream, from the PUBLIC specifications
  * (the Bolt Protocol and PackStream specs published at
  * 7687.org / neo4j docs), for the `cypher` input/output
  * (internal/impl/cypher/{input,output}_cypher.go — the reference wraps
  * neo4j-go-driver/v5 and carries no wire code):
  *
  *  - PackStream: the marker-byte serialization (tiny ints, sized
  *    ints/strings/lists/maps, structs with tag bytes).
  *  - Handshake: magic 0x6060B017 + four proposed versions, server
  *    picks one (4.4 here).
  *  - Messages as tiny-structs over CHUNKED framing (u16-length chunks,
  *    0x0000 terminator): HELLO/SUCCESS auth (verified server-side),
  *    RUN(query, params) → SUCCESS{fields}, PULL{n} → RECORD* +
  *    SUCCESS{has_more}, FAILURE{code,message} + RESET recovery.
  *  - Node values cross as the documented Node struct (tag 0x4E,
  *    [id, labels, properties]).
  *
  * [[MiniNeo4j]] evaluates the restricted Cypher the reference's own
  * config examples use: parameterized `CREATE (x:Label {k: $p, …})
  * [RETURN x]` and `MATCH (n:Label) [WHERE conds] RETURN items
  * [ORDER BY …] [LIMIT n]` with `$`-parameters, property equality and
  * comparison operators joined by AND.
  */
object Bolt {

  // ---------------------------------------------------------- PackStream
  sealed trait PVal
  case object PNull extends PVal
  final case class PBool(b: Boolean) extends PVal
  final case class PInt(v: Long) extends PVal
  final case class PFloat(v: Double) extends PVal
  final case class PStr(s: String) extends PVal
  final case class PList(items: Vector[PVal]) extends PVal
  final case class PMap(items: VectorMap[String, PVal]) extends PVal
  final case class PStruct(tag: Int, fields: Vector[PVal]) extends PVal

  def pack(v: PVal): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    packInto(out, v)
    out.toArray
  }

  private def be16(n: Int) = Array[Byte](((n >> 8) & 0xff).toByte, (n & 0xff).toByte)
  private def be32(n: Int) = ByteBuffer.allocate(4).putInt(n).array()

  private def packInto(out: ArrayBuffer[Byte], v: PVal): Unit = v match {
    case PNull => out += 0xC0.toByte
    case PBool(true) => out += 0xC3.toByte
    case PBool(false) => out += 0xC2.toByte
    case PInt(n) =>
      if (n >= -16 && n <= 127) out += n.toByte
      else if (n >= Byte.MinValue && n <= Byte.MaxValue) { out += 0xC8.toByte; out += n.toByte }
      else if (n >= Short.MinValue && n <= Short.MaxValue) { out += 0xC9.toByte; out ++= be16(n.toInt & 0xffff) }
      else if (n >= Int.MinValue && n <= Int.MaxValue) { out += 0xCA.toByte; out ++= be32(n.toInt) }
      else { out += 0xCB.toByte; out ++= ByteBuffer.allocate(8).putLong(n).array() }
    case PFloat(d) => out += 0xC1.toByte; out ++= ByteBuffer.allocate(8).putDouble(d).array()
    case PStr(s) =>
      val b = s.getBytes(UTF_8)
      if (b.length <= 15) out += (0x80 | b.length).toByte
      else if (b.length <= 255) { out += 0xD0.toByte; out += b.length.toByte }
      else if (b.length <= 65535) { out += 0xD1.toByte; out ++= be16(b.length) }
      else { out += 0xD2.toByte; out ++= be32(b.length) }
      out ++= b
    case PList(items) =>
      if (items.size <= 15) out += (0x90 | items.size).toByte
      else if (items.size <= 255) { out += 0xD4.toByte; out += items.size.toByte }
      else if (items.size <= 65535) { out += 0xD5.toByte; out ++= be16(items.size) }
      else { out += 0xD6.toByte; out ++= be32(items.size) }
      items.foreach(packInto(out, _))
    case PMap(items) =>
      if (items.size <= 15) out += (0xA0 | items.size).toByte
      else if (items.size <= 255) { out += 0xD8.toByte; out += items.size.toByte }
      else if (items.size <= 65535) { out += 0xD9.toByte; out ++= be16(items.size) }
      else { out += 0xDA.toByte; out ++= be32(items.size) }
      items.foreach { case (k, pv) => packInto(out, PStr(k)); packInto(out, pv) }
    case PStruct(tag, fields) =>
      require(fields.size <= 15, "struct too large")
      out += (0xB0 | fields.size).toByte
      out += tag.toByte
      fields.foreach(packInto(out, _))
  }

  final class Unpacker(buf: Array[Byte]) {
    private var pos = 0
    def hasNext: Boolean = pos < buf.length
    private def u8(): Int = { val b = buf(pos) & 0xff; pos += 1; b }
    private def i16(): Int = { val v = ((buf(pos) & 0xff) << 8) | (buf(pos + 1) & 0xff); pos += 2; v }
    private def i32(): Int = { val v = ByteBuffer.wrap(buf, pos, 4).getInt; pos += 4; v }
    private def take(n: Int): Array[Byte] = { val b = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; b }
    def unpack(): PVal = {
      val m = u8()
      if (m <= 0x7f) PInt(m.toLong)
      else if (m >= 0xf0) PInt((m - 256).toLong)
      else if ((m & 0xf0) == 0x80) PStr(new String(take(m & 0x0f), UTF_8))
      else if ((m & 0xf0) == 0x90) PList(Vector.fill(m & 0x0f)(unpack()))
      else if ((m & 0xf0) == 0xA0) PMap(VectorMap((0 until (m & 0x0f)).map { _ =>
        val PStr(k) = unpack(): @unchecked; k -> unpack() }: _*))
      else if ((m & 0xf0) == 0xB0) PStruct(u8(), Vector.fill(m & 0x0f)(unpack()))
      else m match {
        case 0xC0 => PNull
        case 0xC2 => PBool(false)
        case 0xC3 => PBool(true)
        case 0xC1 => PFloat(ByteBuffer.wrap(take(8)).getDouble)
        case 0xC8 => PInt(take(1)(0).toLong)
        case 0xC9 => PInt(i16().toShort.toLong)
        case 0xCA => PInt(i32().toLong)
        case 0xCB => PInt(ByteBuffer.wrap(take(8)).getLong)
        case 0xD0 => PStr(new String(take(u8()), UTF_8))
        case 0xD1 => PStr(new String(take(i16()), UTF_8))
        case 0xD2 => PStr(new String(take(i32()), UTF_8))
        case 0xD4 => PList(Vector.fill(u8())(unpack()))
        case 0xD5 => PList(Vector.fill(i16())(unpack()))
        case 0xD8 => PMap(VectorMap((0 until u8()).map { _ =>
          val PStr(k) = unpack(): @unchecked; k -> unpack() }: _*))
        case 0xD9 => PMap(VectorMap((0 until i16()).map { _ =>
          val PStr(k) = unpack(): @unchecked; k -> unpack() }: _*))
        case other => throw new IllegalArgumentException(f"packstream marker 0x$other%02x")
      }
    }
  }

  // ------------------------------------------------------------ messages
  object Msg {
    val Hello = 0x01; val Goodbye = 0x02; val Reset = 0x0F
    val Run = 0x10; val Discard = 0x2F; val Pull = 0x3F
    val Success = 0x70; val Record = 0x71; val Ignored = 0x7E; val Failure = 0x7F
    val Node = 0x4E
  }

  private val Magic = Array[Byte](0x60, 0x60, 0xB0.toByte, 0x17)
  private val Version44 = Array[Byte](0, 0, 4, 4)

  // chunked framing: u16-size chunks, 0x0000 ends a message
  private def writeMsg(out: java.io.OutputStream, v: PVal): Unit = {
    val bytes = pack(v)
    var off = 0
    while (off < bytes.length) {
      val n = math.min(0xffff, bytes.length - off)
      out.write((n >> 8) & 0xff); out.write(n & 0xff)
      out.write(bytes, off, n)
      off += n
    }
    out.write(0); out.write(0)
    out.flush()
  }

  private def readMsg(in: DataInputStream): PStruct = {
    val buf = new ArrayBuffer[Byte]()
    var n = in.readUnsignedShort()
    while (n != 0) {
      val chunk = new Array[Byte](n); in.readFully(chunk)
      buf ++= chunk
      n = in.readUnsignedShort()
    }
    new Unpacker(buf.toArray).unpack() match {
      case s: PStruct => s
      case other => throw new IllegalArgumentException(s"bolt: not a message struct: $other")
    }
  }

  // ----------------------------------------------------- value bridging
  def toP(v: Any): PVal = v match {
    case null => PNull
    case b: Boolean => PBool(b)
    case i: Int => PInt(i.toLong)
    case l: Long => PInt(l)
    case d: Double => PFloat(d)
    case s: String => PStr(s)
    case m: VectorMap[String @unchecked, Any @unchecked] =>
      PMap(m.map { case (k, x) => k -> toP(x) })
    case xs: Seq[Any @unchecked] => PList(xs.toVector.map(toP))
    case other => throw new IllegalArgumentException(s"bolt: unmappable $other")
  }
  def fromP(v: PVal): Any = v match {
    case PNull => null
    case PBool(b) => b
    case PInt(l) => l
    case PFloat(d) => d
    case PStr(s) => s
    case PList(items) => items.map(fromP)
    case PMap(items) => items.map { case (k, x) => k -> fromP(x) }
    case PStruct(tag, fields) => (tag, fields) // nodes handled by callers
  }

  // ------------------------------------------------------------- fixture
  private final case class GNode(id: Long, label: String, props: VectorMap[String, Any])

  /** mini neo4j: bolt server + graph store + the restricted Cypher
    * evaluator described above. Auth is basic user/password, verified
    * at HELLO (FAILURE Neo.ClientError.Security.Unauthorized). */
  final class MiniNeo4j(user: String = "neo4j", password: String = "graft-pass") {
    private val lock = new Object
    private val nodes = new ArrayBuffer[GNode]()
    private var idGen = 0L
    @volatile private var server: ServerSocket = _

    def port: Int = server.getLocalPort
    def address: String = s"127.0.0.1:$port"
    def nodeCount(label: String): Int = lock.synchronized(nodes.count(_.label == label))

    // restricted-cypher shapes
    private val createRe =
      ("(?is)^\\s*CREATE\\s*\\(\\s*(\\w+):(\\w+)\\s*\\{(.*)\\}\\s*\\)" +
        "(?:\\s+RETURN\\s+(\\w+))?\\s*$").r
    private val matchRe =
      ("(?is)^\\s*MATCH\\s*\\(\\s*(\\w+):(\\w+)\\s*\\)" +
        "(?:\\s+WHERE\\s+(.+?))?\\s+RETURN\\s+(.+?)" +
        "(?:\\s+ORDER\\s+BY\\s+(\\w+)\\.(\\w+)(\\s+DESC|\\s+ASC)?)?" +
        "(?:\\s+LIMIT\\s+(\\d+))?\\s*$").r
    private val propRe = "(?s)^\\s*(\\w+)\\s*:\\s*(.+?)\\s*$".r
    private val condRe = "(?s)^\\s*(\\w+)\\.(\\w+)\\s*(=|<>|<=|>=|<|>)\\s*(.+?)\\s*$".r
    private val retItemRe = "(?s)^\\s*(\\w+)(?:\\.(\\w+))?(?:\\s+AS\\s+(\\w+))?\\s*$".r

    private def literal(s: String, params: VectorMap[String, Any]): Any =
      if (s.startsWith("$")) params.getOrElse(s.substring(1),
        throw new IllegalArgumentException(s"Expected parameter(s): ${s.substring(1)}"))
      else if (s.startsWith("'") && s.endsWith("'")) s.substring(1, s.length - 1)
      else if (s.startsWith("\"") && s.endsWith("\"")) s.substring(1, s.length - 1)
      else if (s == "true") true else if (s == "false") false
      else if (s.contains('.')) s.toDouble else s.toLong

    private def num(v: Any): Option[Double] = v match {
      case l: Long => Some(l.toDouble); case d: Double => Some(d)
      case i: Int => Some(i.toDouble); case _ => None
    }
    private def cmp(a: Any, b: Any): Int = (num(a), num(b)) match {
      case (Some(x), Some(y)) => x.compareTo(y)
      case _ => String.valueOf(a).compareTo(String.valueOf(b))
    }

    /** split "k1: v1, k2: v2" / conditions on top-level commas (quotes respected) */
    private def splitTop(s: String, sep: Char): Vector[String] = {
      val out = Vector.newBuilder[String]
      var depth = 0; var inStr = false
      val cur = new StringBuilder
      s.foreach { c =>
        if (c == '\'' ) { inStr = !inStr; cur += c }
        else if (!inStr && (c == '{' || c == '(')) { depth += 1; cur += c }
        else if (!inStr && (c == '}' || c == ')')) { depth -= 1; cur += c }
        else if (!inStr && depth == 0 && c == sep) { out += cur.toString; cur.clear() }
        else cur += c
      }
      if (cur.nonEmpty) out += cur.toString
      out.result()
    }

    /** run one statement → (fieldNames, rows of PVal) */
    private def run(query: String, params: VectorMap[String, Any]): (Vector[String], Vector[Vector[PVal]]) =
      query match {
        case createRe(binding, label, propsS, ret) =>
          val props = VectorMap(splitTop(propsS, ',').map {
            case propRe(k, raw) => k -> literal(raw, params)
            case other => throw new IllegalArgumentException(s"bad property: $other")
          }: _*)
          val node = lock.synchronized {
            idGen += 1
            val n = GNode(idGen, label, props)
            nodes += n
            n
          }
          if (ret == null) (Vector.empty, Vector.empty)
          else {
            require(ret == binding, s"unknown return binding $ret")
            (Vector(ret), Vector(Vector(nodeStruct(node))))
          }
        case matchRe(binding, label, whereS, retS, obind, oprop, odir, limitS) =>
          val conds: Vector[GNode => Boolean] =
            Option(whereS).map(w => splitTop(w, ',').flatMap(_.split("(?i)\\s+AND\\s+"))
              .toVector.map[GNode => Boolean] {
                case condRe(b, prop, op, raw) =>
                  require(b == binding, s"unknown binding $b")
                  val v = literal(raw, params)
                  (n: GNode) => n.props.get(prop).exists { x =>
                    val c = cmp(x, v)
                    op match {
                      case "=" => c == 0; case "<>" => c != 0
                      case "<" => c < 0; case "<=" => c <= 0
                      case ">" => c > 0; case ">=" => c >= 0
                    }
                  }
                case other => throw new IllegalArgumentException(s"bad condition: $other")
              }).getOrElse(Vector.empty)
          var hits = lock.synchronized(nodes.toVector)
            .filter(n => n.label == label && conds.forall(_(n)))
          if (obind != null) {
            require(obind == binding, s"unknown binding $obind")
            val asc = odir == null || !odir.trim.equalsIgnoreCase("DESC")
            hits = hits.sortWith((a, b) => {
              val c = cmp(a.props.getOrElse(oprop, null), b.props.getOrElse(oprop, null))
              if (asc) c < 0 else c > 0
            })
          }
          if (limitS != null) hits = hits.take(limitS.toInt)
          val items = splitTop(retS, ',').map {
            case retItemRe(b, prop, alias) =>
              require(b == binding, s"unknown binding $b")
              val name = Option(alias).getOrElse(if (prop == null) b else s"$b.$prop")
              (name, Option(prop))
            case other => throw new IllegalArgumentException(s"bad return item: $other")
          }
          (items.map(_._1),
            hits.map(n => items.map {
              case (_, None) => nodeStruct(n)
              case (_, Some(p)) => toP(n.props.getOrElse(p, null))
            }))
        case other => throw new IllegalArgumentException(s"unsupported cypher: $other")
      }

    private def nodeStruct(n: GNode): PVal =
      PStruct(Msg.Node, Vector(PInt(n.id), PList(Vector(PStr(n.label))),
        PMap(n.props.map { case (k, v) => k -> toP(v) })))

    private def serve(sock: Socket): Unit = {
      sock.setTcpNoDelay(true)
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      val out = new BufferedOutputStream(sock.getOutputStream)
      try {
        val magic = new Array[Byte](4); in.readFully(magic)
        require(java.util.Arrays.equals(magic, Magic), "bolt: bad magic")
        val proposals = new Array[Byte](16); in.readFully(proposals)
        out.write(Version44); out.flush() // pick 4.4
        var authed = false
        var pending: Option[(Vector[String], Vector[Vector[PVal]])] = None
        var cursor = 0
        var failed = false
        while (true) {
          val msg = readMsg(in)
          def success(meta: (String, PVal)*): Unit =
            writeMsg(out, PStruct(Msg.Success, Vector(PMap(VectorMap(meta: _*)))))
          def failure(code: String, text: String): Unit = {
            failed = true
            writeMsg(out, PStruct(Msg.Failure, Vector(PMap(VectorMap(
              "code" -> PStr(code), "message" -> PStr(text))))))
          }
          msg.tag match {
            case _ if failed && msg.tag != Msg.Reset && msg.tag != Msg.Goodbye =>
              writeMsg(out, PStruct(Msg.Ignored, Vector.empty))
            case Msg.Hello =>
              val meta = msg.fields.head.asInstanceOf[PMap].items
              val ok = meta.get("scheme").contains(PStr("basic")) &&
                meta.get("principal").contains(PStr(user)) &&
                meta.get("credentials").contains(PStr(password))
              if (ok) { authed = true; success("server" -> PStr("Neo4j/4.4-mini"),
                "connection_id" -> PStr("bolt-mini")) }
              else failure("Neo.ClientError.Security.Unauthorized",
                "The client is unauthorized due to authentication failure.")
            case Msg.Run if !authed =>
              failure("Neo.ClientError.Security.Unauthorized", "not authenticated")
            case Msg.Run =>
              val PStr(q) = msg.fields(0): @unchecked
              val params = msg.fields(1).asInstanceOf[PMap].items
                .map { case (k, v) => k -> fromP(v) }
              try {
                val (cols, rows) = run(q, VectorMap(params.toSeq: _*))
                pending = Some((cols, rows)); cursor = 0
                success("fields" -> PList(cols.map(PStr(_))), "t_first" -> PInt(1))
              } catch { case e: IllegalArgumentException =>
                failure("Neo.ClientError.Statement.SyntaxError", String.valueOf(e.getMessage))
              }
            case Msg.Pull =>
              pending match {
                case None => failure("Neo.ClientError.Request.Invalid", "no pending result")
                case Some((_, rows)) =>
                  val n = msg.fields.headOption.collect {
                    case PMap(m) => m.get("n").collect { case PInt(x) => x }.getOrElse(-1L)
                  }.getOrElse(-1L)
                  val end = if (n < 0) rows.size else math.min(rows.size, cursor + n.toInt)
                  while (cursor < end) {
                    writeMsg(out, PStruct(Msg.Record, Vector(PList(rows(cursor)))))
                    cursor += 1
                  }
                  if (cursor >= rows.size) { pending = None; success("t_last" -> PInt(1)) }
                  else success("has_more" -> PBool(true))
              }
            case Msg.Reset => failed = false; pending = None; success()
            case Msg.Discard => pending = None; success("t_last" -> PInt(1))
            case Msg.Goodbye => return
            case other => failure("Neo.ClientError.Request.Invalid", f"unexpected tag 0x$other%02x")
          }
        }
      } catch { case _: EOFException | _: java.net.SocketException => () }
      finally (try sock.close() catch { case _: Throwable => () })
    }

    def start(): this.type = {
      server = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
      val acceptor = new Thread(() => {
        try while (true) {
          val s = server.accept()
          val t = new Thread(() => serve(s)); t.setDaemon(true); t.start()
        } catch { case _: Throwable => () }
      })
      acceptor.setDaemon(true); acceptor.start()
      this
    }
    def stop(): Unit = if (server != null) server.close()
  }

  // -------------------------------------------------------------- client
  final case class BoltFailure(code: String, text: String)
      extends RuntimeException(s"$code: $text")

  /** one bolt connection: handshake, HELLO auth, run+pull */
  final class Client(address: String, user: String = "neo4j",
                     password: String = "graft-pass") extends AutoCloseable {
    private val Array(host, portS) = address.split(':')
    private val sock = new Socket(host, portS.toInt)
    sock.setTcpNoDelay(true)
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    private val out = new BufferedOutputStream(sock.getOutputStream)
    locally {
      out.write(Magic)
      out.write(Version44); out.write(Array[Byte](0, 0, 0, 0))
      out.write(Array[Byte](0, 0, 0, 0)); out.write(Array[Byte](0, 0, 0, 0))
      out.flush()
      val chosen = new Array[Byte](4); in.readFully(chosen)
      require(java.util.Arrays.equals(chosen, Version44), "bolt: version not agreed")
      writeMsg(out, PStruct(Msg.Hello, Vector(PMap(VectorMap(
        "user_agent" -> PStr("graft-bolt/0.1"), "scheme" -> PStr("basic"),
        "principal" -> PStr(user), "credentials" -> PStr(password))))))
      expectSuccess()
    }

    private def expectSuccess(): PMap = readMsg(in) match {
      case PStruct(Msg.Success, Vector(m: PMap)) => m
      case PStruct(Msg.Failure, Vector(PMap(m))) =>
        // RESET so the connection stays usable after a failure
        writeMsg(out, PStruct(Msg.Reset, Vector.empty))
        readMsg(in) // reset's SUCCESS
        throw BoltFailure(
          m.get("code").collect { case PStr(s) => s }.getOrElse(""),
          m.get("message").collect { case PStr(s) => s }.getOrElse(""))
      case other => throw new IllegalArgumentException(s"bolt: unexpected $other")
    }

    /** RUN + PULL-all → (fields, rows). Node structs surface as
      * (labels, properties) tuples via [[fromP]]. */
    def run(query: String, params: Map[String, Any] = Map.empty,
            fetchSize: Long = 1000): (Vector[String], Vector[Vector[Any]]) = synchronized {
      writeMsg(out, PStruct(Msg.Run, Vector(PStr(query),
        PMap(VectorMap(params.toSeq.map { case (k, v) => k -> toP(v) }: _*)),
        PMap(VectorMap.empty))))
      val runMeta = expectSuccess()
      val fields = runMeta.items.get("fields").collect {
        case PList(fs) => fs.collect { case PStr(s) => s }
      }.getOrElse(Vector.empty)
      val rows = Vector.newBuilder[Vector[Any]]
      var more = true
      while (more) {
        writeMsg(out, PStruct(Msg.Pull, Vector(PMap(VectorMap("n" -> PInt(fetchSize))))))
        var done = false
        while (!done) readMsg(in) match {
          case PStruct(Msg.Record, Vector(PList(vals))) => rows += vals.map(fromP)
          case PStruct(Msg.Success, Vector(PMap(meta))) =>
            done = true
            more = meta.get("has_more").contains(PBool(true))
          case PStruct(Msg.Failure, Vector(PMap(m))) =>
            writeMsg(out, PStruct(Msg.Reset, Vector.empty)); readMsg(in)
            throw BoltFailure(
              m.get("code").collect { case PStr(s) => s }.getOrElse(""),
              m.get("message").collect { case PStr(s) => s }.getOrElse(""))
          case other => throw new IllegalArgumentException(s"bolt: unexpected $other")
        }
      }
      (fields, rows.result())
    }

    override def close(): Unit = {
      try { writeMsg(out, PStruct(Msg.Goodbye, Vector.empty)) } catch { case _: Throwable => () }
      try sock.close() catch { case _: Throwable => () }
    }
  }
}
