package graft.conn

import java.io.{DataInputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.{TrieMap => CTrieMap}
import scala.collection.mutable.ArrayBuffer

/** Cassandra connector (impl/cassandra/output.go — a parameterized
  * query executed per message with positional binds; input.go — a
  * SELECT cursor) over the PUBLIC CQL native protocol v4: the 9-byte
  * frame header (version/flags/stream/opcode/length), STARTUP→READY,
  * PREPARE→Prepared-result, EXECUTE with bound values, QUERY, and
  * Rows results with full column metadata — big-endian typed values
  * for bigint / double / varchar / boolean. The reference wraps
  * github.com/gocql/gocql; frames here follow the published
  * native_protocol_v4.spec.
  */
object Cassandra {

  // opcodes (native_protocol_v4.spec §2.4)
  private val OpError = 0x00
  private val OpStartup = 0x01
  private val OpReady = 0x02
  private val OpQuery = 0x07
  private val OpResult = 0x08
  private val OpPrepare = 0x09
  private val OpExecute = 0x0A

  // option ids (§6)
  private val TBigint = 0x0002
  private val TBoolean = 0x0004
  private val TDouble = 0x0007
  private val TVarchar = 0x000D

  final case class Column(name: String, tpe: Int)

  // ------------------------------------------------------- frame helpers
  private def frame(version: Byte, stream: Short, opcode: Int, body: Array[Byte]): Array[Byte] = {
    val b = ByteBuffer.allocate(9 + body.length)
    b.put(version).put(0.toByte).putShort(stream).put(opcode.toByte).putInt(body.length).put(body)
    b.array()
  }

  private def readFrame(in: DataInputStream): (Byte, Short, Int, ByteBuffer) = {
    val version = in.readByte()
    in.readByte() // flags
    val stream = in.readShort()
    val opcode = in.readByte() & 0xff
    val len = in.readInt()
    val body = new Array[Byte](len); in.readFully(body)
    (version, stream, opcode, ByteBuffer.wrap(body))
  }

  private def putString(b: ArrayBuffer[Byte], s: String): Unit = {
    val bytes = s.getBytes(UTF_8)
    putShort(b, bytes.length.toShort); b ++= bytes
  }
  private def putLongString(b: ArrayBuffer[Byte], s: String): Unit = {
    val bytes = s.getBytes(UTF_8)
    putInt(b, bytes.length); b ++= bytes
  }
  private def putShort(b: ArrayBuffer[Byte], v: Short): Unit = {
    b += (v >> 8).toByte; b += v.toByte
  }
  private def putInt(b: ArrayBuffer[Byte], v: Int): Unit = {
    b += (v >> 24).toByte; b += (v >> 16).toByte; b += (v >> 8).toByte; b += v.toByte
  }
  private def putBytes(b: ArrayBuffer[Byte], v: Array[Byte]): Unit =
    if (v == null) putInt(b, -1) else { putInt(b, v.length); b ++= v }
  private def putShortBytes(b: ArrayBuffer[Byte], v: Array[Byte]): Unit = {
    putShort(b, v.length.toShort); b ++= v
  }

  private def getString(b: ByteBuffer): String = {
    val len = b.getShort() & 0xffff
    val bytes = new Array[Byte](len); b.get(bytes); new String(bytes, UTF_8)
  }
  private def getLongString(b: ByteBuffer): String = {
    val len = b.getInt()
    val bytes = new Array[Byte](len); b.get(bytes); new String(bytes, UTF_8)
  }
  private def getBytes(b: ByteBuffer): Array[Byte] = {
    val len = b.getInt()
    if (len < 0) null else { val bytes = new Array[Byte](len); b.get(bytes); bytes }
  }
  private def getShortBytes(b: ByteBuffer): Array[Byte] = {
    val len = b.getShort() & 0xffff
    val bytes = new Array[Byte](len); b.get(bytes); bytes
  }

  // typed value codec (§6: big-endian fixed for numbers, UTF-8 for text)
  def encodeValue(tpe: Int, v: Any): Array[Byte] = (tpe, v) match {
    case (_, null) => null
    case (TBigint, l: Long) => ByteBuffer.allocate(8).putLong(l).array()
    case (TBigint, i: Int) => ByteBuffer.allocate(8).putLong(i.toLong).array()
    case (TDouble, d: Double) => ByteBuffer.allocate(8).putLong(java.lang.Double.doubleToLongBits(d)).array()
    case (TVarchar, s: String) => s.getBytes(UTF_8)
    case (TBoolean, bo: Boolean) => Array[Byte](if (bo) 1 else 0)
    case (t, x) => throw new IllegalArgumentException(f"cql: cannot encode $x%s as type 0x$t%04x")
  }
  def decodeValue(tpe: Int, bytes: Array[Byte]): Any =
    if (bytes == null) null
    else tpe match {
      case TBigint => ByteBuffer.wrap(bytes).getLong()
      case TDouble => java.lang.Double.longBitsToDouble(ByteBuffer.wrap(bytes).getLong())
      case TVarchar => new String(bytes, UTF_8)
      case TBoolean => bytes(0) != 0
      case t => throw new IllegalArgumentException(f"cql: unsupported type 0x$t%04x")
    }

  def typeName(t: Int): String = t match {
    case TBigint => "bigint"; case TDouble => "double"
    case TVarchar => "varchar"; case TBoolean => "boolean"
  }
  def typeOf(name: String): Int = name.toLowerCase match {
    case "bigint" => TBigint; case "double" => TDouble
    case "varchar" | "text" => TVarchar; case "boolean" => TBoolean
    case other => throw new IllegalArgumentException(s"cql: unknown type $other")
  }

  // ------------------------------------------------------------- fixture
  private final class Table(val columns: Vector[Column]) {
    val rows = new ArrayBuffer[Vector[Any]]()
  }
  private final class Prepared(val id: Array[Byte], val table: String, val bindCols: Vector[Column])

  /** In-memory CQL server: CREATE TABLE / prepared INSERT / QUERY SELECT
    * (with equality WHERE) over v4 frames. */
  final class MiniCassandra {
    private val tables = new CTrieMap[String, Table]()
    private val prepared = new CTrieMap[String, Prepared]() // hex id -> prepared
    private val prepSeq = new AtomicInteger(0)
    @volatile private var listener: Wire.Listener = _
    def address: String = s"127.0.0.1:${listener.port}"
    def rowCount(table: String): Int = tables.get(table).map(t => t.synchronized(t.rows.size)).getOrElse(0)

    private def errorBody(msg: String): Array[Byte] = {
      val b = new ArrayBuffer[Byte]()
      putInt(b, 0x2200 /* invalid query */); putString(b, msg)
      b.toArray
    }
    private def voidResult(): Array[Byte] = {
      val b = new ArrayBuffer[Byte]()
      putInt(b, 0x0001); b.toArray
    }

    private def rowsResult(cols: Vector[Column], rows: Seq[Vector[Any]], table: String): Array[Byte] = {
      val b = new ArrayBuffer[Byte]()
      putInt(b, 0x0002) // kind Rows
      putInt(b, 0x0001) // metadata flags: global table spec
      putInt(b, cols.size)
      putString(b, "graft"); putString(b, table) // global keyspace + table
      cols.foreach { c => putString(b, c.name); putShort(b, c.tpe.toShort) }
      putInt(b, rows.size)
      rows.foreach(r => r.zip(cols).foreach { case (v, c) => putBytes(b, encodeValue(c.tpe, v)) })
      b.toArray
    }

    private val createRe =
      """(?is)\s*CREATE\s+TABLE\s+(?:graft\.)?(\w+)\s*\((.+)\)\s*""".r
    private val insertRe =
      """(?is)\s*INSERT\s+INTO\s+(?:graft\.)?(\w+)\s*\(([^)]+)\)\s*VALUES\s*\(([^)]+)\)\s*""".r
    private val selectRe =
      """(?is)\s*SELECT\s+(.+?)\s+FROM\s+(?:graft\.)?(\w+)(?:\s+WHERE\s+(\w+)\s*=\s*\?)?\s*(?:ALLOW FILTERING)?\s*""".r

    private def handleQuery(cql: String, values: Vector[Array[Byte]]): Array[Byte] = cql match {
      case createRe(name, colsSpec) =>
        val cols = colsSpec.split(',').toVector.map(_.trim)
          .filterNot(_.toUpperCase.startsWith("PRIMARY"))
          .map { c => val parts = c.split("\\s+"); Column(parts(0), typeOf(parts(1))) }
        tables.putIfAbsent(name, new Table(cols))
        voidResult()
      case selectRe(proj, name, whereCol) =>
        val t = tables.getOrElse(name,
          throw new IllegalArgumentException(s"unconfigured table $name"))
        val cols = if (proj.trim == "*") t.columns
          else proj.split(',').toVector.map(_.trim).map(n =>
            t.columns.find(_.name == n).getOrElse(
              throw new IllegalArgumentException(s"undefined column $n")))
        val idxs = cols.map(c => t.columns.indexWhere(_.name == c.name))
        val all = t.synchronized(t.rows.toVector)
        val filtered = Option(whereCol) match {
          case Some(wc) =>
            val wi = t.columns.indexWhere(_.name == wc)
            val wanted = decodeValue(t.columns(wi).tpe, values.head)
            all.filter(r => r(wi) == wanted)
          case None => all
        }
        rowsResult(cols, filtered.map(r => idxs.map(r(_))), name)
      case _ => throw new IllegalArgumentException(s"unsupported query: $cql")
    }

    private def handle(opcode: Int, body: ByteBuffer): (Int, Array[Byte]) = opcode match {
      case OpStartup => (OpReady, Array.emptyByteArray)
      case OpPrepare =>
        val cql = getLongString(body)
        cql match {
          case insertRe(name, colList, _) =>
            val t = tables.getOrElse(name, return (OpError, errorBody(s"unconfigured table $name")))
            val bindCols = colList.split(',').toVector.map(_.trim).map(n =>
              t.columns.find(_.name == n).getOrElse(
                return (OpError, errorBody(s"undefined column $n"))))
            val id = f"prep-${prepSeq.incrementAndGet()}%04d".getBytes(UTF_8)
            prepared.put(new String(id, UTF_8), new Prepared(id, name, bindCols))
            val b = new ArrayBuffer[Byte]()
            putInt(b, 0x0004) // kind Prepared
            putShortBytes(b, id)
            // bind-variable metadata
            putInt(b, 0x0001); putInt(b, bindCols.size)
            putString(b, "graft"); putString(b, name)
            bindCols.foreach { c => putString(b, c.name); putShort(b, c.tpe.toShort) }
            // result metadata: none for INSERT
            putInt(b, 0x0004 /* no_metadata */); putInt(b, 0)
            (OpResult, b.toArray)
          case _ => (OpError, errorBody(s"only INSERT is preparable here: $cql"))
        }
      case OpExecute =>
        val id = new String(getShortBytes(body), UTF_8)
        val p = prepared.getOrElse(id, return (OpError, errorBody("unknown prepared id")))
        body.getShort() // consistency
        val flags = body.get()
        val values =
          if ((flags & 0x01) != 0) {
            val n = body.getShort() & 0xffff
            Vector.fill(n)(getBytes(body))
          } else Vector.empty
        if (values.size != p.bindCols.size)
          return (OpError, errorBody(s"expected ${p.bindCols.size} values, got ${values.size}"))
        val t = tables(p.table)
        val decoded = values.zip(p.bindCols).map { case (v, c) => decodeValue(c.tpe, v) }
        // reorder binds into full-row column order (unbound columns null)
        val row = t.columns.map { c =>
          val bi = p.bindCols.indexWhere(_.name == c.name)
          if (bi >= 0) decoded(bi) else null
        }
        t.synchronized(t.rows += row)
        (OpResult, voidResult())
      case OpQuery =>
        val cql = getLongString(body)
        body.getShort() // consistency
        val flags = body.get()
        val values =
          if ((flags & 0x01) != 0) {
            val n = body.getShort() & 0xffff
            Vector.fill(n)(getBytes(body))
          } else Vector.empty
        try (OpResult, handleQuery(cql, values))
        catch { case e: Throwable => (OpError, errorBody(String.valueOf(e.getMessage))) }
      case other => (OpError, errorBody(s"unsupported opcode $other"))
    }

    def start(): this.type = { listener = Wire.listen("mini-cassandra")(serve); this }
    private def serve(c: Wire.Conn): Unit = {
      val in = c.in
      val out = new DataOutputStream(c.out)
      while (true) {
        val (_, stream, opcode, body) = readFrame(in)
        val (respOp, respBody) = try handle(opcode, body)
        catch { case e: Throwable => (OpError, errorBody(String.valueOf(e.getMessage))) }
        out.write(frame(0x84.toByte, stream, respOp, respBody)); out.flush()
      }
    }
    def stop(): Unit = if (listener != null) listener.close()
  }

  // -------------------------------------------------------------- client
  final class Client(address: String) extends AutoCloseable {
    private val conn = Wire.connect("cassandra", address)
    private val in = conn.in
    private val out = new DataOutputStream(conn.out)
    private val streamIds = new AtomicInteger(0)

    // STARTUP handshake (§3: CQL_VERSION is required)
    locally {
      val b = new ArrayBuffer[Byte]()
      putShort(b, 1); putString(b, "CQL_VERSION"); putString(b, "3.0.0")
      val (op, _) = roundTrip(OpStartup, b.toArray)
      require(op == OpReady, "expected READY after STARTUP")
    }

    private def roundTrip(opcode: Int, body: Array[Byte]): (Int, ByteBuffer) = synchronized {
      out.write(frame(0x04.toByte, (streamIds.incrementAndGet() & 0x7fff).toShort, opcode, body))
      out.flush()
      val (_, _, respOp, respBody) = readFrame(in)
      if (respOp == OpError) {
        respBody.getInt()
        throw new IllegalArgumentException(s"cql error: ${getString(respBody)}")
      }
      (respOp, respBody)
    }

    final case class PreparedStmt(id: Array[Byte], bindCols: Vector[Column])

    def execute(cql: String): Unit = {
      val b = new ArrayBuffer[Byte]()
      putLongString(b, cql); putShort(b, 1 /* ONE */); b += 0
      roundTrip(OpQuery, b.toArray); ()
    }

    def prepare(cql: String): PreparedStmt = {
      val b = new ArrayBuffer[Byte]()
      putLongString(b, cql)
      val (_, resp) = roundTrip(OpPrepare, b.toArray)
      require(resp.getInt() == 0x0004, "expected Prepared result")
      val id = getShortBytes(resp)
      resp.getInt() // metadata flags
      val n = resp.getInt()
      getString(resp); getString(resp) // global ks + table
      val cols = Vector.fill(n)(Column(getString(resp), resp.getShort() & 0xffff))
      PreparedStmt(id, cols)
    }

    def executePrepared(p: PreparedStmt, values: Seq[Any]): Unit = {
      val b = new ArrayBuffer[Byte]()
      putShortBytes(b, p.id)
      putShort(b, 1 /* ONE */); b += 0x01 // flags: values follow
      putShort(b, values.size.toShort)
      values.zip(p.bindCols).foreach { case (v, c) => putBytes(b, encodeValue(c.tpe, v)) }
      roundTrip(OpExecute, b.toArray); ()
    }

    /** QUERY returning Rows, decoded via the response column metadata */
    def query(cql: String, bind: Option[Any] = None, bindType: Int = TBigint): (Vector[Column], Vector[Vector[Any]]) = {
      val b = new ArrayBuffer[Byte]()
      putLongString(b, cql); putShort(b, 1)
      bind match {
        case Some(v) =>
          b += 0x01; putShort(b, 1); putBytes(b, encodeValue(bindType, v))
        case None => b += 0
      }
      val (_, resp) = roundTrip(OpQuery, b.toArray)
      require(resp.getInt() == 0x0002, "expected Rows result")
      resp.getInt() // metadata flags (global table spec)
      val n = resp.getInt()
      getString(resp); getString(resp) // ks + table
      val cols = Vector.fill(n)(Column(getString(resp), resp.getShort() & 0xffff))
      val rowCount = resp.getInt()
      val rows = Vector.fill(rowCount)(cols.map(c => decodeValue(c.tpe, getBytes(resp))))
      (cols, rows)
    }

    override def close(): Unit = { try out.flush() catch { case _: Throwable => () }; conn.close() }
  }
}
