package graft.conn

import java.io.{DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** CockroachDB changefeed input (impl/cockroachdb/input_changefeed.go —
  * the reference wraps pgx) over the PUBLIC PostgreSQL wire protocol v3
  * (the published frontend/backend message formats): StartupMessage
  * with parameter pairs, cleartext-password authentication,
  * ParameterStatus / BackendKeyData / ReadyForQuery, the Simple Query
  * cycle (RowDescription → DataRow* → CommandComplete), and
  * ErrorResponse fields.
  *
  * The fixture plays a CRDB node: it accepts
  * `SET CLUSTER SETTING kv.rangefeed.enabled = true` (the documented
  * prerequisite), literal INSERTs, and
  * `EXPERIMENTAL CHANGEFEED FOR t[, …] WITH UPDATED[, CURSOR='hlc']` —
  * a NEVER-ENDING result set that backfills rows newer than the cursor
  * and then streams live changes, each DataRow carrying
  * (table, key, value) with value = {"after": …, "updated": "hlc"}
  * exactly as input_changefeed.go:33's sample documents. Cursor resume
  * is the at-least-once contract the reference checkpoints into a
  * cache (:43 cursor_cache).
  */
object Pgwire {

  // ------------------------------------------------------- frame helpers
  private def startupPayload(params: Map[String, String]): Array[Byte] = {
    val body = new java.io.ByteArrayOutputStream()
    body.write(Array[Byte](0, 3, 0, 0)) // protocol 196608 = 3.0
    params.foreach { case (k, v) =>
      body.write(k.getBytes(UTF_8)); body.write(0)
      body.write(v.getBytes(UTF_8)); body.write(0)
    }
    body.write(0)
    body.toByteArray
  }

  private def writeMsg(out: DataOutputStream, tpe: Char, body: Array[Byte]): Unit = {
    if (tpe != 0) out.writeByte(tpe)
    out.writeInt(body.length + 4)
    out.write(body)
    out.flush()
  }

  private def readMsg(in: DataInputStream): (Char, Array[Byte]) = {
    val tpe = in.readByte().toChar
    (tpe, Wire.readExact(in, in.readInt() - 4L, "pgwire"))
  }

  private def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte

  // ------------------------------------------------------------- fixture
  private final case class Change(table: String, key: String, after: String, hlc: String)

  final class MiniCrdb(user: String, password: String) {
    private val changes = new ArrayBuffer[Change]()
    private val hlcGen = new AtomicLong(1700000000000000000L)
    @volatile private var rangefeedEnabled = false
    @volatile private var listener: Wire.Listener = _
    def address: String = s"127.0.0.1:${listener.port}"
    def changeCount: Int = changes.synchronized(changes.size)

    private def nextHlc(): String = f"${hlcGen.addAndGet(1000)}%d.0000000000"

    /** direct server-side mutation (a second writer changing the table) */
    def putDirect(table: String, key: String, after: String): String = {
      val hlc = nextHlc()
      changes.synchronized { changes += Change(table, key, after, hlc); changes.notifyAll() }
      hlc
    }

    private val insertRe =
      """(?is)\s*INSERT\s+INTO\s+(\w+)\s+VALUES\s*\(\s*'((?:[^']|'')*)'\s*,\s*'((?:[^']|'')*)'\s*\)\s*""".r
    private val changefeedRe =
      """(?is)\s*EXPERIMENTAL\s+CHANGEFEED\s+FOR\s+([\w,\s]+?)\s+WITH\s+UPDATED(?:\s*,\s*CURSOR\s*=\s*'([^']+)')?\s*""".r
    private val setRe = """(?is)\s*SET\s+CLUSTER\s+SETTING\s+kv\.rangefeed\.enabled\s*=\s*true\s*""".r

    private def rowDescription(names: Seq[String]): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(b)
      d.writeShort(names.size)
      names.foreach { n =>
        d.write(cstr(n)); d.writeInt(0); d.writeShort(0)
        d.writeInt(25 /* TEXTOID */); d.writeShort(-1); d.writeInt(-1); d.writeShort(0)
      }
      b.toByteArray
    }
    private def dataRow(cols: Seq[String]): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(b)
      d.writeShort(cols.size)
      cols.foreach { c =>
        val bytes = c.getBytes(UTF_8); d.writeInt(bytes.length); d.write(bytes)
      }
      b.toByteArray
    }
    private def errorResponse(msg: String): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      b.write('S'); b.write(cstr("ERROR"))
      b.write('C'); b.write(cstr("XX000"))
      b.write('M'); b.write(cstr(msg))
      b.write(0)
      b.toByteArray
    }

    private def serve(c: Wire.Conn): Unit = {
      val in = c.in
      val out = new DataOutputStream(c.out)
      // startup: untyped message (len + proto + params)
      val len = in.readInt()
      val startup = new Array[Byte](len - 4); in.readFully(startup)
      require(((startup(0) & 0xff) << 8 | (startup(1) & 0xff)) == 3, "pgwire: protocol != 3")
      val params = new String(startup.drop(4), UTF_8).split(0.toChar).filter(_.nonEmpty)
      val claimedUser = params.sliding(2, 2).collectFirst {
        case Array("user", u) => u }.getOrElse("")
      // cleartext password auth (AuthenticationCleartextPassword = 3)
      writeMsg(out, 'R', Array[Byte](0, 0, 0, 3))
      val (pt, pbody) = readMsg(in)
      require(pt == 'p', "pgwire: expected PasswordMessage")
      val pw = new String(pbody, UTF_8).takeWhile(_ != 0)
      if (claimedUser != user || pw != password) {
        writeMsg(out, 'E', errorResponse("password authentication failed")); return
      }
      writeMsg(out, 'R', Array[Byte](0, 0, 0, 0)) // AuthenticationOk
      writeMsg(out, 'S', cstr("server_version") ++ cstr("13.0 (mini-crdb)"))
      writeMsg(out, 'K', Array[Byte](0, 0, 0, 1, 0, 0, 0, 1)) // BackendKeyData
      writeMsg(out, 'Z', Array[Byte]('I'.toByte)) // ReadyForQuery idle

      while (true) {
        val (t, body) = readMsg(in)
        t match {
          case 'Q' =>
            val sql = new String(body, UTF_8).takeWhile(_ != 0)
            sql match {
              case setRe() =>
                rangefeedEnabled = true
                writeMsg(out, 'C', cstr("SET CLUSTER SETTING"))
                writeMsg(out, 'Z', Array[Byte]('I'.toByte))
              case insertRe(table, key, after) =>
                putDirect(table, key.replace("''", "'"), after.replace("''", "'"))
                writeMsg(out, 'C', cstr("INSERT 0 1"))
                writeMsg(out, 'Z', Array[Byte]('I'.toByte))
              case changefeedRe(tablesCsv, cursor) =>
                if (!rangefeedEnabled) {
                  writeMsg(out, 'E', errorResponse("rangefeeds require kv.rangefeed.enabled"))
                  writeMsg(out, 'Z', Array[Byte]('I'.toByte))
                } else {
                  val tables = tablesCsv.split(',').map(_.trim).toSet
                  writeMsg(out, 'T', rowDescription(Seq("table", "key", "value")))
                  // never-ending stream: backfill after the cursor, then live
                  var idx = 0
                  val minHlc = Option(cursor).getOrElse("")
                  while (true) {
                    val next = changes.synchronized {
                      while (idx >= changes.size) changes.wait(1000)
                      val c = changes(idx); idx += 1; c
                    }
                    if (tables.contains(next.table) &&
                        (minHlc.isEmpty || next.hlc > minHlc)) {
                      val value = s"""{"after": ${next.after}, "updated": "${next.hlc}"}"""
                      writeMsg(out, 'D', dataRow(Seq(next.table, next.key, value)))
                    }
                  }
                }
              case other =>
                writeMsg(out, 'E', errorResponse(s"unsupported statement: $other"))
                writeMsg(out, 'Z', Array[Byte]('I'.toByte))
            }
          case 'X' => return // Terminate
          case _ => ()
        }
      }
    }

    def start(): this.type = { listener = Wire.listen("mini-pgwire")(serve); this }
    def stop(): Unit = if (listener != null) listener.close()
  }

  // -------------------------------------------------------------- client
  final case class FeedRow(table: String, key: String, valueJson: String) {
    /** the "updated" hlc inside the value envelope — the cursor the
      * reference checkpoints (input_changefeed.go cursor_cache) */
    def updated: String = {
      val m = Aws.Json.asObj(Aws.Json.parse(valueJson))
      Aws.Json.str(m, "updated")
    }
  }

  final class Client(address: String, user: String, password: String,
                     database: String = "defaultdb") extends AutoCloseable {
    private val conn = Wire.connect("pgwire", address)
    private val in = conn.in
    private val out = new DataOutputStream(conn.out)

    locally {
      writeMsg(out, 0.toChar, startupPayload(Map("user" -> user, "database" -> database)))
      val (t1, b1) = readMsg(in)
      require(t1 == 'R', "expected Authentication request")
      val authType = java.nio.ByteBuffer.wrap(b1).getInt
      if (authType == 3) { // cleartext password
        writeMsg(out, 'p', cstr(password))
        val (t2, b2) = readMsg(in)
        if (t2 == 'E') throw new IllegalArgumentException(parseError(b2))
        require(t2 == 'R' && java.nio.ByteBuffer.wrap(b2).getInt == 0, "auth not ok")
      } else require(authType == 0, s"unsupported auth type $authType")
      // drain until ReadyForQuery
      var ready = false
      while (!ready) readMsg(in) match {
        case ('Z', _) => ready = true
        case ('E', b) => throw new IllegalArgumentException(parseError(b))
        case _ => ()
      }
    }

    private def parseError(body: Array[Byte]): String = {
      val fields = new String(body, UTF_8).split(0.toChar).filter(_.nonEmpty)
      fields.find(_.startsWith("M")).map(_.drop(1)).getOrElse("unknown pg error")
    }

    /** Simple Query returning no rows (SET / INSERT) */
    def exec(sql: String): Unit = synchronized {
      writeMsg(out, 'Q', cstr(sql))
      var done = false
      while (!done) readMsg(in) match {
        case ('Z', _) => done = true
        case ('E', b) => throw new IllegalArgumentException(parseError(b))
        case _ => ()
      }
    }

    /** start a changefeed — the long-lived Simple Query whose DataRows
      * never end; returns after RowDescription arrives */
    def startChangefeed(tables: Seq[String], cursor: Option[String] = None): Unit = synchronized {
      val cur = cursor.map(c => s", CURSOR='$c'").getOrElse("")
      writeMsg(out, 'Q', cstr(
        s"EXPERIMENTAL CHANGEFEED FOR ${tables.mkString(", ")} WITH UPDATED$cur"))
      readMsg(in) match {
        case ('T', _) => ()
        case ('E', b) =>
          // drain to ReadyForQuery so the connection stays usable
          val msg = parseError(b)
          var done = false
          while (!done) if (readMsg(in)._1 == 'Z') done = true
          throw new IllegalArgumentException(msg)
        case (t, _) => throw new IllegalArgumentException(s"unexpected message $t")
      }
    }

    /** next changefeed row, or None after `timeoutMs` idle. A timeout
      * inside a message kills the connection (see [[Wire]]): reconnect
      * and resume from the cursor. */
    def nextRow(timeoutMs: Int = Wire.TimeoutMs): Option[FeedRow] = synchronized {
      conn.await(timeoutMs)(Some(readMsg(in))).flatMap {
        case ('D', bodyBytes) =>
          val b = java.nio.ByteBuffer.wrap(bodyBytes)
          val n = b.getShort()
          require(n == 3, s"changefeed row with $n columns")
          def col(): String = {
            val l = b.getInt(); val v = new Array[Byte](l); b.get(v); new String(v, UTF_8)
          }
          Some(FeedRow(col(), col(), col()))
        case ('E', b) => throw new IllegalArgumentException(parseError(b))
        case _ => None
      }
    }

    override def close(): Unit = {
      try writeMsg(out, 'X', Array.emptyByteArray) catch { case _: Throwable => () }
      conn.close()
    }
  }
}
