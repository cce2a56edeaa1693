package graft.conn

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

/** RESP (REdis Serialization Protocol) wire codec + minimal in-JVM server.
  *
  * The reference's redis family (internal/impl/redis/: cache.go,
  * processor.go:17, input_list.go, input_scan.go, input_streams.go,
  * output_list.go, output_streams.go, input_pubsub.go) wraps the go-redis
  * client; no redis server or client library exists in this sandbox, so —
  * exactly like the RFC 6455 server in [[Ws]] — both ends are implemented
  * from the PUBLIC protocol spec (the RESP2 framing: `+simple`, `-error`,
  * `:integer`, `$bulk`, `*array`, each CRLF-terminated; commands travel as
  * arrays of bulk strings). The [[MiniRedis]] server exists so the
  * connectors are testable in-sandbox and doubles as the gate fixture; at
  * scale only the URL changes — the operator surface in [[Redis]] keeps
  * the per-partition client lifecycle either way.
  *
  * Binary safety: values are raw byte arrays end-to-end; keys and set
  * members are interned through the ISO-8859-1 byte↔char bijection so
  * arbitrary bytes hash/compare correctly.
  */
object Resp {

  // ---------------------------------------------------------------- codec

  sealed trait Value
  final case class Simple(s: String) extends Value
  final case class Err(msg: String) extends Value
  final case class Int64(v: Long) extends Value
  /** Bulk string; `data == null` is the RESP null bulk (`$-1`). */
  final case class Bulk(data: Array[Byte]) extends Value
  /** Array; `items == null` is the RESP null array (`*-1`). */
  final case class Arr(items: Vector[Value]) extends Value

  val NullBulk: Bulk = Bulk(null)
  val NullArr: Arr = Arr(null)
  def bulk(s: String): Bulk = Bulk(s.getBytes(UTF_8))

  /** Encode a command as an array of bulk strings (the only client→server
    * form the protocol defines). */
  def encodeCommand(out: OutputStream, args: Seq[Array[Byte]]): Unit = {
    out.write(s"*${args.length}\r\n".getBytes(UTF_8))
    args.foreach { a =>
      out.write(s"$$${a.length}\r\n".getBytes(UTF_8))
      out.write(a)
      out.write('\r'); out.write('\n')
    }
  }

  def encode(out: OutputStream, v: Value): Unit = v match {
    case Simple(s) => out.write(('+' + s + "\r\n").getBytes(UTF_8))
    case Err(m)    => out.write(('-' + m + "\r\n").getBytes(UTF_8))
    case Int64(n)  => out.write((":" + n + "\r\n").getBytes(UTF_8))
    case Bulk(null) => out.write("$-1\r\n".getBytes(UTF_8))
    case Bulk(d) =>
      out.write(s"$$${d.length}\r\n".getBytes(UTF_8)); out.write(d)
      out.write('\r'); out.write('\n')
    case Arr(null) => out.write("*-1\r\n".getBytes(UTF_8))
    case Arr(xs) =>
      out.write(s"*${xs.length}\r\n".getBytes(UTF_8)); xs.foreach(encode(out, _))
  }

  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    while (c != '\r') {
      if (c < 0) throw new EOFException("RESP stream closed mid-line")
      sb.append(c.toChar)
      c = in.read()
    }
    if (in.read() != '\n') throw new java.io.IOException("RESP line missing \\n after \\r")
    sb.toString
  }

  private def readExact(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new EOFException(s"RESP stream closed at $off/$n bulk bytes")
      off += r
    }
    buf
  }

  /** Parse one RESP value (blocking). */
  def decode(in: InputStream): Value = {
    val t = in.read()
    if (t < 0) throw new EOFException("RESP stream closed")
    t.toChar match {
      case '+' => Simple(readLine(in))
      case '-' => Err(readLine(in))
      case ':' => Int64(readLine(in).toLong)
      case '$' =>
        val n = readLine(in).toInt
        if (n < 0) NullBulk
        else {
          val d = readExact(in, n)
          if (in.read() != '\r' || in.read() != '\n')
            throw new java.io.IOException("RESP bulk missing CRLF terminator")
          Bulk(d)
        }
      case '*' =>
        val n = readLine(in).toInt
        if (n < 0) NullArr else Arr(Vector.fill(n)(decode(in)))
      case other => throw new java.io.IOException(s"unknown RESP type byte '$other'")
    }
  }

  // --------------------------------------------------------------- client

  /** Blocking single-connection client (the per-partition unit in the
    * operator layer — ONE of these per partition, never per row). */
  final class Client(host: String, port: Int) extends AutoCloseable {
    private val sock = new Socket(host, port)
    sock.setTcpNoDelay(true)
    private val in = new BufferedInputStream(sock.getInputStream)
    private val out = new BufferedOutputStream(sock.getOutputStream)

    private def toBytes(a: Any): Array[Byte] = a match {
      case b: Array[Byte] => b
      case s: String      => s.getBytes(UTF_8)
      case n: Long        => n.toString.getBytes(UTF_8)
      case n: Int         => n.toString.getBytes(UTF_8)
      case d: Double      => d.toString.getBytes(UTF_8)
      case other => throw new IllegalArgumentException(s"unsupported arg type ${other.getClass}")
    }

    /** Send one command, read one reply. A RESP `-error` reply is raised
      * (the reference's go-redis does the same) so rows land in the error
      * facet rather than silently carrying an error string. */
    def cmd(args: Any*): Value = synchronized {
      encodeCommand(out, args.map(toBytes))
      out.flush()
      decode(in) match {
        case Err(m) => throw new RedisErrorException(m)
        case v      => v
      }
    }

    def str(args: Any*): String = cmd(args: _*) match {
      case Simple(s) => s
      case Bulk(null) => null
      case Bulk(d)   => new String(d, UTF_8)
      case Int64(n)  => n.toString
      case other     => throw new IllegalStateException(s"unexpected reply $other")
    }
    def long(args: Any*): Long = cmd(args: _*) match {
      case Int64(n) => n
      case other    => throw new IllegalStateException(s"unexpected reply $other")
    }
    def bytes(args: Any*): Array[Byte] = cmd(args: _*) match {
      case Bulk(d) => d
      case other   => throw new IllegalStateException(s"unexpected reply $other")
    }
    def arr(args: Any*): Vector[Value] = cmd(args: _*) match {
      case Arr(xs) => if (xs == null) Vector.empty else xs
      case other   => throw new IllegalStateException(s"unexpected reply $other")
    }

    /** Read one server-pushed value (SUBSCRIBE mode, where the server
      * sends without a request). */
    def readPush(): Value = decode(in)
    def push(args: Any*): Unit = synchronized {
      encodeCommand(out, args.map(toBytes)); out.flush()
    }

    override def close(): Unit = { try sock.close() catch { case _: Throwable => () } }
  }

  final class RedisErrorException(msg: String) extends RuntimeException(msg)

  // --------------------------------------------------------------- server

  private sealed trait Stored
  private final case class SStr(v: Array[Byte]) extends Stored
  private final case class SList(v: mutable.ArrayDeque[Array[Byte]]) extends Stored
  private final case class SSet(v: mutable.LinkedHashSet[String]) extends Stored
  private final case class SStream(v: mutable.ArrayBuffer[(String, Vector[(String, Array[Byte])])]) extends Stored
  private final case class SHash(v: mutable.LinkedHashMap[String, Array[Byte]]) extends Stored

  /** Minimal single-store redis server: string/list/set/stream families +
    * expiry + SCAN + pub/sub — the subset the reference connectors touch.
    * One coarse lock over the store (a fixture, not a datastore: the gate
    * measures the OPERATOR's shape; contention here is bounded by the
    * loopback round-trip either way). Thread-per-connection, all daemon —
    * the JVM must exit with main() (the proc_http lesson). */
  final class MiniRedis {
    private val store = mutable.HashMap[String, Stored]()
    private val expiry = mutable.HashMap[String, Long]() // absolute ms
    private val subs = mutable.ArrayBuffer[(Socket, String)]() // live SUBSCRIBE conns
    private var lastStreamMs = 0L
    private var lastStreamSeq = 0L
    private val running = new AtomicBoolean(true)
    private var server: ServerSocket = _
    /** EVAL script cache: sha1-hex → compiled chunk (SCRIPT LOAD / EVALSHA). */
    private val scripts = mutable.HashMap[String, Lua.Chunk]()

    def start(): MiniRedis = {
      server = new ServerSocket(0, 128, InetAddress.getLoopbackAddress)
      val acceptor = new Thread(() => {
        while (running.get()) {
          try {
            val s = server.accept()
            val th = new Thread(() => serve(s))
            th.setDaemon(true)
            th.start()
          } catch { case _: Throwable => () } // closed
        }
      }, "mini-redis-accept")
      acceptor.setDaemon(true)
      acceptor.start()
      this
    }

    def port: Int = server.getLocalPort
    def url: String = s"redis://127.0.0.1:$port"

    def stop(): Unit = {
      running.set(false)
      try server.close() catch { case _: Throwable => () }
      // snapshot under the SUBS lock (the one connection-close mutates
      // under) — iterating under store raced filterInPlace (observed CME)
      val live = subs.synchronized(subs.toVector)
      live.foreach { case (s, _) => try s.close() catch { case _: Throwable => () } }
    }

    private def k(b: Array[Byte]): String = new String(b, ISO_8859_1)
    private def kb(s: String): Array[Byte] = s.getBytes(ISO_8859_1)

    private def now(): Long = System.currentTimeMillis()

    /** Lazy expiry on access, as redis documents. Caller holds the lock. */
    private def live(key: String): Option[Stored] = {
      expiry.get(key) match {
        case Some(at) if now() >= at =>
          store.remove(key); expiry.remove(key); None
        case _ => store.get(key)
      }
    }

    private def globToRegex(glob: String): java.util.regex.Pattern = {
      val sb = new StringBuilder
      glob.foreach {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 => sb.append('\\').append(c)
        case c => sb.append(c)
      }
      java.util.regex.Pattern.compile(sb.toString, java.util.regex.Pattern.DOTALL)
    }

    private def wrongType() = Err("WRONGTYPE Operation against a key holding the wrong kind of value")

    private def handle(cmd: String, a: Vector[Array[Byte]], sock: Socket, out: OutputStream): Value =
      store.synchronized {
        cmd match {
          case "PING" => if (a.isEmpty) Simple("PONG") else Bulk(a(0))
          case "ECHO" => Bulk(a(0))
          case "QUIT" => Simple("OK")
          case "SELECT" => Simple("OK") // single-db fixture
          case "FLUSHALL" => store.clear(); expiry.clear(); Simple("OK")

          case "SET" =>
            val (key, v) = (k(a(0)), a(1))
            var i = 2; var ttlAt = -1L; var nx = false; var xx = false
            while (i < a.length) {
              k(a(i)).toUpperCase match {
                case "EX" => ttlAt = now() + k(a(i + 1)).toLong * 1000; i += 2
                case "PX" => ttlAt = now() + k(a(i + 1)).toLong; i += 2
                case "NX" => nx = true; i += 1
                case "XX" => xx = true; i += 1
                case o => return Err(s"ERR syntax error near '$o'")
              }
            }
            val exists = live(key).isDefined
            if ((nx && exists) || (xx && !exists)) NullBulk
            else {
              store(key) = SStr(v)
              if (ttlAt > 0) expiry(key) = ttlAt else expiry.remove(key)
              Simple("OK")
            }
          case "SETNX" =>
            val key = k(a(0))
            if (live(key).isDefined) Int64(0)
            else { store(key) = SStr(a(1)); expiry.remove(key); Int64(1) }
          case "GET" => live(k(a(0))) match {
            case None => NullBulk
            case Some(SStr(v)) => Bulk(v)
            case Some(_) => wrongType()
          }
          case "INCR" | "INCRBY" | "DECRBY" =>
            val key = k(a(0))
            val by = cmd match {
              case "INCR" => 1L
              case "INCRBY" => k(a(1)).toLong
              case _ => -k(a(1)).toLong
            }
            live(key) match {
              case None => store(key) = SStr(by.toString.getBytes(UTF_8)); Int64(by)
              case Some(SStr(v)) =>
                val cur = try new String(v, UTF_8).toLong
                  catch { case _: NumberFormatException =>
                    return Err("ERR value is not an integer or out of range") }
                val nv = cur + by
                store(key) = SStr(nv.toString.getBytes(UTF_8)); Int64(nv)
              case Some(_) => wrongType()
            }
          case "DEL" =>
            Int64(a.count { kk => val key = k(kk)
              val had = live(key).isDefined
              store.remove(key); expiry.remove(key); had }.toLong)
          case "EXISTS" => Int64(a.count(kk => live(k(kk)).isDefined).toLong)
          case "EXPIRE" | "PEXPIRE" =>
            val key = k(a(0))
            if (live(key).isEmpty) Int64(0)
            else {
              val ms = if (cmd == "EXPIRE") k(a(1)).toLong * 1000 else k(a(1)).toLong
              expiry(key) = now() + ms; Int64(1)
            }
          case "TTL" | "PTTL" =>
            val key = k(a(0))
            if (live(key).isEmpty) Int64(-2)
            else expiry.get(key) match {
              case None => Int64(-1)
              case Some(at) =>
                val ms = math.max(0, at - now())
                Int64(if (cmd == "TTL") (ms + 999) / 1000 else ms)
            }
          case "KEYS" =>
            val p = globToRegex(k(a(0)))
            Arr(store.keys.filter(key => live(key).isDefined && p.matcher(key).matches())
              .toVector.sorted.map(key => Bulk(kb(key))))
          case "SCAN" =>
            // Cursor = index into a sorted snapshot of the live keyspace.
            // Redis only guarantees full traversal of keys stable across
            // the scan — a sorted-snapshot cursor honors that contract.
            var i = 1; var pat: java.util.regex.Pattern = null; var count = 10
            while (i < a.length) {
              k(a(i)).toUpperCase match {
                case "MATCH" => pat = globToRegex(k(a(i + 1))); i += 2
                case "COUNT" => count = k(a(i + 1)).toInt; i += 2
                case o => return Err(s"ERR syntax error near '$o'")
              }
            }
            val all = store.keys.filter(key => live(key).isDefined).toVector.sorted
            val cur = k(a(0)).toLong.toInt
            val slice = all.slice(cur, cur + count)
            val next = if (cur + count >= all.length) 0L else (cur + count).toLong
            val hits = if (pat == null) slice else slice.filter(pat.matcher(_).matches())
            Arr(Vector(Bulk(next.toString.getBytes(UTF_8)), Arr(hits.map(key => Bulk(kb(key))))))

          case "SADD" =>
            val key = k(a(0))
            live(key) match {
              case Some(SSet(s)) => Int64(a.drop(1).count(m => s.add(k(m))).toLong)
              case None =>
                val s = mutable.LinkedHashSet[String]()
                val n = a.drop(1).count(m => s.add(k(m)))
                store(key) = SSet(s); Int64(n.toLong)
              case Some(_) => wrongType()
            }
          case "SCARD" => live(k(a(0))) match {
            case None => Int64(0)
            case Some(SSet(s)) => Int64(s.size.toLong)
            case Some(_) => wrongType()
          }
          case "SISMEMBER" => live(k(a(0))) match {
            case None => Int64(0)
            case Some(SSet(s)) => Int64(if (s.contains(k(a(1)))) 1 else 0)
            case Some(_) => wrongType()
          }
          case "SMEMBERS" => live(k(a(0))) match {
            case None => Arr(Vector.empty)
            case Some(SSet(s)) => Arr(s.toVector.map(m => Bulk(kb(m))))
            case Some(_) => wrongType()
          }

          // hashes — the redis_hash output's HMSET surface (HSET is the
          // modern multi-field form; HMSET is its deprecated alias)
          case "HSET" | "HMSET" =>
            val key = k(a(0))
            val h = live(key) match {
              case Some(SHash(m)) => m
              case None =>
                val m = mutable.LinkedHashMap[String, Array[Byte]]()
                store(key) = SHash(m); m
              case Some(_) => return wrongType()
            }
            var added = 0L
            a.drop(1).grouped(2).foreach { fv =>
              if (!h.contains(k(fv(0)))) added += 1
              h(k(fv(0))) = fv(1)
            }
            if (cmd == "HMSET") Simple("OK") else Int64(added)
          case "HGET" => live(k(a(0))) match {
            case None => NullBulk
            case Some(SHash(m)) => m.get(k(a(1))).map(Bulk(_)).getOrElse(NullBulk)
            case Some(_) => wrongType()
          }
          case "HGETALL" => live(k(a(0))) match {
            case None => Arr(Vector.empty)
            case Some(SHash(m)) =>
              Arr(m.toVector.flatMap { case (f, v) => Vector(Bulk(kb(f)), Bulk(v)) })
            case Some(_) => wrongType()
          }
          case "HDEL" => live(k(a(0))) match {
            case None => Int64(0)
            case Some(SHash(m)) => Int64(a.drop(1).count(f => m.remove(k(f)).isDefined).toLong)
            case Some(_) => wrongType()
          }
          case "HLEN" => live(k(a(0))) match {
            case None => Int64(0)
            case Some(SHash(m)) => Int64(m.size.toLong)
            case Some(_) => wrongType()
          }

          case "LPUSH" | "RPUSH" =>
            val key = k(a(0))
            val lst = live(key) match {
              case Some(SList(l)) => l
              case None =>
                val l = mutable.ArrayDeque[Array[Byte]](); store(key) = SList(l); l
              case Some(_) => return wrongType()
            }
            a.drop(1).foreach(v => if (cmd == "LPUSH") lst.prepend(v) else lst.append(v))
            store.notifyAll() // wake BLPOP waiters
            Int64(lst.length.toLong)
          case "LPOP" | "RPOP" => live(k(a(0))) match {
            case None => NullBulk
            case Some(SList(l)) =>
              if (l.isEmpty) NullBulk
              else Bulk(if (cmd == "LPOP") l.removeHead() else l.removeLast())
            case Some(_) => wrongType()
          }
          case "BLPOP" | "BRPOP" =>
            // keys..., timeoutSeconds (0 = forever); reply [key, value]
            val keys = a.dropRight(1).map(k)
            val timeoutMs = (k(a.last).toDouble * 1000).toLong
            val deadline = if (timeoutMs == 0) Long.MaxValue else now() + timeoutMs
            while (true) {
              keys.foreach { key =>
                live(key) match {
                  case Some(SList(l)) if l.nonEmpty =>
                    val v = if (cmd == "BLPOP") l.removeHead() else l.removeLast()
                    return Arr(Vector(Bulk(kb(key)), Bulk(v)))
                  case _ => ()
                }
              }
              val wait = deadline - now()
              if (wait <= 0) return NullArr
              store.wait(math.min(wait, 100L)) // re-check; pushes notifyAll
            }
            NullArr // unreachable
          case "LLEN" => live(k(a(0))) match {
            case None => Int64(0)
            case Some(SList(l)) => Int64(l.length.toLong)
            case Some(_) => wrongType()
          }
          case "LRANGE" =>
            live(k(a(0))) match {
              case None => Arr(Vector.empty)
              case Some(SList(l)) =>
                val n = l.length
                def idx(s: String): Int = { val i = s.toInt; if (i < 0) n + i else i }
                val from = math.max(0, idx(k(a(1))))
                val to = math.min(n - 1, idx(k(a(2))))
                Arr((from to to).toVector.map(i => Bulk(l(i))))
              case Some(_) => wrongType()
            }

          case "XADD" =>
            val key = k(a(0))
            val st = live(key) match {
              case Some(SStream(s)) => s
              case None =>
                val s = mutable.ArrayBuffer[(String, Vector[(String, Array[Byte])])]()
                store(key) = SStream(s); s
              case Some(_) => return wrongType()
            }
            val idArg = k(a(1))
            val id = if (idArg == "*") {
              val ms = now()
              if (ms > lastStreamMs) { lastStreamMs = ms; lastStreamSeq = 0 }
              else lastStreamSeq += 1
              s"$lastStreamMs-$lastStreamSeq"
            } else idArg
            val fields = a.drop(2).grouped(2).collect {
              case Vector(f, v) => (k(f), v)
            }.toVector
            st.append((id, fields))
            Bulk(kb(id))
          case "XLEN" => live(k(a(0))) match {
            case None => Int64(0)
            case Some(SStream(s)) => Int64(s.length.toLong)
            case Some(_) => wrongType()
          }
          case "XRANGE" =>
            live(k(a(0))) match {
              case None => Arr(Vector.empty)
              case Some(SStream(s)) =>
                val lo = k(a(1)); val hi = k(a(2))
                def cmpId(x: String, y: String): Int = {
                  val Array(xm, xs) = x.split("-", 2).padTo(2, "0")
                  val Array(ym, ys) = y.split("-", 2).padTo(2, "0")
                  val c = xm.toLong.compareTo(ym.toLong)
                  if (c != 0) c else xs.toLong.compareTo(ys.toLong)
                }
                val hit = s.filter { case (id, _) =>
                  (lo == "-" || cmpId(id, lo) >= 0) && (hi == "+" || cmpId(id, hi) <= 0)
                }
                Arr(hit.toVector.map { case (id, fs) =>
                  Arr(Vector(Bulk(kb(id)),
                    Arr(fs.flatMap { case (f, v) => Vector(Bulk(kb(f)), Bulk(v)) })))
                })
              case Some(_) => wrongType()
            }

          case "PUBLISH" =>
            val chan = k(a(0))
            val delivered = subs.synchronized {
              val targets = subs.filter(_._2 == chan)
              targets.foreach { case (s, _) =>
                try {
                  val o = s.getOutputStream
                  o.synchronized {
                    encode(o, Arr(Vector(bulk("message"), Bulk(kb(chan)), Bulk(a(1)))))
                    o.flush()
                  }
                } catch { case _: Throwable => () }
              }
              targets.length
            }
            Int64(delivered.toLong)

          case "EVAL" | "EVALSHA" =>
            val chunk = cmd match {
              case "EVAL" =>
                val src = k(a(0))
                scripts.getOrElseUpdate(sha1Hex(a(0)),
                  try Lua.compile(src)
                  catch { case e: Lua.LuaError =>
                    return Err(s"ERR Error compiling script: ${e.getMessage}") })
              case _ =>
                scripts.getOrElse(k(a(0)).toLowerCase, return Err(
                  "NOSCRIPT No matching script. Please use EVAL."))
            }
            val numKeys = k(a(1)).toInt
            if (numKeys < 0 || 2 + numKeys > a.length)
              return Err("ERR Number of keys can't be negative")
            evalScript(chunk, a.slice(2, 2 + numKeys), a.drop(2 + numKeys), sock, out)
          case "SCRIPT" =>
            k(a(0)).toUpperCase match {
              case "LOAD" =>
                val sha = sha1Hex(a(1))
                try { scripts(sha) = Lua.compile(k(a(1))); Bulk(kb(sha)) }
                catch { case e: Lua.LuaError => Err(s"ERR Error compiling script: ${e.getMessage}") }
              case "EXISTS" =>
                Arr(a.drop(1).map(s => Int64(if (scripts.contains(k(s).toLowerCase)) 1 else 0)))
              case "FLUSH" => scripts.clear(); Simple("OK")
              case other => Err(s"ERR Unknown SCRIPT subcommand '$other'")
            }

          case other => Err(s"ERR unknown command '$other'")
        }
      }

    private def sha1Hex(src: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-1").digest(src)
        .map("%02x".format(_)).mkString

    /** Run a cached Lua chunk with the redis EVAL environment. Strings
      * cross the Lua boundary through the ISO-8859-1 byte↔char bijection
      * (redis Lua strings are byte strings). Conversion rules are the
      * PUBLIC EVAL contract (redis.io/docs/manual/programmability):
      * RESP→Lua: integer→number, bulk→string, null bulk→false,
      * status→{ok=..}, error→raise (call) / {err=..} (pcall),
      * array→1-based table, null array→false. Lua→RESP: number→integer
      * (truncated), string→bulk, false→null bulk, true→:1, table with
      * err/ok→error/status, table→array up to the first nil. */
    private def evalScript(chunk: Lua.Chunk, keys: Vector[Array[Byte]],
                           argv: Vector[Array[Byte]], sock: Socket, out: OutputStream): Value = {
      import Lua._
      def lstr(b: Array[Byte]): V = LStr(new String(b, ISO_8859_1))
      def respToLua(v: Value): V = v match {
        case Int64(n) => LNum(n.toDouble)
        case Bulk(null) => False
        case Bulk(d) => lstr(d)
        case Simple(s) => { val t = new LTable; t.set(LStr("ok"), LStr(s)); t }
        case Err(m) => { val t = new LTable; t.set(LStr("err"), LStr(m)); t }
        case Arr(null) => False
        case Arr(xs) =>
          val t = new LTable
          xs.zipWithIndex.foreach { case (x, i) => t.set(LNum(i + 1), respToLua(x)) }
          t
      }
      def luaToResp(v: V): Value = v match {
        case LNum(d) => Int64(d.toLong)
        case LStr(s) => Bulk(s.getBytes(ISO_8859_1))
        case LBool(false) | LNil => NullBulk
        case LBool(true) => Int64(1)
        case t: LTable =>
          t.get(LStr("err")) match {
            case LStr(m) => Err(m)
            case _ => t.get(LStr("ok")) match {
              case LStr(m) => Simple(m)
              case _ => Arr(t.arrayPart.takeWhile(_ != LNil).map(luaToResp))
            }
          }
        case other => Err(s"ERR script returned unsupported type ${typeName(other)}")
      }
      def mkArr(items: Vector[Array[Byte]]): V = {
        val t = new LTable
        items.zipWithIndex.foreach { case (x, i) => t.set(LNum(i + 1), lstr(x)) }
        t
      }
      def doCall(args: Vector[V]): Value = {
        if (args.isEmpty) throw new LuaError(LStr("redis.call requires at least one argument"))
        val cargs = args.map {
          case LStr(s) => s.getBytes(ISO_8859_1)
          case LNum(d) => numToString(d).getBytes(ISO_8859_1)
          case other => throw new LuaError(LStr(
            s"Lua redis() command arguments must be strings or integers, got ${typeName(other)}"))
        }
        handle(new String(cargs.head, ISO_8859_1).toUpperCase, cargs.drop(1), sock, out)
      }
      val redisT = new LTable
      redisT.set(LStr("call"), LBuiltin("redis.call", { args =>
        doCall(args) match {
          case Err(m) =>
            val t = new LTable; t.set(LStr("err"), LStr(m))
            throw new LuaError(t) // aborts the script; surfaces as the error reply
          case v => Vector(respToLua(v))
        }
      }))
      redisT.set(LStr("pcall"), LBuiltin("redis.pcall", { args =>
        Vector(respToLua(doCall(args)))
      }))
      redisT.set(LStr("error_reply"), LBuiltin("redis.error_reply", { args =>
        val t = new LTable
        t.set(LStr("err"), LStr(args.headOption.map(tostring).getOrElse("error")))
        Vector(t)
      }))
      redisT.set(LStr("status_reply"), LBuiltin("redis.status_reply", { args =>
        val t = new LTable
        t.set(LStr("ok"), LStr(args.headOption.map(tostring).getOrElse("OK")))
        Vector(t)
      }))
      redisT.set(LStr("sha1hex"), LBuiltin("redis.sha1hex", { args =>
        Vector(LStr(sha1Hex(args.headOption.map(tostring).getOrElse("").getBytes(ISO_8859_1))))
      }))
      redisT.set(LStr("log"), LBuiltin("redis.log", _ => Vector.empty))
      redisT.set(LStr("LOG_DEBUG"), LNum(0)); redisT.set(LStr("LOG_VERBOSE"), LNum(1))
      redisT.set(LStr("LOG_NOTICE"), LNum(2)); redisT.set(LStr("LOG_WARNING"), LNum(3))
      try {
        val rets = Lua.run(chunk, Map(
          "KEYS" -> mkArr(keys), "ARGV" -> mkArr(argv), "redis" -> redisT))
        luaToResp(rets.headOption.getOrElse(LNil))
      } catch {
        case e: LuaError => e.value match {
          case t: LTable => t.get(LStr("err")) match {
            case LStr(m) => Err(m)
            case _ => Err(s"ERR ${e.getMessage}")
          }
          case LStr(m) => Err(if (m.split(" ").headOption.exists(w => w.nonEmpty && w.forall(_.isUpper))) m else s"ERR $m")
          case other => Err(s"ERR ${tostring(other)}")
        }
      }
    }

    private def serve(sock: Socket): Unit = {
      sock.setTcpNoDelay(true)
      val in = new BufferedInputStream(sock.getInputStream)
      val out = new BufferedOutputStream(sock.getOutputStream)
      try {
        while (true) {
          decode(in) match {
            case Arr(parts) if parts != null && parts.nonEmpty =>
              val argv = parts.map { case Bulk(d) => d; case other =>
                throw new java.io.IOException(s"command arg not bulk: $other") }
              val cmd = new String(argv.head, UTF_8).toUpperCase
              if (cmd == "SUBSCRIBE") {
                // connection enters push mode: confirm each channel, then
                // only PUBLISH traffic flows server→client
                argv.drop(1).zipWithIndex.foreach { case (ch, i) =>
                  subs.synchronized { subs.append((sock, new String(ch, ISO_8859_1))) }
                  out.synchronized {
                    encode(out, Arr(Vector(bulk("subscribe"), Bulk(ch), Int64(i + 1L))))
                    out.flush()
                  }
                }
              } else {
                val reply = handle(cmd, argv.drop(1), sock, out)
                encode(out, reply)
                out.flush()
                if (cmd == "QUIT") { sock.close(); return }
              }
            case other => throw new java.io.IOException(s"bad command frame: $other")
          }
        }
      } catch {
        case _: EOFException => ()
        case _: java.net.SocketException => ()
      } finally {
        subs.synchronized { subs.filterInPlace(_._1 ne sock) }
        try sock.close() catch { case _: Throwable => () }
      }
    }
  }
}
