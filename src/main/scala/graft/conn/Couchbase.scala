package graft.conn

import java.io.DataInputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.concurrent.{TrieMap => CTrieMap}

/** Couchbase connector (impl/couchbase/{processor,cache,output}.go — the
  * reference wraps gocb; its operation set is get / insert / upsert /
  * replace / remove / increment / decrement) over the PUBLIC Couchbase
  * KV wire protocol, which is the memcached BINARY protocol: 24-byte
  * request/response headers (magic 0x80/0x81, opcode, key/extras
  * lengths, status, opaque, CAS), SET-family extras (flags + expiry),
  * arithmetic extras (delta + initial + expiry), plus the
  * Couchbase-specific session commands — SASL PLAIN authentication
  * (opcodes 0x20-0x22) and SELECT_BUCKET (0x89) — gating every data op.
  */
object Couchbase {

  /** the RFC 4616 SASL-PLAIN NUL separator, kept out of literals so the
    * source stays a text file to git (see the BeanstalkdSpec lesson) */
  private val SaslNul: Char = 0.toChar

  // opcodes (public memcached binary / couchbase KV values)
  private val OpGet = 0x00
  private val OpSet = 0x01
  private val OpAdd = 0x02
  private val OpReplace = 0x03
  private val OpDelete = 0x04
  private val OpIncrement = 0x05
  private val OpDecrement = 0x06
  private val OpSaslListMechs = 0x20
  private val OpSaslAuth = 0x21
  private val OpSelectBucket = 0x89

  // status codes
  private val StOk = 0x0000
  private val StKeyNotFound = 0x0001
  private val StKeyExists = 0x0002
  private val StAuthError = 0x0020
  private val StUnknownCommand = 0x0081
  private val StAccessDenied = 0x0024

  final case class Packet(magic: Int, opcode: Int, status: Int, key: Array[Byte],
                          extras: Array[Byte], value: Array[Byte], opaque: Int, cas: Long)

  private def writePacket(out: java.io.OutputStream, magic: Int, opcode: Int,
                          statusOrVbucket: Int, key: Array[Byte], extras: Array[Byte],
                          value: Array[Byte], opaque: Int = 0, cas: Long = 0): Unit = {
    val total = key.length + extras.length + value.length
    val b = ByteBuffer.allocate(24 + total)
    b.put(magic.toByte).put(opcode.toByte).putShort(key.length.toShort)
      .put(extras.length.toByte).put(0.toByte).putShort(statusOrVbucket.toShort)
      .putInt(total).putInt(opaque).putLong(cas)
    b.put(extras).put(key).put(value)
    out.write(b.array()); out.flush()
  }

  private def readPacket(in: DataInputStream): Packet = {
    val h = new Array[Byte](24); in.readFully(h)
    val b = ByteBuffer.wrap(h)
    val magic = b.get() & 0xff
    val opcode = b.get() & 0xff
    val keyLen = b.getShort() & 0xffff
    val extrasLen = b.get() & 0xff
    b.get() // dataType
    val status = b.getShort() & 0xffff
    val total = b.getInt()
    val opaque = b.getInt()
    val cas = b.getLong()
    val body = new Array[Byte](total); in.readFully(body)
    Packet(magic, opcode, status,
      java.util.Arrays.copyOfRange(body, extrasLen, extrasLen + keyLen),
      java.util.Arrays.copyOfRange(body, 0, extrasLen),
      java.util.Arrays.copyOfRange(body, extrasLen + keyLen, total), opaque, cas)
  }

  // ------------------------------------------------------------- fixture
  private final case class Doc(value: Array[Byte], flags: Int, cas: Long)

  final class MiniCouchbase(username: String, password: String, bucket: String) {
    private val docs = new CTrieMap[String, Doc]()
    private val casGen = new java.util.concurrent.atomic.AtomicLong(1)
    @volatile private var listener: Wire.Listener = _
    def address: String = s"127.0.0.1:${listener.port}"
    def docCount: Int = docs.size

    private def serve(c: Wire.Conn): Unit = {
      val (in, out) = (c.in, c.out)
      var authed = false
      var bucketSelected = false
      def reply(req: Packet, status: Int, extras: Array[Byte] = Array.emptyByteArray,
                value: Array[Byte] = Array.emptyByteArray, cas: Long = 0): Unit =
        writePacket(out, 0x81, req.opcode, status, Array.emptyByteArray, extras, value, req.opaque, cas)
      while (true) {
        val p = readPacket(in)
        require(p.magic == 0x80, "expected request magic 0x80")
        p.opcode match {
          case OpSaslListMechs => reply(p, StOk, value = "PLAIN".getBytes(UTF_8))
          case OpSaslAuth =>
            // PLAIN: authzid NUL authcid NUL password
            val parts = new String(p.value, UTF_8).split(SaslNul)
            if (new String(p.key, UTF_8) == "PLAIN" && parts.length >= 3 &&
                parts(1) == username && parts(2) == password) {
              authed = true; reply(p, StOk, value = "Authenticated".getBytes(UTF_8))
            } else reply(p, StAuthError, value = "Auth failure".getBytes(UTF_8))
          case OpSelectBucket =>
            if (!authed) reply(p, StAccessDenied)
            else if (new String(p.key, UTF_8) == bucket) { bucketSelected = true; reply(p, StOk) }
            else reply(p, StAccessDenied)
          case _ if !authed || !bucketSelected => reply(p, StAccessDenied)
          case OpGet =>
            val k = new String(p.key, UTF_8)
            docs.get(k) match {
              case Some(d) => reply(p, StOk,
                extras = ByteBuffer.allocate(4).putInt(d.flags).array(), value = d.value, cas = d.cas)
              case None => reply(p, StKeyNotFound)
            }
          case OpSet | OpAdd | OpReplace =>
            val k = new String(p.key, UTF_8)
            val flags = if (p.extras.length >= 4) ByteBuffer.wrap(p.extras).getInt else 0
            val cas = casGen.incrementAndGet()
            val existed = docs.contains(k)
            p.opcode match {
              case OpAdd if existed => reply(p, StKeyExists)
              case OpReplace if !existed => reply(p, StKeyNotFound)
              case _ => docs.put(k, Doc(p.value, flags, cas)); reply(p, StOk, cas = cas)
            }
          case OpDelete =>
            if (docs.remove(new String(p.key, UTF_8)).isDefined) reply(p, StOk)
            else reply(p, StKeyNotFound)
          case OpIncrement | OpDecrement =>
            val k = new String(p.key, UTF_8)
            val eb = ByteBuffer.wrap(p.extras)
            val delta = eb.getLong; val initial = eb.getLong
            val cur = docs.get(k).map(d => new String(d.value, UTF_8).toLong)
            val next = cur match {
              case Some(v) => if (p.opcode == OpIncrement) v + delta else math.max(0L, v - delta)
              case None => initial
            }
            val cas = casGen.incrementAndGet()
            docs.put(k, Doc(next.toString.getBytes(UTF_8), 0, cas))
            reply(p, StOk, value = ByteBuffer.allocate(8).putLong(next).array(), cas = cas)
          case _ => reply(p, StUnknownCommand)
        }
      }
    }

    def start(): this.type = { listener = Wire.listen("mini-couchbase")(serve); this }
    def stop(): Unit = if (listener != null) listener.close()
  }

  // -------------------------------------------------------------- client
  final class Client(address: String, username: String, password: String,
                     bucket: String) extends AutoCloseable {
    private val conn = Wire.connect("couchbase", address)
    private val in = conn.in
    private val out = conn.out

    private def roundTrip(opcode: Int, key: Array[Byte], extras: Array[Byte],
                          value: Array[Byte]): Packet = synchronized {
      writePacket(out, 0x80, opcode, 0, key, extras, value)
      readPacket(in)
    }

    locally { // SASL PLAIN + SELECT_BUCKET session setup (gocb's connect path)
      val mechs = roundTrip(OpSaslListMechs, Array.emptyByteArray, Array.emptyByteArray, Array.emptyByteArray)
      require(new String(mechs.value, UTF_8).contains("PLAIN"), "PLAIN mechanism unavailable")
      val auth = roundTrip(OpSaslAuth, "PLAIN".getBytes(UTF_8), Array.emptyByteArray,
        s"$SaslNul$username$SaslNul$password".getBytes(UTF_8))
      require(auth.status == StOk, s"SASL auth failed: status ${auth.status}")
      val sel = roundTrip(OpSelectBucket, bucket.getBytes(UTF_8), Array.emptyByteArray, Array.emptyByteArray)
      require(sel.status == StOk, s"select bucket failed: status ${sel.status}")
    }

    def get(key: String): Option[Array[Byte]] = {
      val r = roundTrip(OpGet, key.getBytes(UTF_8), Array.emptyByteArray, Array.emptyByteArray)
      if (r.status == StKeyNotFound) None
      else { require(r.status == StOk, s"get: status ${r.status}"); Some(r.value) }
    }
    private def store(opcode: Int, key: String, value: Array[Byte], expirySec: Int): Int = {
      val extras = ByteBuffer.allocate(8).putInt(0).putInt(expirySec).array()
      roundTrip(opcode, key.getBytes(UTF_8), extras, value).status
    }
    def upsert(key: String, value: Array[Byte], expirySec: Int = 0): Unit =
      require(store(OpSet, key, value, expirySec) == StOk, "upsert failed")
    def insert(key: String, value: Array[Byte], expirySec: Int = 0): Boolean =
      store(OpAdd, key, value, expirySec) match {
        case StOk => true
        case StKeyExists => false
        case st => throw new IllegalArgumentException(s"insert: status $st")
      }
    def replace(key: String, value: Array[Byte]): Boolean =
      store(OpReplace, key, value, 0) match {
        case StOk => true
        case StKeyNotFound => false
        case st => throw new IllegalArgumentException(s"replace: status $st")
      }
    def remove(key: String): Boolean = {
      val r = roundTrip(OpDelete, key.getBytes(UTF_8), Array.emptyByteArray, Array.emptyByteArray)
      r.status == StOk
    }
    def counter(key: String, delta: Long, initial: Long = 0, decrement: Boolean = false): Long = {
      val extras = ByteBuffer.allocate(20).putLong(delta).putLong(initial).putInt(0).array()
      val r = roundTrip(if (decrement) OpDecrement else OpIncrement,
        key.getBytes(UTF_8), extras, Array.emptyByteArray)
      require(r.status == StOk, s"counter: status ${r.status}")
      ByteBuffer.wrap(r.value).getLong
    }
    override def close(): Unit = conn.close()
  }

  /** cache.go: bucket as KV — upsert set, insert add (KEY_EXISTS → false) */
  final class Cache(address: String, username: String, password: String,
                    bucket: String, prefix: String = "")
      extends graft.operators.CacheBackends.KvBackend {
    private val c = new Client(address, username, password, bucket)
    def get(key: String): Option[Array[Byte]] = c.get(prefix + key)
    def set(key: String, value: Array[Byte], ttlMs: Long = 0): Unit =
      c.upsert(prefix + key, value, (ttlMs / 1000).toInt)
    def add(key: String, value: Array[Byte], ttlMs: Long = 0): Boolean =
      c.insert(prefix + key, value, (ttlMs / 1000).toInt)
    def delete(key: String): Unit = { c.remove(prefix + key); () }
    override def close(): Unit = c.close()
  }
}
