package graft.conn

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** `memcached` cache backend (internal/impl/memcached/cache.go:24 — the
  * reference wraps gomemcache) — both ends from the PUBLIC memcached text
  * protocol: `get <key>` → `VALUE <key> <flags> <bytes>\r\n<data>\r\nEND`,
  * `set|add|delete <key> ...` → `STORED`/`NOT_STORED`/`DELETED`/
  * `NOT_FOUND`. `add` maps to the reference cache's Add (fail-if-present)
  * and `delete` to Delete; TTLs ride the exptime field (relative seconds,
  * the protocol's <= 30-day rule — absolute epoch beyond that — handled
  * for the relative case the connector uses).
  *
  * The [[MiniMemcached]] fixture server implements the same subset with
  * lazy expiry; the client is a [[graft.operators.CacheBackends.KvBackend]]
  * so it slots into multilevel stacks and the cache processor exactly like
  * the redis/file/lru backends. One client per partition in Spark use.
  */
object Memcached {

  // ------------------------------------------------------------- server

  /** Minimal memcached server: get/set/add/delete/incr + lazy expiry. */
  final class MiniMemcached {
    private val store = mutable.HashMap[String, (Array[Byte], Long)]() // value, expireAtMs (0 = never)
    private var listener: Wire.Listener = _

    def start(): MiniMemcached = { listener = Wire.listen("mini-memcached")(serve); this }

    def port: Int = listener.port
    def address: String = s"127.0.0.1:$port"
    def stop(): Unit = listener.close()

    private def now() = System.currentTimeMillis()
    private def liveValue(key: String): Option[Array[Byte]] = store.get(key) match {
      case Some((_, at)) if at > 0 && now() >= at => store.remove(key); None
      case Some((v, _)) => Some(v)
      case None => None
    }
    /** exptime per the protocol: 0 = never, <= 30 days = relative
      * seconds, otherwise an absolute unix timestamp. */
    private def expireAt(exptime: Long): Long =
      if (exptime == 0) 0L
      else if (exptime <= 60L * 60 * 24 * 30) now() + exptime * 1000
      else exptime * 1000

    private def serve(c: Wire.Conn): Unit = {
      val (in, out) = (c.in, c.out)
      def reply(s: String): Unit = { out.write((s + "\r\n").getBytes(UTF_8)); out.flush() }
      while (true) {
        val parts = Wire.readLineCrlf(in, "memcached").split(" ")
        parts(0) match {
          case "get" | "gets" =>
            store.synchronized {
              parts.drop(1).foreach { key =>
                liveValue(key).foreach { v =>
                  out.write(s"VALUE $key 0 ${v.length}\r\n".getBytes(UTF_8))
                  out.write(v); out.write('\r'); out.write('\n')
                }
              }
            }
            reply("END")
          case "set" | "add" | "replace" =>
            // <cmd> <key> <flags> <exptime> <bytes>
            val key = parts(1); val exptime = parts(3).toLong; val n = parts(4).toInt
            val data = Wire.readExact(in, n, "memcached")
            if (in.read() != '\r' || in.read() != '\n')
              throw new java.io.IOException("data block missing CRLF")
            val stored = store.synchronized {
              val present = liveValue(key).isDefined
              val ok = parts(0) match {
                case "add" => !present
                case "replace" => present
                case _ => true
              }
              if (ok) store(key) = (data, expireAt(exptime))
              ok
            }
            reply(if (stored) "STORED" else "NOT_STORED")
          case "delete" =>
            val had = store.synchronized {
              val h = liveValue(parts(1)).isDefined
              store.remove(parts(1)); h
            }
            reply(if (had) "DELETED" else "NOT_FOUND")
          case "version" => reply("VERSION mini-0.1")
          case "quit" => return
          case other => reply("ERROR")
        }
      }
    }
  }

  // ------------------------------------------------------------- client

  /** Client implementing the cache-resource verbs over the text protocol. */
  final class Cache(address: String, prefix: String = "", defaultTtlMs: Long = 0)
      extends graft.operators.CacheBackends.KvBackend {
    private val conn = Wire.connect("memcached", address)
    private val in = conn.in
    private val out = conn.out
    private def pk(key: String): String = {
      val k = prefix + key
      require(!k.contains(' ') && !k.contains('\n') && k.length <= 250,
        s"invalid memcached key: $k")
      k
    }
    private def exptime(ttlMs: Long): Long = {
      val t = if (ttlMs > 0) ttlMs else defaultTtlMs
      if (t <= 0) 0 else math.max(1, t / 1000) // protocol granularity: seconds
    }

    private def storeCmd(cmd: String, key: String, value: Array[Byte], ttlMs: Long): Boolean =
      synchronized {
        out.write(s"$cmd ${pk(key)} 0 ${exptime(ttlMs)} ${value.length}\r\n".getBytes(UTF_8))
        out.write(value); out.write('\r'); out.write('\n')
        out.flush()
        Wire.readLineCrlf(in, "memcached") match {
          case "STORED" => true
          case "NOT_STORED" => false
          case other => throw new java.io.IOException(s"$cmd: $other")
        }
      }

    def get(key: String): Option[Array[Byte]] = synchronized {
      out.write(s"get ${pk(key)}\r\n".getBytes(UTF_8))
      out.flush()
      var result: Option[Array[Byte]] = None
      var done = false
      while (!done) {
        val line = Wire.readLineCrlf(in, "memcached")
        if (line == "END") done = true
        else if (line.startsWith("VALUE ")) {
          val n = line.split(" ")(3).toInt
          val data = Wire.readExact(in, n, "memcached")
          if (in.read() != '\r' || in.read() != '\n')
            throw new java.io.IOException("VALUE data missing CRLF")
          result = Some(data)
        } else throw new java.io.IOException(s"get: $line")
      }
      result
    }
    def set(key: String, value: Array[Byte], ttlMs: Long = 0): Unit = {
      storeCmd("set", key, value, ttlMs); ()
    }
    def add(key: String, value: Array[Byte], ttlMs: Long = 0): Boolean =
      storeCmd("add", key, value, ttlMs)
    def delete(key: String): Unit = synchronized {
      out.write(s"delete ${pk(key)}\r\n".getBytes(UTF_8))
      out.flush()
      Wire.readLineCrlf(in, "memcached") match {
        case "DELETED" | "NOT_FOUND" => ()
        case other => throw new java.io.IOException(s"delete: $other")
      }
    }
    override def close(): Unit = conn.close()
  }
}
