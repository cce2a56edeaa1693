package graft.functions

import scala.collection.immutable.VectorMap

/** From-scratch MaxMind DB (.mmdb) binary-format reader + fixture writer,
  * implementing the PUBLIC format spec (maxmind.github.io/MaxMind-DB,
  * version 2.0). Backs the Bloblang `geoip_*` methods (reference:
  * internal/impl/maxmind/bloblang_geoip.go:55-83) without any licensed
  * MaxMind DATA — tests and the correctness gate run against synthetic
  * databases produced by [[MmdbWriter]].
  *
  * Layout: binary search tree of `node_count` nodes (2 records of
  * `record_size` bits each) → 16 zero bytes → data section → metadata
  * section introduced by the marker bytes `\xAB\xCD\xEF MaxMind.com`.
  * A record value `< node_count` is a child node index, `== node_count`
  * means "no data", `> node_count` points at `value - node_count - 16`
  * inside the data section.
  */
object Mmdb {

  // ===== decoder =============================================================

  final class Reader(bytes: Array[Byte]) extends Serializable {
    private def u8(i: Int): Int = bytes(i) & 0xFF

    val metadata: VectorMap[String, Any] = {
      val marker = Array(0xAB, 0xCD, 0xEF).map(_.toByte) ++ "MaxMind.com".getBytes("US-ASCII")
      var at = -1
      var i = bytes.length - marker.length
      while (at < 0 && i >= 0) {
        if (bytes.startsWith(marker, i)) at = i
        else i -= 1
      }
      require(at >= 0, "mmdb: metadata marker not found")
      decodeAt(at + marker.length, at + marker.length)._1 match {
        case m: VectorMap[String @unchecked, Any @unchecked] => m
        case other => throw new IllegalArgumentException(s"mmdb: metadata is ${other.getClass}")
      }
    }

    val nodeCount: Int = metadata("node_count").asInstanceOf[Long].toInt
    val recordSize: Int = metadata("record_size").asInstanceOf[Long].toInt
    val ipVersion: Int = metadata("ip_version").asInstanceOf[Long].toInt
    private val nodeBytes = recordSize * 2 / 8
    private val dataStart = nodeCount * nodeBytes + 16

    /** One search-tree record (spec §"Node Layout"). */
    private def record(node: Int, right: Boolean): Int = {
      val base = node * nodeBytes
      recordSize match {
        case 24 =>
          val o = base + (if (right) 3 else 0)
          (u8(o) << 16) | (u8(o + 1) << 8) | u8(o + 2)
        case 28 =>
          if (!right) ((u8(base + 3) >> 4) << 24) | (u8(base) << 16) | (u8(base + 1) << 8) | u8(base + 2)
          else ((u8(base + 3) & 0x0F) << 24) | (u8(base + 4) << 16) | (u8(base + 5) << 8) | u8(base + 6)
        case 32 =>
          val o = base + (if (right) 4 else 0)
          (u8(o) << 24) | (u8(o + 1) << 16) | (u8(o + 2) << 8) | u8(o + 3)
        case other => throw new IllegalArgumentException(s"mmdb: record_size $other")
      }
    }

    /** Longest-prefix lookup. Returns null when the address has no data. */
    def lookup(ip: String): Any = {
      val addr = java.net.InetAddress.getByName(ip).getAddress
      val bits: Array[Byte] =
        if (addr.length == 4 && ipVersion == 6)
          // IPv4 in an IPv6 tree sits under the first 96 zero bits
          new Array[Byte](12) ++ addr
        else if (addr.length == 16 && ipVersion == 4)
          throw new IllegalArgumentException("mmdb: IPv6 address in an IPv4 database")
        else addr
      var node = 0
      var i = 0
      val total = bits.length * 8
      while (i < total) {
        val bit = (bits(i / 8) >> (7 - i % 8)) & 1
        val rec = record(node, bit == 1)
        if (rec == nodeCount) return null
        if (rec > nodeCount) return decodeAt(dataStart + (rec - nodeCount - 16), dataStart)._1
        node = rec
        i += 1
      }
      null
    }

    /** Decode one value at absolute offset `at`; `sectionStart` anchors
      * pointer resolution (data-section start, or metadata start for the
      * metadata map, which the spec says contains no pointers). */
    private def decodeAt(at: Int, sectionStart: Int): (Any, Int) = {
      val ctrl = u8(at)
      var typ = ctrl >> 5
      var i = at + 1
      if (typ == 0) { typ = u8(i) + 7; i += 1 } // extended type

      if (typ == 1) { // pointer — the size bits encode the pointer width
        val ss = (ctrl >> 3) & 0x3
        val vvv = ctrl & 0x7
        val (ptr, next) = ss match {
          case 0 => ((vvv << 8) | u8(i), i + 1)
          case 1 => (((vvv << 16) | (u8(i) << 8) | u8(i + 1)) + 2048, i + 2)
          case 2 => (((vvv << 24) | (u8(i) << 16) | (u8(i + 1) << 8) | u8(i + 2)) + 526336, i + 3)
          case _ => (((u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)), i + 4)
        }
        return (decodeAt(sectionStart + ptr, sectionStart)._1, next)
      }

      var size = ctrl & 0x1F
      if (size == 29) { size = 29 + u8(i); i += 1 }
      else if (size == 30) { size = 285 + (u8(i) << 8) + u8(i + 1); i += 2 }
      else if (size == 31) { size = 65821 + (u8(i) << 16) + (u8(i + 1) << 8) + u8(i + 2); i += 3 }

      typ match {
        case 2 => (new String(bytes, i, size, "UTF-8"), i + size)
        case 3 =>
          require(size == 8, "mmdb: double must be 8 bytes")
          (java.lang.Double.longBitsToDouble(be(i, 8)), i + 8)
        case 4 => (graft.blob.Bloblang.VBytes(bytes.slice(i, i + size)), i + size)
        case 5 | 6 | 9 => (be(i, size), i + size) // uint16/uint32/uint64 → Long
        case 8 => // int32: big-endian two's complement, 0-4 bytes
          val v = be(i, size)
          val shift = 64 - size * 8
          ((if (size == 0) 0L else (v << shift) >> shift), i + size)
        case 10 => // uint128 → decimal string (exceeds Long)
          (BigInt(1, bytes.slice(i, i + size)).toString, i + size)
        case 7 => // map: size = entry count; keys are strings (or pointers)
          var m = VectorMap.empty[String, Any]
          var o = i
          for (_ <- 0 until size) {
            val (k, o2) = decodeAt(o, sectionStart)
            val (v, o3) = decodeAt(o2, sectionStart)
            m = m.updated(k.asInstanceOf[String], v)
            o = o3
          }
          (m, o)
        case 11 => // array
          val b = Vector.newBuilder[Any]
          var o = i
          for (_ <- 0 until size) {
            val (v, o2) = decodeAt(o, sectionStart)
            b += v
            o = o2
          }
          (b.result(), o)
        case 14 => (size == 1, i) // boolean: size IS the value, no payload
        case 15 =>
          require(size == 4, "mmdb: float must be 4 bytes")
          (java.lang.Float.intBitsToFloat(be(i, 4).toInt).toDouble, i + 4)
        case other => throw new IllegalArgumentException(s"mmdb: type $other unsupported")
      }
    }

    private def be(i: Int, n: Int): Long = {
      var v = 0L
      for (j <- 0 until n) v = (v << 8) | u8(i + j)
      v
    }

    /** Enumerate the IPv4 search tree as sorted DISJOINT [start, end]
      * ranges with their decoded records — the trie's leaves, so nested
      * networks (a /16 carved out of a /9) arrive already split by
      * longest-prefix. Driver-side extraction for the broadcast
      * range-join geoip twin; each distinct data offset decodes once. */
    def ranges(): Vector[(Long, Long, Any)] = {
      require(ipVersion == 4, "mmdb ranges(): IPv4 trees only")
      val out = Vector.newBuilder[(Long, Long, Any)]
      val cache = scala.collection.mutable.Map.empty[Int, Any]
      def walk(node: Int, depth: Int, prefix: Long): Unit = {
        if (depth >= 32) return
        for (right <- Seq(false, true)) {
          val p = (prefix << 1) | (if (right) 1L else 0L)
          val rec = record(node, right)
          if (rec < nodeCount) walk(rec, depth + 1, p)
          else if (rec > nodeCount) {
            val off = dataStart + (rec - nodeCount - 16)
            val data = cache.getOrElseUpdate(off, decodeAt(off, dataStart)._1)
            val width = 32 - depth - 1
            val lo = p << width
            out += ((lo, lo + ((1L << width) - 1), data))
          } // rec == nodeCount: miss subtree, no range
        }
      }
      walk(0, 0, 0L)
      out.result()
    }
  }

  // Reader cache: one parse per path per JVM (executors reuse across rows).
  private val readers = new java.util.concurrent.ConcurrentHashMap[String, Reader]()
  def reader(path: String): Reader =
    readers.computeIfAbsent(path, p => new Reader(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))))

  /** Bloblang `geoip_*` entry: look `ip` up in the db at `path`. Returns
    * the record as the interpreter's value model; errors on a miss (the
    * reference's methods error when an address is not in the database —
    * catchable with `.catch()`). */
  def lookup(path: String, ip: String): Any = {
    val v = reader(path).lookup(ip)
    if (v == null) throw new graft.blob.Bloblang.BlobError(s"geoip: no record for $ip")
    v
  }

  // ===== fixture writer ======================================================

  /** Minimal mmdb writer for synthetic test databases (the reference
    * ecosystem's equivalent is the separate mmdbwriter Go module — data
    * files themselves are MaxMind-licensed and never shipped). Supports
    * the value types the decoder handles, longest-prefix nesting via
    * node push-down, and record deduplication through data-section
    * pointers (which exercises the reader's pointer path). */
  final class Writer(ipVersion: Int = 4, recordSize: Int = 32, databaseType: String = "GeoLite2-City-Test") {
    require(Set(24, 28, 32)(recordSize), "record_size must be 24/28/32")
    private sealed trait Slot
    private case object Miss extends Slot
    private final case class Child(i: Int) extends Slot
    private final case class Data(off: Int) extends Slot
    private val nodes = scala.collection.mutable.ArrayBuffer[(Array[Slot])]((Array[Slot](Miss, Miss)))
    private val data = new java.io.ByteArrayOutputStream()
    private val dedupe = scala.collection.mutable.Map.empty[String, Int]

    def insert(cidr: String, record: Map[String, Any]): Unit = {
      val Array(ipS, lenS) = cidr.split('/')
      val addr = java.net.InetAddress.getByName(ipS).getAddress
      require((addr.length == 4) == (ipVersion == 4), s"mmdb writer: $cidr vs ip_version $ipVersion")
      val prefixLen = lenS.toInt
      val off = writeRecord(record)
      var node = 0
      for (d <- 0 until prefixLen - 1) {
        val bit = (addr(d / 8) >> (7 - d % 8)) & 1
        nodes(node)(bit) match {
          case Child(i) => node = i
          case Data(o) =>
            // push the covering record down: both children inherit it
            nodes += Array[Slot](Data(o), Data(o))
            nodes(node)(bit) = Child(nodes.length - 1)
            node = nodes.length - 1
          case Miss =>
            nodes += Array[Slot](Miss, Miss)
            nodes(node)(bit) = Child(nodes.length - 1)
            node = nodes.length - 1
        }
      }
      val lastBit = (addr((prefixLen - 1) / 8) >> (7 - (prefixLen - 1) % 8)) & 1
      nodes(node)(lastBit) = Data(off)
    }

    private def writeRecord(v: Any): Int = {
      val enc = encode(v)
      val key = java.util.Base64.getEncoder.encodeToString(enc)
      dedupe.get(key) match {
        case Some(off) =>
          // emit a 4-byte pointer to the first copy instead of repeating
          val p = new java.io.ByteArrayOutputStream()
          p.write((1 << 5) | (3 << 3)) // type=pointer, ss=3
          p.write((off >> 24) & 0xFF); p.write((off >> 16) & 0xFF)
          p.write((off >> 8) & 0xFF); p.write(off & 0xFF)
          val at = data.size(); data.write(p.toByteArray); at
        case None =>
          val at = data.size()
          dedupe(key) = at
          data.write(enc)
          at
      }
    }

    private def ctrl(typ: Int, size: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val (top, ext) = if (typ <= 7) (typ, -1) else (0, typ - 7)
      if (size < 29) out.write((top << 5) | size)
      else if (size < 285 + 29) { out.write((top << 5) | 29); out.write(size - 29) }
      else { out.write((top << 5) | 30); val s = size - 285; out.write((s >> 8) & 0xFF); out.write(s & 0xFF) }
      if (ext >= 0) out.write(ext)
      out.toByteArray
    }

    private[Mmdb] def encode(v: Any): Array[Byte] = v match {
      case s: String =>
        val b = s.getBytes("UTF-8"); ctrl(2, b.length) ++ b
      case d: Double =>
        val bits = java.lang.Double.doubleToLongBits(d)
        ctrl(3, 8) ++ Array.tabulate(8)(j => ((bits >> (56 - 8 * j)) & 0xFF).toByte)
      case l: Long =>
        if (l < 0) { // int32
          ctrl(8, 4) ++ Array.tabulate(4)(j => ((l >> (24 - 8 * j)) & 0xFF).toByte)
        } else {
          var n = 0; while (n < 8 && (l >> (8 * n)) != 0) n += 1
          val typ = if (l < 65536) 5 else if (l < (1L << 32)) 6 else 9
          ctrl(typ, n) ++ Array.tabulate(n)(j => ((l >> (8 * (n - 1 - j))) & 0xFF).toByte)
        }
      case i: Int => encode(i.toLong)
      case b: Boolean => ctrl(14, if (b) 1 else 0)
      case a: Seq[_] =>
        a.map(encode).foldLeft(ctrl(11, a.size))(_ ++ _)
      case m: Map[String @unchecked, Any @unchecked] =>
        m.toSeq.map { case (k, mv) => encode(k) ++ encode(mv) }
          .foldLeft(ctrl(7, m.size))(_ ++ _)
      case other => throw new IllegalArgumentException(s"mmdb writer: ${other.getClass}")
    }

    def build(): Array[Byte] = {
      val nodeCount = nodes.length
      val out = new java.io.ByteArrayOutputStream()
      def recValue(s: Slot): Int = s match {
        case Miss => nodeCount
        case Child(i) => i
        case Data(off) => nodeCount + 16 + off
      }
      for (n <- nodes) {
        val (l, r) = (recValue(n(0)), recValue(n(1)))
        recordSize match {
          case 24 =>
            out.write((l >> 16) & 0xFF); out.write((l >> 8) & 0xFF); out.write(l & 0xFF)
            out.write((r >> 16) & 0xFF); out.write((r >> 8) & 0xFF); out.write(r & 0xFF)
          case 28 =>
            out.write((l >> 16) & 0xFF); out.write((l >> 8) & 0xFF); out.write(l & 0xFF)
            out.write((((l >> 24) & 0x0F) << 4) | ((r >> 24) & 0x0F))
            out.write((r >> 16) & 0xFF); out.write((r >> 8) & 0xFF); out.write(r & 0xFF)
          case 32 =>
            for (v <- Seq(l, r)) {
              out.write((v >> 24) & 0xFF); out.write((v >> 16) & 0xFF)
              out.write((v >> 8) & 0xFF); out.write(v & 0xFF)
            }
        }
      }
      out.write(new Array[Byte](16)) // data section separator
      out.write(data.toByteArray)
      out.write(Array(0xAB, 0xCD, 0xEF).map(_.toByte))
      out.write("MaxMind.com".getBytes("US-ASCII"))
      out.write(encode(Map[String, Any](
        "node_count" -> nodeCount.toLong,
        "record_size" -> recordSize.toLong,
        "ip_version" -> ipVersion.toLong,
        "database_type" -> databaseType,
        "languages" -> Seq("en"),
        "binary_format_major_version" -> 2L,
        "binary_format_minor_version" -> 0L,
        "build_epoch" -> 1700000000L,
        "description" -> Map("en" -> "synthetic test db"))))
      out.toByteArray
    }

    def writeTo(path: java.nio.file.Path): Unit =
      java.nio.file.Files.write(path, build())
  }

  /** Deterministic city-flavor fixture shared by the gate query and specs:
    *   10.0.0.0/9   → city Alpha / AA / asn 64500 / lat 1.25
    *   10.42.0.0/16 → city Gamma / GG / asn 64502 / lat -3.5   (nested!)
    *   10.128.0.0/9 → city Beta  / BB / asn 64501 / lat 2.5
    * Written once per JVM to the temp dir; at cluster scale the file would
    * ship via SparkContext.addFile (local[…] shares the filesystem). */
  lazy val cityFixturePath: String = {
    val f = graft.core.TempDir.deleteTreeOnExit(
      java.nio.file.Files.createTempFile("graft_geoip_city", ".mmdb"))
    val w = new Writer(ipVersion = 4, recordSize = 32)
    def rec(city: String, iso: String, asn: Long, lat: Double): Map[String, Any] = Map(
      "city" -> Map("names" -> Map("en" -> city)),
      "country" -> Map("iso_code" -> iso, "names" -> Map("en" -> (city + "land"))),
      "location" -> Map("latitude" -> lat, "longitude" -> (lat * 2.0)),
      "autonomous_system_number" -> asn)
    w.insert("10.0.0.0/9", rec("Alpha", "AA", 64500L, 1.25))
    w.insert("10.42.0.0/16", rec("Gamma", "GG", 64502L, -3.5))
    w.insert("10.128.0.0/9", rec("Beta", "BB", 64501L, 2.5))
    w.writeTo(f)
    f.toString
  }

  // ===== compiled twin: broadcast range join =================================

  /** The database's IPv4 ranges as a DataFrame `(net_start, net_end,
    * data)` with the record marshaled to JSON — the driver-side extraction
    * for [[geoipRangeJoin]]. GeoIP databases are dimension-sized (GeoLite2
    * city ≈ 3M ranges ≈ broadcastable MBs); the fact table never moves. */
  def rangesDf(spark: org.apache.spark.sql.SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    reader(path).ranges()
      .map { case (lo, hi, data) => (lo, hi, graft.blob.Interp.marshalJson(data)) }
      .toDF("net_start", "net_end", "data")
  }

  /** Compiled geoip enrichment: a BUCKETIZED broadcast range join, the
    * Column twin of the interpreter's per-row `geoip_*` tree walk. Each
    * range explodes into the /bucketBits buckets it spans and the join is
    * a plain broadcast HASH join on the bucket plus a residual
    * between-filter — whole-stage codegen, no per-row UDF, no
    * nested-loop scan of the range table. `ipInt` must be the numeric
    * IPv4 (see [[ipv4ToLong]]). Adds `data` (the matched record as JSON;
    * null when the address is not in the database — the interpreter's
    * error channel maps to SQL null here). */
  def geoipRangeJoin(df: org.apache.spark.sql.DataFrame, ipInt: org.apache.spark.sql.Column,
                     spark: org.apache.spark.sql.SparkSession, path: String,
                     bucketBits: Int = 12): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val shift = 32 - bucketBits
    val dim = rangesDf(spark, path)
      .withColumn("_rbucket", explode(sequence(
        shiftright(col("net_start"), shift), shiftright(col("net_end"), shift))))
    val fact = df.withColumn("_ip", ipInt)
      .withColumn("_fbucket", shiftright(col("_ip"), shift))
    // bucket equality is the hash-join key; the between is the residual
    // join condition. Ranges are disjoint (trie leaves), so at most one
    // dim row matches — no fact duplication; misses keep their row with
    // null data (left join), the interpreter's error channel as SQL null.
    fact.join(broadcast(dim),
        fact("_fbucket") === dim("_rbucket") &&
          fact("_ip").between(dim("net_start"), dim("net_end")), "left")
      .drop("_fbucket", "_rbucket", "_ip", "net_start", "net_end")
  }

  /** Dotted-quad IPv4 string → Long, as native Columns. */
  def ipv4ToLong(ip: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.aggregate(
      org.apache.spark.sql.functions.split(ip, "\\."),
      org.apache.spark.sql.functions.lit(0L),
      (acc, x) => acc * 256L + x.cast("long"))
}
