package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.udf

/** Format codecs (SURVEY §2.3 encoding/compression + binary formats).
  *
  * Compression mirrors the reference's `compress`/`decompress`
  * (internal/impl/pure/bloblang_encoding.go:9-50): gzip + deflate via JDK,
  * zstd/lz4/snappy via the codec libraries Spark itself ships for shuffle
  * compression (zstd-jni, lz4-java, snappy-java — already on every
  * executor's classpath, no new dependencies).
  *
  * MessagePack (reference: internal/impl/msgpack/bloblang.go:30,65) is a
  * minimal self-contained encoder/decoder for the JSON-ish subset bento
  * handles (nil/bool/int/double/string/array/map) — enough for
  * `format_msgpack`/`parse_msgpack` round-trips.
  *
  * YAML parse (reference: methods_strings.go:1169) uses snakeyaml-engine
  * (shipped with Spark) and re-emits JSON so the result flows into the
  * existing `get_json_object`/`from_json` path.
  *
  * All of these are executor-side scalar UDFs on the long tail — never in
  * the hot aggregation path (the oracle queries wrap them in round-trips).
  */
object Codecs {

  // ===== compression =========================================================

  private def drain(in: java.io.InputStream): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  val zstdCompress: Array[Byte] => Array[Byte] = in =>
    if (in == null) null else com.github.luben.zstd.Zstd.compress(in)
  val zstdDecompress: Array[Byte] => Array[Byte] = in =>
    if (in == null) null else {
      val size = com.github.luben.zstd.Zstd.getFrameContentSize(in)
      com.github.luben.zstd.Zstd.decompress(in, size.toInt)
    }

  val lz4Compress: Array[Byte] => Array[Byte] = in =>
    if (in == null) null else {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
      out.write(in); out.close(); bos.toByteArray
    }
  val lz4Decompress: Array[Byte] => Array[Byte] = in =>
    if (in == null) null
    else drain(new net.jpountz.lz4.LZ4FrameInputStream(new java.io.ByteArrayInputStream(in)))

  val snappyCompress: Array[Byte] => Array[Byte] = in =>
    if (in == null) null else org.xerial.snappy.Snappy.compress(in)
  val snappyDecompress: Array[Byte] => Array[Byte] = in =>
    if (in == null) null else org.xerial.snappy.Snappy.uncompress(in)

  // Go's `flate` is RAW deflate (nowrap); `zlib` adds the RFC-1950 wrapper
  // — two distinct codecs in the reference (algorithms.go)
  private def deflateWith(raw: Boolean): Array[Byte] => Array[Byte] = in =>
    if (in == null) null else {
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, raw)
      d.setInput(in); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
  private def inflateWith(raw: Boolean): Array[Byte] => Array[Byte] = in =>
    if (in == null) null else {
      val inf = new java.util.zip.Inflater(raw)
      // Inflater javadoc: nowrap mode needs an extra dummy byte of input
      // (zlib native-library requirement) — without it a complete raw
      // stream can report needsInput() before finished().
      inf.setInput(if (raw) in :+ 0.toByte else in)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      try {
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          // A zlib stream with FDICT set makes inflate return 0 with
          // needsDictionary() true — we never supply preset dictionaries.
          if (n == 0 && inf.needsDictionary())
            throw new java.util.zip.ZipException("decompress: preset dictionary not supported")
          // Truncated input: inflate returns 0 asking for more bytes we don't
          // have — fail loudly instead of spinning on the executor.
          if (n == 0 && inf.needsInput() && !inf.finished())
            throw new java.util.zip.ZipException("decompress: truncated deflate stream")
          out.write(buf, 0, n)
        }
      } finally inf.end()
      out.toByteArray
    }
  val flateCompress: Array[Byte] => Array[Byte] = deflateWith(raw = true)
  val flateDecompress: Array[Byte] => Array[Byte] = inflateWith(raw = true)
  val zlibCompress: Array[Byte] => Array[Byte] = deflateWith(raw = false)
  val zlibDecompress: Array[Byte] => Array[Byte] = inflateWith(raw = false)

  /** bzip2 via commons-compress (ships with Spark). */
  val bzip2Compress: Array[Byte] => Array[Byte] = in =>
    if (in == null) null else {
      val out = new java.io.ByteArrayOutputStream()
      val z = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(out)
      z.write(in); z.close()
      out.toByteArray
    }
  val bzip2Decompress: Array[Byte] => Array[Byte] = in =>
    if (in == null) null else {
      val z = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(
        new java.io.ByteArrayInputStream(in))
      try drain(z) finally z.close()
    }

  // ===== MessagePack (subset: nil/bool/long/double/string/array/map) =========

  private def packInto(out: java.io.ByteArrayOutputStream, v: Any): Unit = {
    def u8(b: Int): Unit = out.write(b & 0xFF)
    def u16(x: Int): Unit = { u8(x >> 8); u8(x) }
    def u32(x: Int): Unit = { u16(x >>> 16); u16(x) }
    def u64(x: Long): Unit = { u32((x >>> 32).toInt); u32(x.toInt) }
    v match {
      case null => u8(0xC0)
      case b: Boolean => u8(if (b) 0xC3 else 0xC2)
      case i: Int => packInto(out, i.toLong)
      case l: Long =>
        if (l >= 0 && l < 128) u8(l.toInt)
        else if (l < 0 && l >= -32) u8(l.toInt)
        else { u8(0xD3); u64(l) }
      case f: Float => packInto(out, f.toDouble)
      case d: Double =>
        u8(0xCB); u64(java.lang.Double.doubleToLongBits(d))
      case s: String =>
        val bs = s.getBytes("UTF-8")
        if (bs.length < 32) u8(0xA0 | bs.length)
        else { u8(0xDB); u32(bs.length) }
        out.write(bs)
      case a: Seq[_] =>
        if (a.length < 16) u8(0x90 | a.length) else { u8(0xDD); u32(a.length) }
        a.foreach(packInto(out, _))
      case m: Map[_, _] =>
        if (m.size < 16) u8(0x80 | m.size) else { u8(0xDF); u32(m.size) }
        m.foreach { case (k, mv) => packInto(out, k); packInto(out, mv) }
      case other => throw new IllegalArgumentException(s"msgpack: unsupported ${other.getClass}")
    }
  }

  private def unpackFrom(buf: java.nio.ByteBuffer): Any = {
    val b = buf.get() & 0xFF
    if (b < 0x80) b.toLong
    else if (b >= 0xE0) (b - 256).toLong
    else if ((b & 0xF0) == 0x80) (0 until (b & 0x0F)).map(_ => unpackFrom(buf) -> unpackFrom(buf)).map(p => p._1.toString -> p._2).toMap
    else if ((b & 0xF0) == 0x90) (0 until (b & 0x0F)).map(_ => unpackFrom(buf)).toVector
    else if ((b & 0xE0) == 0xA0) { val n = b & 0x1F; val bs = new Array[Byte](n); buf.get(bs); new String(bs, "UTF-8") }
    else b match {
      case 0xC0 => null
      case 0xC2 => false
      case 0xC3 => true
      case 0xCB => java.lang.Double.longBitsToDouble(buf.getLong())
      case 0xD3 => buf.getLong()
      case 0xDB => { val n = buf.getInt(); val bs = new Array[Byte](n); buf.get(bs); new String(bs, "UTF-8") }
      case 0xDD => { val n = buf.getInt(); (0 until n).map(_ => unpackFrom(buf)).toVector }
      case 0xDF => { val n = buf.getInt(); (0 until n).map(_ => unpackFrom(buf) -> unpackFrom(buf)).map(p => p._1.toString -> p._2).toMap }
      case other => throw new IllegalArgumentException(f"msgpack: unsupported tag 0x$other%02X")
    }
  }

  /** format_msgpack over a JSON document (string → packed bytes). */
  val jsonToMsgpack: String => Array[Byte] = { s =>
    if (s == null) null else {
      val out = new java.io.ByteArrayOutputStream()
      packInto(out, jsonParse(s))
      out.toByteArray
    }
  }

  /** parse_msgpack → JSON string (feeds get_json_object / from_json). */
  val msgpackToJson: Array[Byte] => String = { bs =>
    if (bs == null) null else jsonEmit(unpackFrom(java.nio.ByteBuffer.wrap(bs)))
  }

  // Minimal JSON reader/writer for the codec path (no external deps; the
  // hot path uses Spark's native from_json/to_json — this only backs the
  // msgpack/yaml UDF seam).
  private def jsonParse(s: String): Any = new JsonReader(s).parse()
  private final class JsonReader(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def parse(): Any = { ws(); val v = value(); ws(); v }
    private def value(): Any = s.charAt(i) match {
      case '{' =>
        i += 1; ws()
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
        if (s.charAt(i) == '}') { i += 1 } else {
          var done = false
          while (!done) {
            ws(); val k = str(); ws(); require(s.charAt(i) == ':'); i += 1; ws()
            m(k) = value(); ws()
            if (s.charAt(i) == ',') i += 1 else { require(s.charAt(i) == '}'); i += 1; done = true }
          }
        }
        m.toMap
      case '[' =>
        i += 1; ws()
        val a = Vector.newBuilder[Any]
        if (s.charAt(i) == ']') { i += 1 } else {
          var done = false
          while (!done) {
            ws(); a += value(); ws()
            if (s.charAt(i) == ',') i += 1 else { require(s.charAt(i) == ']'); i += 1; done = true }
          }
        }
        a.result()
      case '"' => str()
      case 't' => i += 4; true
      case 'f' => i += 5; false
      case 'n' => i += 4; null
      case _ =>
        val start = i
        while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
        val tok = s.substring(start, i)
        if (tok.exists(c => c == '.' || c == 'e' || c == 'E')) tok.toDouble else tok.toLong
    }
    private def str(): String = {
      require(s.charAt(i) == '"'); i += 1
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          i += 1
          s.charAt(i) match {
            case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
            case 'b' => sb += '\b'; case 'f' => sb += '\f'
            case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case c => sb += c
          }
        } else sb += s.charAt(i)
        i += 1
      }
      i += 1
      sb.toString
    }
  }

  private def jsonEmit(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case l: Long => l.toString
    case i: Int => i.toString
    case d: Double => if (d == d.toLong && math.abs(d) < 1e15) s"${d.toLong}.0" else d.toString
    case s: String => graft.core.Json.quote(s)
    case a: Seq[_] => a.map(jsonEmit).mkString("[", ",", "]")
    case m: Map[_, _] => m.map { case (k, mv) => jsonEmit(k.toString) + ":" + jsonEmit(mv) }.mkString("{", ",", "}")
    case other => throw new IllegalArgumentException(s"json emit: ${other.getClass}")
  }

  // ===== ascii85 / z85 (encode/decode schemes — methods_strings.go:90,196) ==

  /** Ascii85 (btoa flavor, no <~ ~> framing — matches Go's
    * encoding/ascii85 used by the reference). */
  val ascii85Encode: Array[Byte] => String = { in =>
    if (in == null) null else {
      val sb = new StringBuilder
      var i = 0
      while (i < in.length) {
        val chunk = math.min(4, in.length - i)
        var v = 0L
        for (k <- 0 until 4) v = (v << 8) | (if (i + k < in.length) in(i + k) & 0xFFL else 0L)
        if (v == 0 && chunk == 4) sb += 'z'
        else {
          val cs = new Array[Char](5)
          var n = v
          for (k <- 4 to 0 by -1) { cs(k) = ((n % 85) + 33).toChar; n /= 85 }
          sb.appendAll(cs, 0, chunk + 1)
        }
        i += 4
      }
      sb.toString
    }
  }

  val ascii85Decode: String => Array[Byte] = { s =>
    if (s == null) null else {
      val out = new java.io.ByteArrayOutputStream()
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == 'z') {
          out.write(Array[Byte](0, 0, 0, 0)); i += 1
        } else {
          val chunk = math.min(5, s.length - i)
          var v = 0L
          for (k <- 0 until 5) {
            val c = if (i + k < s.length && k < chunk) s.charAt(i + k) - 33 else 84
            v = v * 85 + c
          }
          val bs = Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
          out.write(bs, 0, chunk - 1)
          i += 5
        }
      }
      out.toByteArray
    }
  }

  /** Z85 (ZeroMQ spec: length must be a multiple of 4). */
  private val z85Chars = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val z85Rev: Array[Int] = {
    val a = Array.fill(128)(-1)
    z85Chars.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i }
    a
  }
  val z85Encode: Array[Byte] => String = { in =>
    if (in == null) null else {
      require(in.length % 4 == 0, "z85: input length must be a multiple of 4")
      val sb = new StringBuilder
      var i = 0
      while (i < in.length) {
        var v = 0L
        for (k <- 0 until 4) v = (v << 8) | (in(i + k) & 0xFFL)
        val cs = new Array[Char](5)
        var n = v
        for (k <- 4 to 0 by -1) { cs(k) = z85Chars(((n % 85)).toInt); n /= 85 }
        sb.appendAll(cs)
        i += 4
      }
      sb.toString
    }
  }
  val z85Decode: String => Array[Byte] = { s =>
    if (s == null) null else {
      require(s.length % 5 == 0, "z85: input length must be a multiple of 5")
      val out = new Array[Byte](s.length / 5 * 4)
      var i = 0
      var o = 0
      while (i < s.length) {
        var v = 0L
        for (k <- 0 until 5) v = v * 85 + z85Rev(s.charAt(i + k).toInt)
        out(o) = (v >> 24).toByte; out(o + 1) = (v >> 16).toByte
        out(o + 2) = (v >> 8).toByte; out(o + 3) = v.toByte
        i += 5; o += 4
      }
      out
    }
  }

  // ===== YAML (parse_yaml — methods_strings.go:1169) =========================

  /** YAML document → JSON string via snakeyaml (ships with Spark). */
  val yamlToJson: String => String = { s =>
    if (s == null) null else {
      val loaded = new org.yaml.snakeyaml.Yaml().load[Any](s)
      def conv(v: Any): Any = v match {
        case m: java.util.Map[_, _] =>
          import scala.jdk.CollectionConverters._
          m.asScala.map { case (k, x) => k.toString -> conv(x) }.toMap
        case l: java.util.List[_] =>
          import scala.jdk.CollectionConverters._
          l.asScala.map(conv).toVector
        case i: java.lang.Integer => i.longValue()
        case other => other
      }
      jsonEmit(conv(loaded))
    }
  }

  /** Register codec UDFs (callable via call_udf and spark.sql). */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("blob_compress_zstd", udf(zstdCompress))
    spark.udf.register("blob_decompress_zstd", udf(zstdDecompress))
    spark.udf.register("blob_compress_lz4", udf(lz4Compress))
    spark.udf.register("blob_decompress_lz4", udf(lz4Decompress))
    spark.udf.register("blob_compress_snappy", udf(snappyCompress))
    spark.udf.register("blob_decompress_snappy", udf(snappyDecompress))
    spark.udf.register("blob_compress_flate", udf(flateCompress))
    spark.udf.register("blob_decompress_flate", udf(flateDecompress))
    spark.udf.register("blob_compress_zlib", udf(zlibCompress))
    spark.udf.register("blob_decompress_zlib", udf(zlibDecompress))
    spark.udf.register("blob_compress_bzip2", udf(bzip2Compress))
    spark.udf.register("blob_decompress_bzip2", udf(bzip2Decompress))
    spark.udf.register("blob_format_msgpack", udf(jsonToMsgpack))
    spark.udf.register("blob_parse_msgpack", udf(msgpackToJson))
    spark.udf.register("blob_parse_yaml", udf(yamlToJson))
    spark.udf.register("blob_encode_ascii85", udf(ascii85Encode))
    spark.udf.register("blob_decode_ascii85", udf(ascii85Decode))
    spark.udf.register("blob_encode_z85", udf(z85Encode))
    spark.udf.register("blob_decode_z85", udf(z85Decode))
  }
}
