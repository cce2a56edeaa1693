package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.immutable.VectorMap
import scala.collection.mutable

/** Dynamic protobuf codec driven by `.proto` schema FILES, mirroring the
  * reference's reflection-based `protobuf` processor
  * (internal/impl/protobuf/processor_protobuf.go:49-68: operators
  * `to_json`/`from_json` over a message compiled from `import_paths`, with
  * `discard_unknown`/`use_proto_names`/`emit_unpopulated` knobs).
  *
  * Everything here is implemented from the PUBLIC protobuf specs:
  *  - the proto3 language grammar (protobuf.dev/reference/protobuf/proto3-spec)
  *  - the wire format (protobuf.dev/programming-guides/encoding): varint,
  *    zigzag, fixed32/64, length-delimited, packed repeated scalars
  *  - the canonical JSON mapping (protobuf.dev/programming-guides/proto3#json):
  *    lowerCamelCase names, 64-bit ints as strings, bytes as base64, enums as
  *    names, well-known Timestamp/Duration/Any/wrappers special forms.
  *
  * The parser covers the subset the reference's own test schemas exercise
  * (config/test/protobuf/schema/{person,house,envelope}.proto) plus the rest
  * of scalar proto3: packages, imports, nested messages, enums, oneof, map
  * fields, repeated (packed), optional presence, all 15 scalar kinds.
  *
  * Well-known types with special JSON forms: Timestamp, Duration, Any,
  * wrappers, Empty, Struct/Value/ListValue (arbitrary JSON), FieldMask.
  * Unsupported (declared): proto2 groups/extensions, services.
  */
object ProtoSchema {

  // ===== descriptor model ====================================================

  /** `tpe` is a scalar kind name or (after linking) the fully-qualified name
    * of a message/enum in the registry. */
  final case class PField(name: String, jsonName: String, num: Int, tpe: String,
                          repeated: Boolean, optional: Boolean)

  final case class PMessage(fqn: String, fields: Vector[PField], mapEntry: Boolean) {
    lazy val byNum: Map[Int, PField] = fields.map(f => f.num -> f).toMap
    /** Lookup by either the original proto name or the lowerCamel JSON name. */
    lazy val byJsonKey: Map[String, PField] =
      (fields.map(f => f.name -> f) ++ fields.map(f => f.jsonName -> f)).toMap
  }

  final case class PEnum(fqn: String, entries: Vector[(String, Int)]) {
    lazy val byName: Map[String, Int] = entries.toMap
    /** First name wins for aliased numbers (allow_alias), protojson rule. */
    lazy val byNum: Map[Int, String] =
      entries.reverseIterator.map(_.swap).toMap
  }

  final class Registry(val messages: Map[String, PMessage], val enums: Map[String, PEnum],
                       val declOrder: Vector[String] = Vector.empty) {
    def message(fqn: String): PMessage =
      messages.getOrElse(fqn, throw new IllegalArgumentException(s"unknown message: $fqn"))
    /** Top-level messages in declaration order (Confluent message-index space). */
    lazy val topLevel: Vector[String] = declOrder.filter { fqn =>
      val parent = fqn.substring(0, math.max(fqn.lastIndexOf('.'), 0))
      !messages.contains(parent)
    }
    /** Direct child messages of `fqn` in declaration order. */
    def childrenOf(fqn: String): Vector[String] =
      declOrder.filter(c => c.startsWith(fqn + ".") && c.lastIndexOf('.') == fqn.length)
  }

  private val ScalarKinds = Set(
    "double", "float", "int32", "int64", "uint32", "uint64", "sint32", "sint64",
    "fixed32", "fixed64", "sfixed32", "sfixed64", "bool", "string", "bytes")

  private def isVarintKind(k: String) =
    k == "int32" || k == "int64" || k == "uint32" || k == "uint64" ||
      k == "sint32" || k == "sint64" || k == "bool"
  private def isFixed64Kind(k: String) = k == "fixed64" || k == "sfixed64" || k == "double"

  /** protojson name mapping: `first_name` → `firstName`. */
  def lowerCamel(s: String): String = {
    val b = new StringBuilder
    var up = false
    s.foreach {
      case '_' => up = true
      case c => b.append(if (up) c.toUpper else c); up = false
    }
    b.toString
  }

  // ===== well-known types (google/protobuf/*.proto built-ins) ===============

  val WktTimestamp = "google.protobuf.Timestamp"
  val WktDuration = "google.protobuf.Duration"
  val WktAny = "google.protobuf.Any"
  val WktEmpty = "google.protobuf.Empty"
  private val WrapperKind: Map[String, String] = Map(
    "google.protobuf.DoubleValue" -> "double", "google.protobuf.FloatValue" -> "float",
    "google.protobuf.Int64Value" -> "int64", "google.protobuf.UInt64Value" -> "uint64",
    "google.protobuf.Int32Value" -> "int32", "google.protobuf.UInt32Value" -> "uint32",
    "google.protobuf.BoolValue" -> "bool", "google.protobuf.StringValue" -> "string",
    "google.protobuf.BytesValue" -> "bytes")

  val WktStruct = "google.protobuf.Struct"
  val WktValue = "google.protobuf.Value"
  val WktListValue = "google.protobuf.ListValue"
  val WktFieldMask = "google.protobuf.FieldMask"

  /** Types whose JSON form is not the generic object rendering. */
  private def isSpecialJson(fqn: String): Boolean =
    fqn == WktTimestamp || fqn == WktDuration || fqn == WktAny ||
      fqn == WktStruct || fqn == WktValue || fqn == WktListValue ||
      fqn == WktFieldMask || WrapperKind.contains(fqn)

  private val builtinMessages: Map[String, PMessage] = {
    def m(fqn: String, fs: (String, Int, String)*) =
      fqn -> PMessage(fqn, fs.toVector.map { case (n, i, t) =>
        PField(n, lowerCamel(n), i, t, repeated = false, optional = false) }, mapEntry = false)
    Map(
      m(WktTimestamp, ("seconds", 1, "int64"), ("nanos", 2, "int32")),
      m(WktDuration, ("seconds", 1, "int64"), ("nanos", 2, "int32")),
      m(WktAny, ("type_url", 1, "string"), ("value", 2, "bytes")),
      m(WktEmpty),
      // struct.proto: Struct carries a map<string, Value>; Value is a oneof
      // over null/number/string/bool/Struct/ListValue (all explicit-presence)
      WktStruct -> PMessage(WktStruct, Vector(
        PField("fields", "fields", 1, s"$WktStruct.FieldsEntry", repeated = true, optional = false)),
        mapEntry = false),
      s"$WktStruct.FieldsEntry" -> PMessage(s"$WktStruct.FieldsEntry", Vector(
        PField("key", "key", 1, "string", repeated = false, optional = false),
        PField("value", "value", 2, WktValue, repeated = false, optional = false)),
        mapEntry = true),
      WktValue -> PMessage(WktValue, Vector(
        PField("null_value", "nullValue", 1, "google.protobuf.NullValue", repeated = false, optional = true),
        PField("number_value", "numberValue", 2, "double", repeated = false, optional = true),
        PField("string_value", "stringValue", 3, "string", repeated = false, optional = true),
        PField("bool_value", "boolValue", 4, "bool", repeated = false, optional = true),
        PField("struct_value", "structValue", 5, WktStruct, repeated = false, optional = true),
        PField("list_value", "listValue", 6, WktListValue, repeated = false, optional = true)),
        mapEntry = false),
      WktListValue -> PMessage(WktListValue, Vector(
        PField("values", "values", 1, WktValue, repeated = true, optional = false)),
        mapEntry = false),
      // field_mask.proto: JSON form is one comma-joined camelCase string
      WktFieldMask -> PMessage(WktFieldMask, Vector(
        PField("paths", "paths", 1, "string", repeated = true, optional = false)),
        mapEntry = false)) ++
      WrapperKind.map { case (fqn, kind) => m(fqn, ("value", 1, kind)) }
  }

  /** FieldMask path mapping: proto snake_case ↔ JSON lowerCamel. */
  private def camelToSnake(s: String): String =
    s.flatMap(c => if (c.isUpper) "_" + c.toLower else c.toString)

  // ===== .proto parser =======================================================

  private final class Lexer(text: String) {
    private var i = 0
    private def ws(): Unit = {
      var go = true
      while (go) {
        go = false
        while (i < text.length && text(i).isWhitespace) { i += 1; go = true }
        if (i + 1 < text.length && text(i) == '/' && text(i + 1) == '/') {
          while (i < text.length && text(i) != '\n') i += 1
          go = true
        } else if (i + 1 < text.length && text(i) == '/' && text(i + 1) == '*') {
          i += 2
          while (i + 1 < text.length && !(text(i) == '*' && text(i + 1) == '/')) i += 1
          i = math.min(i + 2, text.length)
          go = true
        }
      }
    }
    /** Next token: identifier (dots allowed, so qualified names are one
      * token), number, string literal (quotes stripped), or single punct. */
    def next(): String = {
      ws()
      if (i >= text.length) return null
      val c = text(i)
      if (c == '"' || c == '\'') {
        val q = c; i += 1
        val b = new StringBuilder
        while (i < text.length && text(i) != q) {
          if (text(i) == '\\' && i + 1 < text.length) { b.append(text(i + 1)); i += 2 }
          else { b.append(text(i)); i += 1 }
        }
        i += 1
        "\"" + b.toString // string literals keep a quote marker prefix
      } else if (c.isLetter || c == '_' || c == '.') {
        val s = i
        while (i < text.length && (text(i).isLetterOrDigit || text(i) == '_' || text(i) == '.')) i += 1
        text.substring(s, i)
      } else if (c.isDigit || c == '-') {
        val s = i; i += 1
        while (i < text.length && (text(i).isLetterOrDigit || text(i) == '.' || text(i) == '-' || text(i) == '+')) i += 1
        text.substring(s, i)
      } else { i += 1; c.toString }
    }
    def peek(): String = { val save = i; val t = next(); i = save; t }
  }

  private final case class RawField(name: String, num: Int, rawType: String, scope: String,
                                    repeated: Boolean, optional: Boolean,
                                    mapKV: Option[(String, String)],
                                    jsonName: Option[String] = None)
  private final case class RawMessage(fqn: String, fields: Vector[RawField])

  /** Parse one .proto file's text into raw (unlinked) declarations. */
  private def parseFile(text: String,
                        msgs: mutable.Buffer[RawMessage],
                        enums: mutable.Buffer[PEnum],
                        order: mutable.Buffer[String]): Unit = {
    val lx = new Lexer(text)
    var pkg = ""

    def skipToSemi(): Unit = { var t = lx.next(); while (t != null && t != ";") t = lx.next() }
    def skipBlock(): Unit = { // consumes a balanced { ... } (opening brace already eaten or next)
      var depth = 0
      var t = lx.next()
      while (t != null && t != "{") t = lx.next()
      depth = 1
      while (depth > 0) {
        val u = lx.next()
        if (u == null) throw new IllegalArgumentException("proto parse: unbalanced block")
        if (u == "{") depth += 1 else if (u == "}") depth -= 1
      }
    }
    def expect(tok: String): Unit = {
      val t = lx.next()
      require(t == tok, s"proto parse: expected '$tok', got '$t'")
    }

    def parseEnum(scope: String): Unit = {
      val name = lx.next()
      val fqn = if (scope.isEmpty) name else s"$scope.$name"
      expect("{")
      val entries = Vector.newBuilder[(String, Int)]
      var t = lx.next()
      while (t != "}") {
        t match {
          case "option" | "reserved" => skipToSemi()
          case ident =>
            expect("=")
            val n = lx.next()
            entries += ident -> n.toInt
            // trailing [deprecated = true] etc.
            var u = lx.next()
            if (u == "[") { while (u != "]") u = lx.next(); u = lx.next() }
            require(u == ";", s"proto parse: enum entry must end with ';', got '$u'")
        }
        t = lx.next()
      }
      enums += PEnum(fqn, entries.result())
    }

    def parseFieldTail(rawType: String, scope: String, repeated: Boolean, optional: Boolean,
                       mapKV: Option[(String, String)]): RawField = {
      val name = lx.next()
      expect("=")
      val num = lx.next().toInt
      var jsonName: Option[String] = None
      var t = lx.next()
      if (t == "[") { // field options: honor json_name (protojson override)
        var prev = t
        while (t != "]") {
          prev = t; t = lx.next()
          if (prev == "json_name" && t == "=") {
            val v = lx.next()
            if (v != null && v.startsWith("\"")) jsonName = Some(v.drop(1))
          }
        }
        t = lx.next()
      }
      require(t == ";", s"proto parse: field '$name' must end with ';', got '$t'")
      RawField(name, num, rawType, scope, repeated, optional, mapKV, jsonName)
    }

    def parseMessage(scope: String): Unit = {
      val name = lx.next()
      val fqn = if (scope.isEmpty) name else s"$scope.$name"
      order += fqn // pre-order = file declaration order (message-index space)
      expect("{")
      val fields = Vector.newBuilder[RawField]
      var t = lx.next()
      while (t != "}") {
        t match {
          case "message" => parseMessage(fqn)
          case "enum" => parseEnum(fqn)
          case "option" | "reserved" | "extensions" => skipToSemi()
          case "oneof" =>
            lx.next() // oneof name
            expect("{")
            var u = lx.next()
            while (u != "}") {
              if (u == "option") skipToSemi()
              else fields += parseFieldTail(u, fqn, repeated = false, optional = true, None)
              u = lx.next()
            }
          case "map" =>
            expect("<"); val k = lx.next(); expect(","); val v = lx.next(); expect(">")
            fields += parseFieldTail("map", fqn, repeated = true, optional = false, Some((k, v)))
          case "repeated" => fields += parseFieldTail(lx.next(), fqn, repeated = true, optional = false, None)
          case "optional" => fields += parseFieldTail(lx.next(), fqn, repeated = false, optional = true, None)
          case tpe => fields += parseFieldTail(tpe, fqn, repeated = false, optional = false, None)
        }
        t = lx.next()
      }
      msgs += RawMessage(fqn, fields.result())
    }

    var t = lx.next()
    while (t != null) {
      t match {
        case "syntax" => skipToSemi()
        case "package" => pkg = lx.next(); expect(";")
        case "import" => skipToSemi() // all files are parsed together; WKTs are built in
        case "option" => skipToSemi()
        case "message" => parseMessage(pkg)
        case "enum" => parseEnum(pkg)
        case "service" | "extend" => skipBlock()
        case ";" => ()
        case other => throw new IllegalArgumentException(s"proto parse: unexpected '$other'")
      }
      t = lx.next()
    }
  }

  /** Parse and link a set of .proto file texts into a [[Registry]]. */
  def parse(files: Seq[String]): Registry = {
    val rawMsgs = mutable.Buffer.empty[RawMessage]
    val enums = mutable.Buffer.empty[PEnum]
    val order = mutable.Buffer.empty[String]
    files.foreach(parseFile(_, rawMsgs, enums, order))
    val enumMap = builtinEnumsPlus(enums.toSeq)
    val msgNames = rawMsgs.map(_.fqn).toSet ++ builtinMessages.keySet
    // synthetic map-entry messages
    val extra = mutable.Buffer.empty[PMessage]

    def resolve(scope: String, raw: String): String = {
      if (raw.startsWith(".")) return raw.drop(1)
      val parts = if (scope.isEmpty) Array.empty[String] else scope.split('.')
      val candidates = parts.indices.reverse.map(i => (parts.take(i + 1) :+ raw).mkString(".")) :+ raw
      candidates.find(c => msgNames.contains(c) || enumMap.contains(c)).getOrElse(
        throw new IllegalArgumentException(s"proto link: unresolved type '$raw' in scope '$scope'"))
    }

    def linkField(owner: String, rf: RawField): PField = rf.mapKV match {
      case Some((k, v)) =>
        require(ScalarKinds.contains(k) && k != "double" && k != "float" && k != "bytes",
          s"proto parse: invalid map key type '$k'")
        val vTpe = if (ScalarKinds.contains(v)) v else resolve(rf.scope, v)
        val entryFqn = s"$owner.${rf.name.capitalize}Entry"
        extra += PMessage(entryFqn, Vector(
          PField("key", "key", 1, k, repeated = false, optional = false),
          PField("value", "value", 2, vTpe, repeated = false, optional = false)), mapEntry = true)
        PField(rf.name, rf.jsonName.getOrElse(lowerCamel(rf.name)), rf.num, entryFqn,
          repeated = true, optional = false)
      case None =>
        val tpe = if (ScalarKinds.contains(rf.rawType)) rf.rawType else resolve(rf.scope, rf.rawType)
        PField(rf.name, rf.jsonName.getOrElse(lowerCamel(rf.name)), rf.num, tpe,
          rf.repeated, rf.optional)
    }

    val linked = rawMsgs.map(rm => PMessage(rm.fqn, rm.fields.map(linkField(rm.fqn, _)), mapEntry = false))
    new Registry(
      builtinMessages ++ (linked ++ extra).map(m => m.fqn -> m).toMap,
      enumMap, order.toVector)
  }

  private def builtinEnumsPlus(parsed: Seq[PEnum]): Map[String, PEnum] =
    Map("google.protobuf.NullValue" -> PEnum("google.protobuf.NullValue", Vector("NULL_VALUE" -> 0))) ++
      parsed.map(e => e.fqn -> e)

  // ===== registry-from-import-paths cache (one parse per path set per JVM) ===

  private val regCache = new java.util.concurrent.ConcurrentHashMap[String, Registry]()

  /** Walk the reference's `import_paths` semantics: each entry is a directory
    * (all .proto files under it, recursively, sorted) or a single file. */
  def registryFor(importPaths: Seq[String]): Registry = {
    val key = importPaths.sorted.mkString("\u0000")
    regCache.computeIfAbsent(key, _ => {
      val files = importPaths.flatMap { p =>
        val f = new java.io.File(p)
        if (f.isDirectory) {
          def walk(d: java.io.File): Seq[java.io.File] = {
            val kids = Option(d.listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Nil)
            kids.filter(_.isFile).filter(_.getName.endsWith(".proto")) ++
              kids.filter(_.isDirectory).flatMap(walk)
          }
          walk(f)
        } else Seq(f)
      }
      require(files.nonEmpty, s"no .proto files under import_paths: ${importPaths.mkString(", ")}")
      parse(files.map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8)))
    })
  }

  // ===== wire writer =========================================================

  private def writeVarint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
  private def writeTag(out: java.io.ByteArrayOutputStream, num: Int, wire: Int): Unit =
    writeVarint(out, (num.toLong << 3) | wire.toLong)
  private def writeFixed64(out: java.io.ByteArrayOutputStream, bits: Long): Unit =
    for (i <- 0 until 8) out.write(((bits >>> (8 * i)) & 0xFF).toInt)
  private def writeFixed32(out: java.io.ByteArrayOutputStream, bits: Int): Unit =
    for (i <- 0 until 4) out.write(((bits >>> (8 * i)) & 0xFF).toInt)
  private def writeLen(out: java.io.ByteArrayOutputStream, bs: Array[Byte]): Unit = {
    writeVarint(out, bs.length.toLong); out.write(bs, 0, bs.length)
  }

  private def jsonToLong(kind: String, v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case d: Double =>
      require(d == math.rint(d) && !d.isInfinite, s"non-integral value for $kind: $d")
      d.toLong
    case s: String =>
      if (kind == "uint64" || kind == "fixed64") java.lang.Long.parseUnsignedLong(s) else s.toLong
    case b: Boolean if kind == "bool" => if (b) 1L else 0L
    case other => throw new IllegalArgumentException(s"cannot coerce ${other.getClass.getSimpleName} to $kind")
  }
  private def jsonToDouble(v: Any): Double = v match {
    case d: Double => d
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case "Infinity" => Double.PositiveInfinity
    case "-Infinity" => Double.NegativeInfinity
    case "NaN" => Double.NaN
    case s: String => s.toDouble
    case other => throw new IllegalArgumentException(s"cannot coerce ${other.getClass.getSimpleName} to double")
  }

  private def zigzag32(n: Int): Long = (((n << 1) ^ (n >> 31)).toLong) & 0xFFFFFFFFL
  private def zigzag64(n: Long): Long = (n << 1) ^ (n >> 63)

  /** Encode one scalar VALUE (no tag) of a varint-family kind. */
  private def varintOf(kind: String, v: Any): Long = kind match {
    case "sint32" => zigzag32(jsonToLong(kind, v).toInt)
    case "sint64" => zigzag64(jsonToLong(kind, v))
    case "bool" => v match {
      case b: Boolean => if (b) 1L else 0L
      case other => jsonToLong(kind, other)
    }
    case _ => jsonToLong(kind, v)
  }

  private def scalarDefault(kind: String): Any = kind match {
    case "string" => ""
    case "bytes" => ""
    case "bool" => false
    case "double" | "float" => 0.0d
    case _ => 0L
  }

  private def isZeroScalar(kind: String, v: Any): Boolean = kind match {
    case "string" | "bytes" => v == ""
    case "bool" => v == false
    case "double" | "float" => jsonToDouble(v) == 0.0
    case _ => v match {
      case s: String => s == "0"
      case _ => jsonToLong(kind, v) == 0L
    }
  }

  private def encodeScalar(out: java.io.ByteArrayOutputStream, num: Int, kind: String, v: Any): Unit =
    kind match {
      case k if isVarintKind(k) => writeTag(out, num, 0); writeVarint(out, varintOf(k, v))
      case "double" => writeTag(out, num, 1)
        writeFixed64(out, java.lang.Double.doubleToLongBits(jsonToDouble(v)))
      case "fixed64" | "sfixed64" => writeTag(out, num, 1); writeFixed64(out, jsonToLong(kind, v))
      case "float" => writeTag(out, num, 5)
        writeFixed32(out, java.lang.Float.floatToIntBits(jsonToDouble(v).toFloat))
      case "fixed32" | "sfixed32" => writeTag(out, num, 5); writeFixed32(out, jsonToLong(kind, v).toInt)
      case "string" => writeTag(out, num, 2)
        writeLen(out, graft.blob.Interp.toStr(v).getBytes(UTF_8))
      case "bytes" => writeTag(out, num, 2)
        writeLen(out, java.util.Base64.getDecoder.decode(graft.blob.Interp.toStr(v)))
      case other => throw new IllegalArgumentException(s"proto encode: unknown scalar kind $other")
    }

  // ===== from_json ===========================================================

  /** protojson `from_json`: JSON text → wire bytes for `messageFqn`. Unknown
    * JSON fields error unless `discardUnknown` (processor_protobuf.go's
    * discard_unknown field). */
  def fromJson(reg: Registry, messageFqn: String, json: String, discardUnknown: Boolean): Array[Byte] = {
    if (json == null) return null
    val parsed = graft.blob.Interp.parseJsonTyped(json)
    if (isSpecialJson(messageFqn)) encodeSpecial(reg, messageFqn, parsed, discardUnknown)
    else parsed match {
      case m: VectorMap[String @unchecked, Any @unchecked] =>
        encodeMessage(reg, reg.message(messageFqn), m, discardUnknown)
      case other =>
        throw new IllegalArgumentException(s"proto from_json: expected object, got ${other.getClass.getSimpleName}")
    }
  }

  private def encodeSpecial(reg: Registry, fqn: String, v: Any, discardUnknown: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    fqn match {
      case WktTimestamp =>
        val inst = java.time.Instant.parse(graft.blob.Interp.toStr(v))
        if (inst.getEpochSecond != 0L) { writeTag(out, 1, 0); writeVarint(out, inst.getEpochSecond) }
        if (inst.getNano != 0) { writeTag(out, 2, 0); writeVarint(out, inst.getNano.toLong) }
      case WktDuration =>
        val s = graft.blob.Interp.toStr(v)
        require(s.endsWith("s"), s"duration must end in 's': $s")
        val d = BigDecimal(s.dropRight(1))
        val secs = d.toLong
        val nanos = ((d - secs) * 1000000000L).toLong
        if (secs != 0L) { writeTag(out, 1, 0); writeVarint(out, secs) }
        if (nanos != 0L) { writeTag(out, 2, 0); writeVarint(out, nanos) }
      case w if WrapperKind.contains(w) =>
        val kind = WrapperKind(w)
        if (v != null) encodeScalar(out, 1, kind, v) // wrappers always carry presence
      case WktValue => v match { // struct.proto Value: JSON-anything as a oneof
        case null => writeTag(out, 1, 0); writeVarint(out, 0L)
        case b: Boolean => writeTag(out, 4, 0); writeVarint(out, if (b) 1L else 0L)
        case s: String => writeTag(out, 3, 2); writeLen(out, s.getBytes(UTF_8))
        case m: VectorMap[_, _] =>
          writeTag(out, 5, 2); writeLen(out, encodeSpecial(reg, WktStruct, m, discardUnknown))
        case xs: Vector[_] =>
          writeTag(out, 6, 2); writeLen(out, encodeSpecial(reg, WktListValue, xs, discardUnknown))
        case n => writeTag(out, 2, 1)
          writeFixed64(out, java.lang.Double.doubleToLongBits(jsonToDouble(n)))
      }
      case WktStruct => v match {
        case m: VectorMap[String @unchecked, Any @unchecked] =>
          m.foreach { case (k, mv) =>
            val eo = new java.io.ByteArrayOutputStream()
            if (k.nonEmpty) { writeTag(eo, 1, 2); writeLen(eo, k.getBytes(UTF_8)) }
            writeTag(eo, 2, 2); writeLen(eo, encodeSpecial(reg, WktValue, mv, discardUnknown))
            writeTag(out, 1, 2); writeLen(out, eo.toByteArray)
          }
        case other => throw new IllegalArgumentException(s"Struct value must be an object, got $other")
      }
      case WktListValue => v match {
        case xs: Vector[Any @unchecked] =>
          xs.foreach { x =>
            writeTag(out, 1, 2); writeLen(out, encodeSpecial(reg, WktValue, x, discardUnknown))
          }
        case other => throw new IllegalArgumentException(s"ListValue must be an array, got $other")
      }
      case WktFieldMask =>
        graft.blob.Interp.toStr(v).split(',').toSeq.map(_.trim).filter(_.nonEmpty).foreach { p =>
          writeTag(out, 1, 2); writeLen(out, camelToSnake(p).getBytes(UTF_8))
        }
      case WktAny => v match {
        case m: VectorMap[String @unchecked, Any @unchecked] =>
          val url = m.getOrElse("@type",
            throw new IllegalArgumentException("Any value missing @type")).toString
          val innerFqn = url.substring(url.lastIndexOf('/') + 1)
          val innerBytes =
            if (isSpecialJson(innerFqn)) encodeSpecial(reg, innerFqn, m.getOrElse("value", null), discardUnknown)
            else encodeMessage(reg, reg.message(innerFqn),
              m.removed("@type"), discardUnknown)
          writeTag(out, 1, 2); writeLen(out, url.getBytes(UTF_8))
          writeTag(out, 2, 2); writeLen(out, innerBytes)
        case other => throw new IllegalArgumentException(s"Any value must be an object, got $other")
      }
      case other => throw new IllegalArgumentException(s"not a special-JSON type: $other")
    }
    out.toByteArray
  }

  private def encodeValue(reg: Registry, out: java.io.ByteArrayOutputStream,
                          f: PField, v: Any, discardUnknown: Boolean): Unit = {
    if (ScalarKinds.contains(f.tpe)) encodeScalar(out, f.num, f.tpe, v)
    else reg.enums.get(f.tpe) match {
      case Some(en) =>
        val num = v match {
          case s: String => en.byName.getOrElse(s,
            throw new IllegalArgumentException(s"unknown enum value '$s' for ${en.fqn}")).toLong
          case other => jsonToLong("int32", other)
        }
        writeTag(out, f.num, 0); writeVarint(out, num)
      case None =>
        val bytes =
          if (isSpecialJson(f.tpe)) encodeSpecial(reg, f.tpe, v, discardUnknown)
          else v match {
            case m: VectorMap[String @unchecked, Any @unchecked] =>
              encodeMessage(reg, reg.message(f.tpe), m, discardUnknown)
            case other => throw new IllegalArgumentException(
              s"field ${f.name}: expected object for message ${f.tpe}, got ${other.getClass.getSimpleName}")
          }
        writeTag(out, f.num, 2); writeLen(out, bytes)
    }
  }

  private def encodeMessage(reg: Registry, msg: PMessage,
                            doc: VectorMap[String, Any], discardUnknown: Boolean): Array[Byte] = {
    // unknown-field check (protojson errors by default)
    if (!discardUnknown) doc.keys.foreach { k =>
      if (!msg.byJsonKey.contains(k))
        throw new IllegalArgumentException(s"unknown field \"$k\" in message ${msg.fqn}")
    }
    val out = new java.io.ByteArrayOutputStream()
    msg.fields.foreach { f =>
      doc.get(f.jsonName).orElse(doc.get(f.name)) match {
        // JSON null IS a value for google.protobuf.Value fields (NullValue)
        case Some(null) if f.tpe == WktValue && !f.repeated =>
          encodeValue(reg, out, f, null, discardUnknown)
        case None | Some(null) => () // absent / JSON null = unset
        case Some(v) if f.repeated =>
          val entryMsg = reg.messages.get(f.tpe).filter(_.mapEntry)
          (entryMsg, v) match {
            case (Some(entry), m: VectorMap[String @unchecked, Any @unchecked]) =>
              // map<k,v> field: JSON object → repeated entry submessages
              val kKind = entry.fields(0).tpe
              m.foreach { case (mk, mv) =>
                val kv: Any = kKind match {
                  case "string" => mk
                  case "bool" => mk == "true"
                  case _ => mk // numeric keys coerce via jsonToLong at encode
                }
                val eo = new java.io.ByteArrayOutputStream()
                if (!isZeroScalar0(kKind, kv)) encodeScalar(eo, 1, kKind, kv)
                if (mv != null) encodeValue(reg, eo, entry.fields(1), mv, discardUnknown)
                writeTag(out, f.num, 2); writeLen(out, eo.toByteArray)
              }
            case (_, xs: Vector[Any @unchecked]) =>
              val packedEnum = reg.enums.get(f.tpe)
              if (packedEnum.isDefined ||
                  (ScalarKinds.contains(f.tpe) && !(f.tpe == "string" || f.tpe == "bytes"))) {
                // proto3 packed-by-default numeric scalars AND enums
                if (xs.nonEmpty) {
                  val body = new java.io.ByteArrayOutputStream()
                  xs.foreach {
                    case x if packedEnum.isDefined =>
                      val en = packedEnum.get
                      val num = x match {
                        case s: String => en.byName.getOrElse(s,
                          throw new IllegalArgumentException(s"unknown enum value '$s' for ${en.fqn}")).toLong
                        case other => jsonToLong("int32", other)
                      }
                      writeVarint(body, num)
                    case x if isVarintKind(f.tpe) => writeVarint(body, varintOf(f.tpe, x))
                    case x if f.tpe == "double" =>
                      writeFixed64(body, java.lang.Double.doubleToLongBits(jsonToDouble(x)))
                    case x if isFixed64Kind(f.tpe) => writeFixed64(body, jsonToLong(f.tpe, x))
                    case x if f.tpe == "float" =>
                      writeFixed32(body, java.lang.Float.floatToIntBits(jsonToDouble(x).toFloat))
                    case x => writeFixed32(body, jsonToLong(f.tpe, x).toInt)
                  }
                  writeTag(out, f.num, 2); writeLen(out, body.toByteArray)
                }
              } else xs.foreach(x => encodeValue(reg, out, f, x, discardUnknown))
            case (_, other) => throw new IllegalArgumentException(
              s"field ${f.name}: expected array, got ${other.getClass.getSimpleName}")
          }
        case Some(v) =>
          val scalarish = ScalarKinds.contains(f.tpe) || reg.enums.contains(f.tpe)
          val isEnumZero = reg.enums.get(f.tpe).exists { en =>
            v match {
              case s: String => en.byName.get(s).contains(0)
              case other => jsonToLong("int32", other) == 0L
            }
          }
          // proto3 implicit presence: zero-valued scalars are omitted from the
          // wire unless the field is `optional` (explicit presence)
          val omit = scalarish && !f.optional &&
            (isEnumZero || (ScalarKinds.contains(f.tpe) && isZeroScalar(f.tpe, v)))
          if (!omit) encodeValue(reg, out, f, v, discardUnknown)
      }
    }
    out.toByteArray
  }

  /** Zero check that tolerates numeric map keys arriving as strings. */
  private def isZeroScalar0(kind: String, v: Any): Boolean =
    try isZeroScalar(kind, v) catch { case _: Exception => false }

  // ===== wire reader =========================================================

  private final class Reader(bytes: Array[Byte], var pos: Int, val limit: Int) {
    def hasMore: Boolean = pos < limit
    def varint(): Long = {
      var shift = 0; var v = 0L; var b = 0x80
      while ((b & 0x80) != 0) {
        if (pos >= limit) throw new IllegalArgumentException("proto decode: truncated varint")
        if (shift > 63) throw new IllegalArgumentException("proto decode: varint too long")
        b = bytes(pos) & 0xFF; pos += 1
        v |= (b & 0x7FL) << shift; shift += 7
      }
      v
    }
    def fixed64(): Long = {
      require(pos + 8 <= limit, "proto decode: truncated fixed64")
      var v = 0L
      for (k <- 0 until 8) { v |= (bytes(pos) & 0xFFL) << (8 * k); pos += 1 }
      v
    }
    def fixed32(): Int = {
      require(pos + 4 <= limit, "proto decode: truncated fixed32")
      var v = 0
      for (k <- 0 until 4) { v |= (bytes(pos) & 0xFF) << (8 * k); pos += 1 }
      v
    }
    def lenDelim(): (Int, Int) = { // (start, end)
      val len = varint()
      require(len >= 0 && pos + len <= limit, s"proto decode: bad length $len")
      val s = pos; pos += len.toInt; (s, pos)
    }
  }

  private def decodeVarintKind(kind: String, raw: Long): Any = kind match {
    case "bool" => raw != 0L
    case "sint32" => ((raw >>> 1) ^ -(raw & 1)).toInt.toLong
    case "sint64" => (raw >>> 1) ^ -(raw & 1)
    case "int32" => raw.toInt.toLong
    case "uint32" => raw & 0xFFFFFFFFL
    case _ => raw // int64 / uint64 keep the full 64 bits
  }

  /** Decoded message: field-number → value (Vector for repeated). */
  private def decodeRaw(reg: Registry, msg: PMessage, bytes: Array[Byte],
                        from: Int, until: Int): mutable.LinkedHashMap[Int, Any] = {
    val r = new Reader(bytes, from, until)
    val acc = mutable.LinkedHashMap.empty[Int, Any]
    def add(f: PField, v: Any): Unit =
      if (f.repeated) acc.updateWith(f.num) {
        case Some(xs: Vector[Any @unchecked]) => Some(xs :+ v)
        case _ => Some(Vector(v))
      } else acc.update(f.num, v)

    while (r.hasMore) {
      val tag = r.varint()
      val num = (tag >>> 3).toInt
      val wire = (tag & 7).toInt
      msg.byNum.get(num) match {
        case None => wire match { // unknown field: skip (protojson drops unknowns)
          case 0 => r.varint()
          case 1 => r.fixed64()
          case 2 => r.lenDelim()
          case 5 => r.fixed32()
          case w => throw new IllegalArgumentException(s"proto decode: unsupported wire type $w")
        }
        case Some(f) =>
          val kind = f.tpe
          val numericScalar = ScalarKinds.contains(kind) && kind != "string" && kind != "bytes"
          val enumT = reg.enums.get(kind)
          wire match {
            case 0 if numericScalar || enumT.isDefined =>
              if (enumT.isDefined) add(f, decodeVarintKind("int32", r.varint()))
              else if (isVarintKind(kind)) add(f, decodeVarintKind(kind, r.varint()))
              else throw new IllegalArgumentException(s"proto decode: wire 0 for $kind")
            case 1 =>
              val bits = r.fixed64()
              kind match {
                case "double" => add(f, java.lang.Double.longBitsToDouble(bits))
                case "fixed64" | "sfixed64" => add(f, bits)
                case k => throw new IllegalArgumentException(s"proto decode: wire 1 for $k")
              }
            case 5 =>
              val bits = r.fixed32()
              kind match {
                case "float" => add(f, java.lang.Float.intBitsToFloat(bits).toDouble)
                case "fixed32" => add(f, bits.toLong & 0xFFFFFFFFL)
                case "sfixed32" => add(f, bits.toLong)
                case k => throw new IllegalArgumentException(s"proto decode: wire 5 for $k")
              }
            case 2 if kind == "string" =>
              val (s, e) = r.lenDelim(); add(f, new String(bytes, s, e - s, UTF_8))
            case 2 if kind == "bytes" =>
              val (s, e) = r.lenDelim()
              add(f, java.util.Base64.getEncoder.encodeToString(java.util.Arrays.copyOfRange(bytes, s, e)))
            case 2 if numericScalar || enumT.isDefined =>
              // packed repeated scalars
              val (s, e) = r.lenDelim()
              val pr = new Reader(bytes, s, e)
              while (pr.hasMore) {
                if (enumT.isDefined) add(f, decodeVarintKind("int32", pr.varint()))
                else if (isVarintKind(kind)) add(f, decodeVarintKind(kind, pr.varint()))
                else if (kind == "double") add(f, java.lang.Double.longBitsToDouble(pr.fixed64()))
                else if (isFixed64Kind(kind)) add(f, pr.fixed64())
                else if (kind == "float") add(f, java.lang.Float.intBitsToFloat(pr.fixed32()).toDouble)
                else if (kind == "fixed32") add(f, pr.fixed32().toLong & 0xFFFFFFFFL)
                else add(f, pr.fixed32().toLong)
              }
            case 2 =>
              val (s, e) = r.lenDelim()
              add(f, decodeRaw(reg, reg.message(kind), bytes, s, e))
            case w => throw new IllegalArgumentException(s"proto decode: wire $w for field ${f.name}")
          }
      }
    }
    acc
  }

  // ===== to_json =============================================================

  private def fmtTimestamp(secs: Long, nanos: Long): String =
    java.time.Instant.ofEpochSecond(secs, nanos).toString

  private def fmtDuration(secs: Long, nanos: Long): String = {
    if (nanos == 0) s"${secs}s"
    else {
      val frac =
        if (nanos % 1000000 == 0) f"${math.abs(nanos) / 1000000}%03d"
        else if (nanos % 1000 == 0) f"${math.abs(nanos) / 1000}%06d"
        else f"${math.abs(nanos)}%09d"
      val sign = if (secs < 0 || nanos < 0) "-" else ""
      s"$sign${math.abs(secs)}.${frac}s"
    }
  }

  /** Decoded field-number map → canonical JSON value tree (VectorMap keeps
    * protojson's field-declaration ordering). */
  private def jsonize(reg: Registry, msg: PMessage, raw: mutable.LinkedHashMap[Int, Any],
                      useProtoNames: Boolean, emitUnpopulated: Boolean): Any = {
    def scalarJson(kind: String, v: Any): Any = kind match {
      case "int64" | "sint64" | "sfixed64" => v.asInstanceOf[Long].toString
      case "uint64" | "fixed64" => java.lang.Long.toUnsignedString(v.asInstanceOf[Long])
      case _ => v
    }
    def valueJson(tpe: String, v: Any): Any =
      if (ScalarKinds.contains(tpe)) scalarJson(tpe, v)
      else reg.enums.get(tpe) match {
        case Some(en) =>
          val n = v.asInstanceOf[Long].toInt
          en.byNum.get(n).map(identity[Any]).getOrElse(n.toLong)
        case None =>
          jsonize(reg, reg.message(tpe), v.asInstanceOf[mutable.LinkedHashMap[Int, Any]],
            useProtoNames, emitUnpopulated)
      }
    def zeroJson(f: PField): Any =
      if (f.repeated) {
        if (reg.messages.get(f.tpe).exists(_.mapEntry)) VectorMap.empty[String, Any] else Vector.empty[Any]
      }
      else if (ScalarKinds.contains(f.tpe)) scalarJson(f.tpe, scalarDefault(f.tpe))
      else reg.enums.get(f.tpe) match {
        case Some(en) => en.byNum.get(0).map(identity[Any]).getOrElse(0L)
        case None => null // unset message renders as null under emit_unpopulated
      }

    // well-known special JSON forms
    if (msg.fqn == WktTimestamp) {
      val secs = raw.get(1).map(_.asInstanceOf[Long]).getOrElse(0L)
      val nanos = raw.get(2).map(_.asInstanceOf[Long]).getOrElse(0L)
      return fmtTimestamp(secs, nanos)
    }
    if (msg.fqn == WktDuration) {
      val secs = raw.get(1).map(_.asInstanceOf[Long]).getOrElse(0L)
      val nanos = raw.get(2).map(_.asInstanceOf[Long]).getOrElse(0L)
      return fmtDuration(secs, nanos)
    }
    WrapperKind.get(msg.fqn).foreach { kind =>
      return scalarJson(kind, raw.getOrElse(1, scalarDefault(kind)))
    }
    if (msg.fqn == WktValue) {
      // oneof kind → the bare JSON value (last-set wins, Go semantics)
      return raw.toSeq.lastOption match {
        case Some((1, _)) | None => null
        case Some((2, d)) => d
        case Some((3, s)) => s
        case Some((4, b)) => b
        case Some((5, sv)) => jsonize(reg, reg.message(WktStruct),
          sv.asInstanceOf[mutable.LinkedHashMap[Int, Any]], useProtoNames, emitUnpopulated)
        case Some((6, lv)) => jsonize(reg, reg.message(WktListValue),
          lv.asInstanceOf[mutable.LinkedHashMap[Int, Any]], useProtoNames, emitUnpopulated)
        case Some((n, _)) => throw new IllegalArgumentException(s"Value: unknown oneof field $n")
      }
    }
    if (msg.fqn == WktStruct) {
      var m = VectorMap.empty[String, Any]
      raw.get(1).foreach(_.asInstanceOf[Vector[Any]].foreach { ev =>
        val er = ev.asInstanceOf[mutable.LinkedHashMap[Int, Any]]
        val k = er.getOrElse(1, "").toString
        val value = er.get(2).map(x => jsonize(reg, reg.message(WktValue),
          x.asInstanceOf[mutable.LinkedHashMap[Int, Any]], useProtoNames, emitUnpopulated))
          .getOrElse(null)
        m += k -> value
      })
      return m
    }
    if (msg.fqn == WktListValue) {
      return raw.get(1).map(_.asInstanceOf[Vector[Any]].map(x =>
        jsonize(reg, reg.message(WktValue),
          x.asInstanceOf[mutable.LinkedHashMap[Int, Any]], useProtoNames, emitUnpopulated)))
        .getOrElse(Vector.empty[Any])
    }
    if (msg.fqn == WktFieldMask) {
      return raw.get(1).map(_.asInstanceOf[Vector[Any]]
        .map(p => lowerCamel(p.toString)).mkString(",")).getOrElse("")
    }
    if (msg.fqn == WktAny) {
      val url = raw.get(1).map(_.asInstanceOf[String]).getOrElse("")
      val b64 = raw.get(2).map(_.asInstanceOf[String]).getOrElse("")
      val innerBytes = java.util.Base64.getDecoder.decode(b64)
      val innerFqn = url.substring(url.lastIndexOf('/') + 1)
      val innerMsg = reg.message(innerFqn)
      val inner = jsonize(reg, innerMsg, decodeRaw(reg, innerMsg, innerBytes, 0, innerBytes.length),
        useProtoNames, emitUnpopulated)
      return inner match {
        case m: VectorMap[String @unchecked, Any @unchecked] => VectorMap[String, Any]("@type" -> url) ++ m
        case special => VectorMap[String, Any]("@type" -> url, "value" -> special)
      }
    }

    var out = VectorMap.empty[String, Any]
    msg.fields.foreach { f =>
      val key = if (useProtoNames) f.name else f.jsonName
      raw.get(f.num) match {
        case Some(v) if f.repeated =>
          reg.messages.get(f.tpe).filter(_.mapEntry) match {
            case Some(entry) =>
              var m = VectorMap.empty[String, Any]
              v.asInstanceOf[Vector[Any]].foreach { ev =>
                val er = ev.asInstanceOf[mutable.LinkedHashMap[Int, Any]]
                val k = er.getOrElse(1, scalarDefault(entry.fields(0).tpe)) match {
                  case b: Boolean => b.toString
                  case other => other.toString
                }
                val mv = er.get(2)
                  .map(x => valueJson(entry.fields(1).tpe, x))
                  .getOrElse(zeroJson(entry.fields(1).copy(repeated = false)))
                m += k -> mv
              }
              out += key -> m
            case None =>
              out += key -> v.asInstanceOf[Vector[Any]].map(x => valueJson(f.tpe, x))
          }
        case Some(v) => out += key -> valueJson(f.tpe, v)
        case None if emitUnpopulated => out += key -> zeroJson(f)
        case None => ()
      }
    }
    out
  }

  /** protojson-style rendering: insertion (field-declaration) order preserved,
    * unlike [[graft.blob.Interp.marshalJson]]'s sorted keys. */
  def renderJson(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case l: Long => l.toString
    case i: Int => i.toString
    case d: Double =>
      if (d.isNaN) "\"NaN\""
      else if (d.isPosInfinity) "\"Infinity\""
      else if (d.isNegInfinity) "\"-Infinity\""
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case s: String => graft.blob.Interp.marshalJson(s) // reuse the string quoter
    case xs: Vector[Any @unchecked] => xs.map(renderJson).mkString("[", ",", "]")
    case m: VectorMap[String @unchecked, Any @unchecked] =>
      m.map { case (k, mv) => graft.blob.Interp.marshalJson(k) + ":" + renderJson(mv) }
        .mkString("{", ",", "}")
    case other => throw new IllegalArgumentException(s"renderJson: ${other.getClass.getSimpleName}")
  }

  /** protojson `to_json`: wire bytes → canonical JSON text for `messageFqn`. */
  def toJson(reg: Registry, messageFqn: String, bytes: Array[Byte],
             useProtoNames: Boolean = false, emitUnpopulated: Boolean = false): String = {
    if (bytes == null) return null
    val msg = reg.message(messageFqn)
    renderJson(jsonize(reg, msg, decodeRaw(reg, msg, bytes, 0, bytes.length),
      useProtoNames, emitUnpopulated))
  }

  // ===== UDF-shaped entry points (cached registry per executor) ==============

  def encodeFile(importPaths: String, message: String, json: String, discardUnknown: Boolean): Array[Byte] =
    fromJson(registryFor(importPaths.split(',').toSeq.map(_.trim).filter(_.nonEmpty)),
      message, json, discardUnknown)

  def decodeFile(importPaths: String, message: String, bytes: Array[Byte],
                 useProtoNames: Boolean, emitUnpopulated: Boolean): String =
    toJson(registryFor(importPaths.split(',').toSeq.map(_.trim).filter(_.nonEmpty)),
      message, bytes, useProtoNames, emitUnpopulated)

  // ===== Confluent message-index framing =====================================
  // (impl/confluent/serde_protobuf.go:255-293, public Confluent wire format):
  // after the magic+schema-id header, a ZIGZAG-varint array — count then the
  // path of nested-message indexes from the file level — addresses the target
  // message within the schema; a single 0 byte is the shortcut for the first
  // top-level message.

  /** Path of declaration indexes from file level to `fqn` (e.g. the second
    * top-level message's first nested message → Vector(1, 0)). */
  def messageIndexes(reg: Registry, fqn: String): Vector[Int] = {
    val parts = fqn.split('.')
    // walk from the deepest prefix that is a message up to fqn
    val chain = (1 to parts.length).map(i => parts.take(i).mkString("."))
      .filter(reg.messages.contains)
    require(chain.nonEmpty && chain.last == fqn, s"message indexes: unknown message $fqn")
    chain.zipWithIndex.map { case (m, i) =>
      val siblings = if (i == 0) reg.topLevel else reg.childrenOf(chain(i - 1))
      val idx = siblings.indexOf(m)
      require(idx >= 0, s"message indexes: $m not found among its siblings")
      idx
    }.toVector
  }

  private def writeZigzagVarint(out: java.io.ByteArrayOutputStream, n: Long): Unit =
    writeVarint(out, zigzag64(n))

  def messageIndexBytes(reg: Registry, fqn: String): Array[Byte] = {
    val idxs = messageIndexes(reg, fqn)
    if (idxs == Vector(0)) Array[Byte](0) // first-message shortcut
    else {
      val out = new java.io.ByteArrayOutputStream()
      writeZigzagVarint(out, idxs.length.toLong)
      idxs.foreach(i => writeZigzagVarint(out, i.toLong))
      out.toByteArray
    }
  }

  /** Read the index array at `off`; returns (bytesRead, indexes). */
  def readMessageIndexes(bytes: Array[Byte], off: Int): (Int, Vector[Int]) = {
    val r = new Reader(bytes, off, bytes.length)
    def zz(): Long = { val raw = r.varint(); (raw >>> 1) ^ -(raw & 1) }
    val n = zz()
    if (n == 0L) (r.pos - off, Vector(0))
    else {
      val idxs = Vector.fill(n.toInt)(zz().toInt)
      (r.pos - off, idxs)
    }
  }

  /** Resolve an index path back to a message fqn. */
  def messageByIndexes(reg: Registry, idxs: Seq[Int]): String =
    idxs.foldLeft("") { (scope, i) =>
      val siblings = if (scope.isEmpty) reg.topLevel else reg.childrenOf(scope)
      require(i >= 0 && i < siblings.length,
        s"message index ($i) is greater than available message definitions (${siblings.length})")
      siblings(i)
    }

  /** Text-keyed registry: the schema ships inside the task closure, so this
    * variant is safe on a real cluster where the driver's .proto files are not
    * on executor filesystems (the file variant mirrors the reference's
    * `import_paths` and expects files shipped via `--files`). Parsed once per
    * schema text per executor JVM. */
  private val textCache = new java.util.concurrent.ConcurrentHashMap[String, Registry]()
  def registryForText(schemaText: String): Registry =
    textCache.computeIfAbsent(schemaText, t => parse(Seq(t)))

  def encodeText(schemaText: String, message: String, json: String, discardUnknown: Boolean): Array[Byte] =
    fromJson(registryForText(schemaText), message, json, discardUnknown)

  def decodeText(schemaText: String, message: String, bytes: Array[Byte],
                 useProtoNames: Boolean, emitUnpopulated: Boolean): String =
    toJson(registryForText(schemaText), message, bytes, useProtoNames, emitUnpopulated)
}
