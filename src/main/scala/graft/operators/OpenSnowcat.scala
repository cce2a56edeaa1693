package graft.operators

import graft.core.{Msg, Processor}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import scala.collection.immutable.VectorMap
import scala.collection.mutable

/** OpenSnowcat / Snowplow enriched-TSV processor (reference:
  * internal/impl/opensnowcat/processor_opensnowcat.go:31-1080 +
  * schema_extractor.go:8-80). Parses the PUBLIC 131-column Snowplow
  * enriched TSV format, applies drop filters (direct columns and iglu
  * schema property paths, OR logic), PII transforms (hash with salt,
  * redact, anonymize_ip for v4/v6), extracts metadata, discovers iglu
  * schema URIs, and emits tsv / flattened json / nested enriched_json.
  *
  * Spark-first split: the TSV is `split` once into an array column;
  * drop filters (element_at/lower/contains) and the hash/redact
  * transforms (md5/sha1/sha2/concat_ws) stay pure Column algebra
  * inside whole-stage codegen. Anything lambda-shaped deliberately
  * avoids higher-order Column functions — transform/filter/map_filter
  * are CodegenFallback and de-codegen the entire stage — and uses
  * small ScalaUDFs instead (IP masking, metadata merge, the iglu
  * property search, context flattening with dynamic output keys),
  * which stay inside the codegen span; the UDFs take the raw line as
  * one string (splitting in Scala costs 2 µs; an array<string>(131)
  * argument costs a 131-element boxed conversion per call). The drop
  * filter's predicate is stage-pinned so Catalyst cannot hoist it
  * below an upstream exchange onto the input's split count.
  */
object OpenSnowcat {

  /** The public Snowplow enriched-TSV canonical columns (131), lowercase.
    * Reference: processor_opensnowcat.go:33-66 quoting
    * docs.snowplow.io "understanding-the-enriched-tsv-format". */
  val columns: Vector[String] = Vector(
    "app_id", "platform", "etl_tstamp", "collector_tstamp", "dvce_created_tstamp",
    "event", "event_id", "txn_id", "name_tracker", "v_tracker",
    "v_collector", "v_etl", "user_id", "user_ipaddress", "user_fingerprint",
    "domain_userid", "domain_sessionidx", "network_userid", "geo_country", "geo_region",
    "geo_city", "geo_zipcode", "geo_latitude", "geo_longitude", "geo_region_name",
    "ip_isp", "ip_organization", "ip_domain", "ip_netspeed", "page_url",
    "page_title", "page_referrer", "page_urlscheme", "page_urlhost", "page_urlport",
    "page_urlpath", "page_urlquery", "page_urlfragment", "refr_urlscheme", "refr_urlhost",
    "refr_urlport", "refr_urlpath", "refr_urlquery", "refr_urlfragment", "refr_medium",
    "refr_source", "refr_term", "mkt_medium", "mkt_source", "mkt_term",
    "mkt_content", "mkt_campaign", "contexts", "se_category", "se_action",
    "se_label", "se_property", "se_value", "unstruct_event", "tr_orderid",
    "tr_affiliation", "tr_total", "tr_tax", "tr_shipping", "tr_city",
    "tr_state", "tr_country", "ti_orderid", "ti_sku", "ti_name",
    "ti_category", "ti_price", "ti_quantity", "pp_xoffset_min", "pp_xoffset_max",
    "pp_yoffset_min", "pp_yoffset_max", "useragent", "br_name", "br_family",
    "br_version", "br_type", "br_renderengine", "br_lang", "br_features_pdf",
    "br_features_flash", "br_features_java", "br_features_director", "br_features_quicktime",
    "br_features_realplayer", "br_features_windowsmedia", "br_features_gears", "br_features_silverlight",
    "br_cookies", "br_colordepth", "br_viewwidth", "br_viewheight", "os_name",
    "os_family", "os_manufacturer", "os_timezone", "dvce_type", "dvce_ismobile",
    "dvce_screenwidth", "dvce_screenheight", "doc_charset", "doc_width", "doc_height",
    "tr_currency", "tr_total_base", "tr_tax_base", "tr_shipping_base", "ti_currency",
    "ti_price_base", "base_currency", "geo_timezone", "mkt_clickid", "mkt_network",
    "etl_tags", "dvce_sent_tstamp", "refr_domain_userid", "refr_dvce_tstamp", "derived_contexts",
    "domain_sessionid", "derived_tstamp", "event_vendor", "event_name", "event_format",
    "event_version", "event_fingerprint", "true_tstamp")

  val colIndex: Map[String, Int] = columns.zipWithIndex.toMap

  // Typed parse table for the flattened `json` format — the public
  // snowplow analytics SDK column-type mapping.
  private val intCols = Set(
    "txn_id", "domain_sessionidx", "page_urlport", "refr_urlport",
    "pp_xoffset_min", "pp_xoffset_max", "pp_yoffset_min", "pp_yoffset_max",
    "br_viewwidth", "br_viewheight", "dvce_screenwidth", "dvce_screenheight",
    "doc_width", "doc_height", "ti_quantity")
  private val doubleCols = Set(
    "geo_latitude", "geo_longitude", "se_value", "tr_total", "tr_tax",
    "tr_shipping", "ti_price", "tr_total_base", "tr_tax_base",
    "tr_shipping_base", "ti_price_base")
  private val boolCols: Set[String] =
    columns.filter(_.startsWith("br_features_")).toSet ++ Set("br_cookies", "dvce_ismobile")
  private val tstampCols = Set(
    "etl_tstamp", "collector_tstamp", "dvce_created_tstamp", "dvce_sent_tstamp",
    "refr_dvce_tstamp", "derived_tstamp", "true_tstamp")
  private val jsonCols = Set("contexts", "derived_contexts", "unstruct_event")

  final case class Transform(
      strategy: String,
      hashAlgo: String = "",
      salt: String = "",
      redactValue: String = "[REDACTED]",
      anonOctets: Int = 2,
      anonSegments: Int = 4)

  /** Processor config mirroring the reference's ConfigSpec
    * (processor_opensnowcat.go:68-134): `output_format`, `filters.drop`
    * (field -> contains list), `filters.transform` and `set_metadata`. */
  final case class Config(
      outputFormat: String = "tsv",
      drop: Map[String, Seq[String]] = Map.empty,
      transforms: Map[String, Transform] = Map.empty,
      salt: String = "",
      hashAlgo: String = "SHA-256",
      setMetadata: Map[String, String] = Map.empty)

  /** Schema property paths keep case; plain columns normalize lowercase
    * (reference: processor_opensnowcat.go:371-375). The geo./metrics./
    * site. prefixes are flattened-JSON dotted keys, not iglu paths. */
  def isSchemaPath(f: String): Boolean =
    f.contains(".") && !f.startsWith("geo.") && !f.startsWith("metrics.") && !f.startsWith("site.")

  // ------------------------------------------------------------------ JSON walks

  private type JMap = VectorMap[String, Any]

  private def parseJson(s: String): Option[Any] =
    try Some(graft.blob.Interp.parseJsonTyped(s)) catch { case _: Exception => None }

  /** Recursive iglu property search (reference searchSchemaProperty,
    * processor_opensnowcat.go:719-762): match `vendor_name.`-prefixed
    * paths against any self-describing {schema, data} node. */
  private def searchProperty(node: Any, path: String): String = node match {
    case m: VectorMap[String @unchecked, Any @unchecked] =>
      val direct = m.get("schema") match {
        case Some(s: String) if s.startsWith("iglu:") =>
          val parts = s.stripPrefix("iglu:").split("/", 2)
          if (parts.length >= 2) {
            val vendor = parts(0)
            val name = parts(1).split("/")(0)
            val fullSchema = (vendor + "." + name).replace(".", "_")
            if (path.startsWith(fullSchema + ".")) {
              m.get("data") match {
                case Some(d: VectorMap[String @unchecked, Any @unchecked]) =>
                  nestedProperty(d, path.substring(fullSchema.length + 1))
                case _ => ""
              }
            } else ""
          } else ""
        case _ => ""
      }
      if (direct.nonEmpty) direct
      else m.values.iterator.map(searchProperty(_, path)).find(_.nonEmpty).getOrElse("")
    case a: Vector[Any @unchecked] =>
      a.iterator.map(searchProperty(_, path)).find(_.nonEmpty).getOrElse("")
    case _ => ""
  }

  private def nestedProperty(data: JMap, path: String): String = {
    val end: Any = path.split("\\.").foldLeft(data: Any) {
      case (m: VectorMap[String @unchecked, Any @unchecked], part) => m.getOrElse(part, null)
      case _ => null
    }
    end match {
      case null => ""
      case s: String => s
      case b: Boolean => b.toString
      case l: Long => l.toString
      case i: Int => i.toString
      case d: Double => if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString
      case other => String.valueOf(other)
    }
  }

  /** Search contexts, derived_contexts then unstruct_event for an iglu
    * property path (reference extractSchemaPropertyForMetadata /
    * matchesSchemaProperty, processor_opensnowcat.go:664-708). */
  def schemaProperty(ctx: String, derived: String, unstruct: String, path: String): String =
    Seq(ctx, derived, unstruct).iterator
      .filter(_ != null).filter(_.nonEmpty)
      .flatMap(parseJson)
      .map(searchProperty(_, path))
      .find(_.nonEmpty).getOrElse("")

  /** iglu URI -> (vendor, name, version) (reference parseSchemaURI,
    * processor_opensnowcat.go:1041-1059). */
  private def parseIglu(uri: String): Option[(String, String, String)] = {
    if (!uri.startsWith("iglu:")) None
    else {
      val parts = uri.stripPrefix("iglu:").split("/")
      if (parts.length < 4) None else Some((parts(0), parts(1), parts(3)))
    }
  }

  /** Flattened-json key per the public analytics-SDK convention:
    * `prefix_vendor_name_model` with dots/dashes -> underscores and
    * camelCase -> snake_case, lowercased (so org.w3/PerformanceTiming
    * at 1-0-0 flattens to contexts_org_w3_performance_timing_1). */
  private def flatKey(prefix: String, uri: String): Option[String] =
    parseIglu(uri).map { case (vendor, name, version) =>
      val v = vendor.replace('.', '_').replace('-', '_').toLowerCase
      val n = name.replaceAll("([^A-Z_])([A-Z])", "$1_$2")
        .replace('.', '_').replace('-', '_').toLowerCase
      val model = version.takeWhile(_ != '-')
      s"${prefix}_${v}_${n}_$model"
    }

  private def typedValue(name: String, raw: String): Any =
    if (tstampCols(name)) raw.replace(' ', 'T') + "Z"
    else if (intCols(name)) try raw.toLong catch { case _: NumberFormatException => raw }
    else if (doubleCols(name)) try raw.toDouble catch { case _: NumberFormatException => raw }
    else if (boolCols(name)) raw == "1"
    else raw

  /** The `json` output format: typed top-level fields; contexts and
    * derived_contexts both flatten (merged) to `contexts_<key>` arrays
    * of bare data objects; unstruct_event unwraps its self-describing
    * envelope to a single `unstruct_event_<key>` object. */
  def flatJson(fields: Seq[String]): String = {
    val out = mutable.LinkedHashMap[String, Any]()
    var i = 0
    while (i < columns.length && i < fields.length) {
      val name = columns(i)
      val v = fields(i)
      if (v.nonEmpty && !jsonCols(name)) out(name) = typedValue(name, v)
      i += 1
    }
    def p(name: String): Option[Any] = {
      val raw = fieldAt(fields, name)
      if (raw.nonEmpty) parseJson(raw) else None
    }
    shredEntries(p("contexts"), p("derived_contexts"), p("unstruct_event"))
      .foreach { case (k, v) => out(k) = v }
    graft.blob.Interp.marshalJson(VectorMap(out.toSeq: _*))
  }

  /** The shredded portion of the flattened `json` format, from the
    * already-parsed three JSON columns: merged `contexts_*` arrays in
    * first-seen order, then the unwrapped `unstruct_event_*` entry. */
  private def shredEntries(ctxNode: Option[Any], derNode: Option[Any],
                           unsNode: Option[Any]): Seq[(String, Any)] = {
    val ctx = mutable.LinkedHashMap[String, Vector[Any]]()
    ctxNode.foreach(walkContexts(_, ctx))
    derNode.foreach(walkContexts(_, ctx))
    val out = mutable.LinkedHashMap[String, Any]()
    ctx.foreach { case (k, arr) => out(k) = arr }
    unsNode.foreach {
      case m: VectorMap[String @unchecked, Any @unchecked] =>
        // unwrap the iglu unstruct_event envelope to the inner
        // self-describing payload (analytics-SDK shredding)
        val inner = m.get("schema") match {
          case Some(s: String) if s.contains("/unstruct_event/") =>
            m.get("data") match {
              case Some(d: VectorMap[String @unchecked, Any @unchecked]) => d
              case _ => m
            }
          case _ => m
        }
        for {
          uri <- inner.get("schema").collect { case s: String => s }
          key <- flatKey("unstruct_event", uri)
          data <- inner.get("data")
        } out(key) = data
      case _ => ()
    }
    out.toSeq
  }

  /** Collect self-describing contexts into flat `contexts_*` keys,
    * unwrapping the com.snowplowanalytics.snowplow/contexts wrapper
    * (both wrapper-object and bare-array inputs accepted). */
  private def walkContexts(node: Any, acc: mutable.LinkedHashMap[String, Vector[Any]]): Unit =
    node match {
      case a: Vector[Any @unchecked] => a.foreach(walkContexts(_, acc))
      case m: VectorMap[String @unchecked, Any @unchecked] =>
        m.get("schema") match {
          case Some(uri: String) if uri.contains("/contexts/") =>
            m.get("data").foreach(walkContexts(_, acc))
          case Some(uri: String) =>
            flatKey("contexts", uri).foreach { key =>
              m.get("data").foreach { d =>
                acc(key) = acc.getOrElse(key, Vector.empty) :+ d
              }
            }
          case _ => ()
        }
      case _ => ()
    }

  private def fieldAt(fields: Seq[String], name: String): String = {
    val i = colIndex(name)
    if (i < fields.length && fields(i) != null) fields(i) else ""
  }

  /** The `enriched_json` output format (reference
    * restructureForEnrichedJSON, processor_opensnowcat.go:902-1039):
    * nested key-based structure — each schema becomes a
    * `vendor_name` key (dots -> underscores, case preserved) holding
    * {version, data: [...]}; contexts and derived_contexts stay
    * separate; the snowplow contexts wrapper is unwrapped. */
  def enrichedJson(fields: Seq[String]): String = {
    val out = mutable.LinkedHashMap[String, Any]()
    var i = 0
    while (i < columns.length && i < fields.length) {
      val name = columns(i)
      val v = fields(i)
      if (v.nonEmpty && !jsonCols(name)) out(name) = typedValue(name, v)
      i += 1
    }
    def p(name: String): Option[Any] = {
      val raw = fieldAt(fields, name)
      if (raw.nonEmpty) parseJson(raw) else None
    }
    enrichedEntries(p("contexts"), p("derived_contexts"), p("unstruct_event"))
      .foreach { case (k, v) => out(k) = v }
    graft.blob.Interp.marshalJson(VectorMap(out.toSeq: _*))
  }

  /** The schema-derived portion of the enriched_json format, from the
    * already-parsed three JSON columns: `contexts`, `unstruct_event`,
    * `derived_contexts` keys in that order, each only when nonEmpty. */
  private def enrichedEntries(ctxNode: Option[Any], derNode: Option[Any],
                              unsNode: Option[Any]): Seq[(String, Any)] = {
    val out = mutable.LinkedHashMap[String, Any]()
    def contextsOf(node: Option[Any]): VectorMap[String, Any] = {
      val acc = mutable.LinkedHashMap[String, (String, Vector[Any])]()
      node.foreach(walkEnriched(_, acc))
      VectorMap(acc.toSeq.map { case (k, (ver, data)) =>
        k -> VectorMap[String, Any]("version" -> ver, "data" -> data)
      }: _*)
    }
    val ctx = contextsOf(ctxNode)
    if (ctx.nonEmpty) out("contexts") = ctx
    unsNode.foreach {
      case m: VectorMap[String @unchecked, Any @unchecked] =>
        for {
          uri <- m.get("schema").collect { case s: String => s }
          (vendor, name, version) <- parseIglu(uri)
        } {
          val key = (vendor + "." + name).replace(".", "_")
          val data = m.get("data").map(d => Vector(d)).getOrElse(Vector.empty)
          out("unstruct_event") = VectorMap[String, Any](
            key -> VectorMap[String, Any]("version" -> version, "data" -> data))
        }
      case _ => ()
    }
    val derived = contextsOf(derNode)
    if (derived.nonEmpty) out("derived_contexts") = derived
    out.toSeq
  }

  private def walkEnriched(node: Any,
                           acc: mutable.LinkedHashMap[String, (String, Vector[Any])]): Unit =
    node match {
      case a: Vector[Any @unchecked] => a.foreach(walkEnriched(_, acc))
      case m: VectorMap[String @unchecked, Any @unchecked] =>
        m.get("schema") match {
          case Some(uri: String) =>
            parseIglu(uri).foreach { case (vendor, name, version) =>
              val dotted = vendor + "." + name
              if (dotted == "com.snowplowanalytics.snowplow.contexts") {
                m.get("data").foreach(walkEnriched(_, acc)) // unwrap wrapper
              } else {
                val key = dotted.replace(".", "_")
                m.get("data").foreach { d =>
                  val (ver, arr) = acc.getOrElse(key, (version, Vector.empty[Any]))
                  acc(key) = (ver, arr :+ d)
                }
              }
            }
          case _ => ()
        }
      case _ => ()
    }

  /** Schema discovery (reference schema_extractor.go:8-80): every iglu
    * URI reachable from the three JSON columns, deduped. Exposed as a
    * sorted array column; at pipeline level discovery is an aggregation
    * (`collect_set` over the exploded URIs), not mutable driver state —
    * the Spark-native shape of the reference's flush loop. */
  def discoverSchemas(ctx: String, derived: String, unstruct: String): Seq[String] = {
    val acc = mutable.LinkedHashSet[String]()
    def walk(node: Any): Unit = node match {
      case m: VectorMap[String @unchecked, Any @unchecked] =>
        m.get("schema").collect { case s: String if s.startsWith("iglu:") => acc += s }
        m.values.foreach(walk)
      case a: Vector[Any @unchecked] => a.foreach(walk)
      case _ => ()
    }
    Seq(ctx, derived, unstruct).filter(_ != null).filter(_.nonEmpty)
      .flatMap(parseJson).foreach(walk)
    acc.toSeq.sorted
  }

  // ------------------------------------------------------------------ Column algebra

  // Every UDF takes the raw TSV line as ONE string and splits in Scala
  // (2 µs): handing Spark an array<string>(131) column instead costs a
  // per-row Catalyst→Scala conversion of 131 boxed strings per call —
  // measured as the dominant term of the first implementation. Config
  // (paths) binds in the closure, not as a per-row column.
  private def jsonTriple(fields: Array[String]): Seq[String] = {
    def at(name: String): String = {
      val i = colIndex(name)
      if (i < fields.length && fields(i) != null) fields(i) else ""
    }
    Seq(at("contexts"), at("derived_contexts"), at("unstruct_event"))
  }

  /** resolve ALL configured iglu paths in one pass — one JSON parse of
    * the three columns per row, however many filters/metadata mappings
    * reference schema properties */
  private def schemaPropsUdf(paths: Seq[String]) =
    udf((line: String) => {
      val parsed = jsonTriple(line.split("\t", -1)).filter(_.nonEmpty).flatMap(parseJson)
      paths.map(p => p ->
        parsed.iterator.map(searchProperty(_, p)).find(_.nonEmpty).getOrElse("")).toMap
    })
  private val flatJsonUdf =
    udf((line: String) => flatJson(scala.collection.immutable.ArraySeq.unsafeWrapArray(
      line.split("\t", -1))))

  /** ONE pass per row for configs that need both schema properties and
    * the flattened `json` output: split once, parse the three JSON
    * columns once, and emit BOTH the resolved property map (consumed by
    * the drop filter / set_metadata BEFORE rows are pruned) and the
    * shredded context/unstruct fragment (an object-body JSON string,
    * spliced into the final event AFTER the PII transforms). Replaces
    * the former schemaPropsUdf + flatJsonUdf double parse — the r9
    * bench's allocation-pressure tail on proc_opensnowcat. Sound
    * because the three JSON columns pass through the TSV rebuild
    * untouched whenever no transform targets them (guarded at the call
    * site). */
  private def propsAndShredsUdf(paths: Seq[String], enriched: Boolean) =
    udf((line: String) => {
      val fields = line.split("\t", -1)
      val t = jsonTriple(fields)
      val pCtx = if (t(0).nonEmpty) parseJson(t(0)) else None
      val pDer = if (t(1).nonEmpty) parseJson(t(1)) else None
      val pUns = if (t(2).nonEmpty) parseJson(t(2)) else None
      val parsed = Seq(pCtx, pDer, pUns).flatten
      val props = paths.map(p => p ->
        parsed.iterator.map(searchProperty(_, p)).find(_.nonEmpty).getOrElse("")).toMap
      val entries =
        if (enriched) enrichedEntries(pCtx, pDer, pUns)
        else shredEntries(pCtx, pDer, pUns)
      // each entry rendered INDIVIDUALLY — the assembler re-merges them
      // into the (sorted-key) top-level object without re-parsing
      (props, entries.map { case (k, v) =>
        k -> graft.blob.Interp.marshalJson(v)
      }.toMap)
    })

  /** Assemble the final JSON event from the REBUILT (post-PII) line plus
    * the precomputed per-key shred fragments: one split, zero JSON
    * parses. Byte-identical to the direct flatJson/enrichedJson build —
    * the single marshal call applies the same sorted-key contract, with
    * the pre-rendered fragments spliced verbatim via RawJson. */
  private val flatJsonShredsUdf =
    udf((line: String, shreds: Map[String, String]) => {
      val fields = line.split("\t", -1)
      val out = mutable.LinkedHashMap[String, Any]()
      var i = 0
      while (i < columns.length && i < fields.length) {
        val name = columns(i)
        val v = fields(i)
        if (v.nonEmpty && !jsonCols(name)) out(name) = typedValue(name, v)
        i += 1
      }
      if (shreds != null)
        shreds.foreach { case (k, v) => out(k) = graft.blob.Interp.RawJson(v) }
      graft.blob.Interp.marshalJson(VectorMap(out.toSeq: _*))
    })
  private val enrichedJsonUdf =
    udf((line: String) => enrichedJson(scala.collection.immutable.ArraySeq.unsafeWrapArray(
      line.split("\t", -1))))
  private val discoverUdf =
    udf((line: String) => {
      val t = jsonTriple(line.split("\t", -1))
      discoverSchemas(t(0), t(1), t(2))
    })

  /** Mask the last n IPv4 octets / n non-empty IPv6 segments with "x"
    * (reference anonymizeIPv4/IPv6, processor_opensnowcat.go:790-827).
    * A plain Scala function behind a ScalaUDF: higher-order Column
    * functions (transform/filter/slice lambdas) are CodegenFallback in
    * Spark and would break the WHOLE whole-stage-codegen span for every
    * row, not just this expression — a ScalaUDF stays inside the span. */
  def anonymizeIp(ip: String, octets: Int, segments: Int): String =
    if (ip == null || ip.isEmpty) ip
    else if (ip.contains(":")) {
      if (segments <= 0) ip
      else {
        val parts = ip.split(":", -1)
        var left = segments
        var i = parts.length - 1
        while (i >= 0 && left > 0) {
          if (parts(i).nonEmpty) { parts(i) = "x"; left -= 1 }
          i -= 1
        }
        parts.mkString(":")
      }
    } else {
      if (octets <= 0) ip
      else {
        val parts = ip.split("\\.", -1)
        if (parts.length != 4) ip // invalid shape passes through (reference warns)
        else {
          var i = math.max(0, 4 - octets)
          while (i < 4) { parts(i) = "x"; i += 1 }
          parts.mkString(".")
        }
      }
    }

  private def anonUdf(t: Transform) =
    udf((ip: String) => anonymizeIp(ip, t.anonOctets, t.anonSegments))

  private def hashCol(v: Column, algo: String, salt: String): Column = {
    val input = concat(v, lit(salt))
    algo.toUpperCase match {
      case "MD5" => md5(input)
      case "SHA-1" => sha1(input)
      case "SHA-384" => sha2(input, 384)
      case "SHA-512" => sha2(input, 512)
      case _ => sha2(input, 256) // SHA-256 and unknown algos (reference default)
    }
  }

  private def transformed(v: Column, t: Transform, cfg: Config): Column = {
    val applied = t.strategy match {
      case "hash" =>
        hashCol(v,
          if (t.hashAlgo.nonEmpty) t.hashAlgo else cfg.hashAlgo,
          if (t.salt.nonEmpty) t.salt else cfg.salt)
      case "redact" => lit(t.redactValue)
      case "anonymize_ip" => anonUdf(t)(v)
      case _ => v // unknown strategy: pass through (reference logs a warning)
    }
    when(v.isNull || v === "", v).otherwise(applied)
  }

  /** Build the processor: content = one enriched-TSV line per message.
    * Dropped events are filtered out of the DataFrame (the reference
    * returns a nil batch); the `dropped` metric is the row-count delta. */
  def processor(cfg: Config): Processor = Processor("opensnowcat") { df =>
    val colsExpr = split(col(Msg.ContentCol), "\t", -1)
    var out = df.withColumn("_osc", colsExpr)
    val cols = col("_osc")

    // every schema path used anywhere in the config resolves in ONE
    // UDF call per row (one split + one parse of the JSON columns).
    // When the output format is `json` and no transform rewrites a JSON
    // column, that same pass ALSO emits the shredded context fragment —
    // the final flat-JSON build then never re-parses (combined path).
    val schemaPaths: Seq[String] =
      (cfg.setMetadata.values.toSeq ++ cfg.drop.keys.toSeq).filter(isSchemaPath).distinct
    val combined = schemaPaths.nonEmpty &&
      (cfg.outputFormat == "json" || cfg.outputFormat == "enriched_json") &&
      !cfg.transforms.keys.exists(f => !isSchemaPath(f) && jsonCols(f.toLowerCase))
    // The props UDF is tagged nondeterministic as a PLACEMENT PIN (the
    // function itself is pure — same trick as the drop filter below):
    // without it Catalyst pushes the drop filter through this projection,
    // substituting the UDF (and the whole upstream TSV build) INTO the
    // predicate — the heavy parse then runs up to twice in the filter and
    // again in the projection (the r9 variance tail on proc_opensnowcat).
    if (combined)
      out = out.withColumn("_oscb",
          propsAndShredsUdf(schemaPaths, enriched = cfg.outputFormat == "enriched_json")
            .asNondeterministic()(col(Msg.ContentCol)))
        .withColumn("_oscp", col("_oscb")("_1"))
    else if (schemaPaths.nonEmpty)
      out = out.withColumn("_oscp",
        schemaPropsUdf(schemaPaths).asNondeterministic()(col(Msg.ContentCol)))
    def propCol(path: String): Column = coalesce(col("_oscp")(path), lit(""))

    // 1. set_metadata before filters/transforms (reference Process order,
    //    processor_opensnowcat.go:547-556); empty values stay unset.
    //    One ScalaUDF merges ALL mappings into the meta map — the
    //    map_concat/map_filter Column route is CodegenFallback (lambda
    //    map_filter) and would de-codegen the stage
    if (cfg.setMetadata.nonEmpty) {
      val mapping = cfg.setMetadata.toSeq
      val merge = udf((meta: Map[String, String], line: String, props: Map[String, String]) => {
        val fields = line.split("\t", -1)
        val add = mapping.flatMap { case (metaKey, field) =>
          val v =
            if (isSchemaPath(field)) props.getOrElse(field, "")
            else colIndex.get(field.toLowerCase).filter(_ < fields.length)
              .map(fields(_)).getOrElse("")
          if (v.nonEmpty) Some(metaKey -> v) else None
        }
        (if (meta == null) Map.empty[String, String] else meta) ++ add
      })
      val props =
        if (schemaPaths.nonEmpty) col("_oscp")
        else typedLit(Map.empty[String, String])
      out = out.withColumn(Msg.MetaCol, merge(col(Msg.MetaCol), col(Msg.ContentCol), props))
    }

    // 2. drop filters — OR across fields, case-insensitive substring;
    //    element_at/lower/contains all stay in codegen. The combined
    //    predicate is wrapped in a nondeterministic-tagged identity to
    //    PIN its stage placement: Catalyst otherwise pushes it below an
    //    upstream repartition, inlining the TSV build + JSON walk into
    //    the pre-shuffle stage and serializing the whole pipeline on
    //    the input's split count (measured 6.4 s → 1.6 s at sf0.1 on a
    //    one-file input). Nothing here can reach a parquet PushedFilter
    //    anyway — the predicate reads constructed columns, not scanned
    //    attributes — so pinning costs no real pushdown at scale.
    if (cfg.drop.nonEmpty) {
      val conds = cfg.drop.toSeq.map { case (field, needles) =>
        val value =
          if (isSchemaPath(field)) propCol(field)
          else colIndex.get(field.toLowerCase).map(i => element_at(cols, i + 1)).getOrElse(lit(""))
        needles.map(n => lower(value).contains(lit(n.toLowerCase))).reduce(_ || _)
      }
      val keep = udf((b: Boolean) => b).asNondeterministic()
      out = out.filter(keep(!conds.reduce(_ || _)))
    }

    // 3. PII transforms + TSV rebuild in ONE codegen'd concat_ws over
    //    per-index element_at columns (an ArrayTransform lambda would
    //    be CodegenFallback and kill the stage's codegen span); when no
    //    transforms are configured the content string passes through
    //    untouched
    val tsv: Column =
      if (cfg.transforms.isEmpty) col(Msg.ContentCol)
      else {
        val byIdx: Map[Int, Transform] = cfg.transforms.flatMap { case (f, t) =>
          val key = if (isSchemaPath(f)) f else f.toLowerCase
          colIndex.get(key).map(_ -> t)
        }
        // coalesce per slot: concat_ws SKIPS null args (losing their
        // separators), so a short line must read as "" per column
        concat_ws("\t", columns.indices.map { i =>
          val v = coalesce(element_at(cols, i + 1), lit(""))
          byIdx.get(i).map(t => transformed(v, t, cfg)).getOrElse(v)
        }: _*)
      }

    // 4. output format — the JSON formats take the single rebuilt line
    // the shred-splice assembler is format-agnostic: both JSON formats
    // share the typed top-level build and differ only in the fragment
    // the combined UDF precomputed
    val content = cfg.outputFormat match {
      case "json" | "enriched_json" if combined =>
        flatJsonShredsUdf(tsv, col("_oscb")("_2"))
      case "json" => flatJsonUdf(tsv)
      case "enriched_json" => enrichedJsonUdf(tsv)
      case _ => tsv
    }
    out.withColumn(Msg.ContentCol, content).drop("_osc", "_oscp", "_oscb")
  }

  /** Schema-discovery column for pipeline-level aggregation:
    * `collect_set(explode(discoveredSchemas(content)))` gives the
    * reference's flush payload without driver-side mutable state. */
  def discoveredSchemas(content: Column): Column = discoverUdf(content)

  /** Schema-delivery flush (reference schema_delivery.go:26-121): POST
    * the discovered iglu URIs as JSON to the configured endpoint, with
    * `{{SCHEMAS}}` template substitution. The reference flushes from a
    * ticker goroutine over mutable driver state; the Spark shape is a
    * periodic `collect_set` aggregation (batch) or `foreachBatch`
    * (streaming) whose result this delivers — delivery itself is the
    * same one bounded POST either way. Returns true when delivered (so
    * callers clear their accumulated set, reference flush():61-69);
    * an empty set is a no-op exactly like the reference. */
  def deliverSchemas(schemas: Seq[String], endpoint: String,
                     template: String = """{"schemas": {{SCHEMAS}}}"""): Boolean = {
    if (schemas.isEmpty) false
    else {
      val json = schemas.map(s => "\"" + s + "\"").mkString("[", ",", "]")
      val body = template.replace("{{SCHEMAS}}", json)
      val http = new graft.conn.Aws.Http
      try {
        val r = http.request("POST", endpoint,
          Seq("content-type" -> "application/json"), body.getBytes("UTF-8"))
        require(r.status < 300, s"schema delivery: ${r.status}")
        true
      } finally http.close()
    }
  }
}
