package graft

import graft.core.Tables
import graft.functions.Blob
import graft.ml.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Oracle-checked queries for the Bloblang method families that round 1
  * left ScalaTest-only (SURVEY §2.2/§2.3): coercion, match/if, the string
  * long tail, higher-order array methods, object/map methods, the full
  * timestamp family, encodings, UDF-backed methods (slug, strip_html,
  * durations, form decoding), compression codecs, and batch-positional
  * functions (`from_all`, `batch_size`, `from`).
  *
  * Oracle parity rules (see QueriesCore): DECIMAL-cast before SUM of
  * doubles; round(…, 6) on transcendentals; integer aggregates cast back to
  * BIGINT in DuckDB (SUM(BIGINT) is HUGEINT → float64 in pandas).
  */
object QueriesBlob {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String) = Tables(s, dir, name)

  val queries: Map[String, Q] = Map(

    // coercion + pipe/or + try_cast fallback (methods.go:148,741,767,807)
    "blob_coercion" -> ((s, dir) => t(s, dir, "events").select(
      col("event_id"),
      Blob.jsonPath(col("props"), "$.k").cast(LongType).as("k"),
      Blob.pipe(when(col("value") > 50.0, col("value")), lit(0.0)).as("v_or"),
      Blob.number(col("event_type") === "click").as("clicked"),
      coalesce(expr("try_cast(event_type AS BIGINT)"), lit(-1L)).as("not_num"),
      Blob.string(col("value")).as("v_str"))),

    // match expression + if/else (query_expression_parser.go:10-160)
    "blob_match" -> ((s, dir) => t(s, dir, "orders").select(
      col("o_orderkey"),
      Blob.matchCase(Seq(
        col("o_orderpriority").startsWith("1") -> lit("urgent"),
        col("o_orderpriority").startsWith("2") -> lit("high")),
        default = lit("normal")).as("tier"),
      Blob.iff(col("o_totalprice") > 250000.0, lit("big"), lit("small")).as("sizecls"))),

    // string long tail: capitalize/trim_prefix/index_of/contains/reverse/
    // repeat/format (methods_strings.go:63,2005,516,1969,1377,2069,670)
    "blob_strings2" -> ((s, dir) => t(s, dir, "part").select(
      col("p_partkey"),
      Blob.capitalize(col("p_name")).as("cap"),
      Blob.trimPrefix(col("p_name"), "red ").as("unprefixed"),
      Blob.indexOf(col("p_type"), "O").cast(LongType).as("idx_o"),
      Blob.containsS(col("p_name"), "red").as("has_red"),
      Blob.reverseS(col("p_brand")).as("brand_rev"),
      Blob.repeatS(lit("ab"), pmod(col("p_size"), lit(3)) + 1).as("rep"),
      Blob.formatS("%s|%04d", col("p_brand"), col("p_size")).as("fmt"),
      element_at(Blob.splitS(col("p_name"), " "), 1).as("first_word"))),

    // higher-order array methods over tokenized text (methods_structured.go:
    // 368,641,913,1204,1563; lambdas filter/map_each/fold/sort/unique)
    "blob_arrays" -> ((s, dir) => {
      val toks = Dedup.tokens(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        size(toks).cast(LongType).as("n_tok"),
        array_join(slice(array_sort(array_distinct(toks)), 1, 3), "|").as("uniq_head3"),
        size(filter(toks, tk => length(tk) > 4)).cast(LongType).as("n_long"),
        array_join(transform(slice(toks, 1, 4), tk => upper(tk)), "-").as("head_upper"),
        aggregate(toks, lit(0L), (acc, tk) => acc + length(tk)).as("len_sum"),
        exists(toks, tk => tk === "table").as("has_table"),
        forall(toks, tk => length(tk) < 20).as("all_short"))
    }),

    // object/map methods (methods_structured.go:810,1048,1693; bloblang_objects.go)
    "blob_objects" -> ((s, dir) => {
      val m = map(lit("brand"), col("p_brand"), lit("type"), col("p_type"))
      t(s, dir, "part").select(
        col("p_partkey"),
        array_join(array_sort(Blob.keys(m)), ",").as("keys_sorted"),
        element_at(m, "brand").as("brand_v"),
        size(Blob.withoutKeys(m, Seq("type"))).cast(LongType).as("n_without"),
        array_join(transform(Blob.keyValues(m),
          e => concat(e.getField("key"), lit("="), e.getField("value"))), ";").as("kv_str"))
    }),

    // timestamp family: format/parse round-trip, trunc month/week, interval
    // add, diff, unix, timezone (bloblang_time.go:48-599)
    "blob_ts2" -> ((s, dir) => t(s, dir, "orders").select(
      col("o_orderkey"),
      Blob.tsFormat(col("o_orderdate"), "yyyy/MM/dd").as("fmt"),
      year(Blob.tsParse(Blob.tsFormat(col("o_orderdate"), "yyyy/MM/dd"), "yyyy/MM/dd"))
        .cast(LongType).as("reparsed_y"),
      Blob.tsFormat(Blob.tsFloor(col("o_orderdate"), "month"), "yyyy-MM-dd").as("month_start"),
      Blob.tsFormat(Blob.tsFloor(col("o_orderdate"), "week"), "yyyy-MM-dd").as("week_start"),
      Blob.tsFormat(col("o_orderdate") + expr("INTERVAL 3 DAYS"), "yyyy-MM-dd").as("plus3d"),
      datediff(to_date(lit("1998-12-31")), to_date(col("o_orderdate")))
        .cast(LongType).as("days_to_end"),
      Blob.tsUnix(col("o_orderdate")).as("epoch_s"),
      hour(Blob.tsTz(col("o_orderdate"), "America/New_York")).cast(LongType).as("ny_hour"))),

    // encode/decode round-trips + url escaping + filepath join/split
    // (methods_strings.go:90,196,573,615,646)
    "blob_encode2" -> ((s, dir) => t(s, dir, "part").select(
      col("p_partkey"),
      Blob.escapeUrlQuery(col("p_name")).as("url_enc"),
      Blob.unescapeUrlQuery(Blob.escapeUrlQuery(col("p_name"))).as("url_rt"),
      Blob.string(Blob.decodeBase64(Blob.encodeBase64(col("p_name")))).as("b64_rt"),
      Blob.string(Blob.decodeHex(Blob.encodeHex(col("p_name")))).as("hex_rt"),
      concat_ws("/", col("p_brand"), col("p_type")).as("path_join"),
      element_at(Blob.splitS(col("p_name"), " "), -1).as("last_word"))),

    // UDF-backed long tail: slug, strip_html, parse_duration{,_iso8601},
    // parse_form_url_encoded (impl/lang/bloblang.go:43, methods_strings.go:
    // 1922, bloblang_time.go:157,199, bloblang_string.go:14)
    "blob_udfs" -> ((s, dir) => t(s, dir, "part").select(
      col("p_partkey"),
      call_udf("blob_slug", concat(upper(col("p_name")), lit(" & co"))).as("slug"),
      call_udf("blob_strip_html",
        concat(lit("<b>"), col("p_name"), lit("</b> <i>x</i>"))).as("stripped"),
      call_udf("blob_parse_duration",
        concat(col("p_size").cast(StringType), lit("m30s"))).as("dur_ns"),
      call_udf("blob_parse_duration_iso8601",
        concat(lit("PT"), col("p_size").cast(StringType), lit("M"))).as("dur_iso_ns"),
      element_at(call_udf("blob_parse_form_url_encoded",
        concat(lit("a="), col("p_size").cast(StringType), lit("&b=hello+world"))), "a").as("form_a"),
      element_at(call_udf("blob_parse_form_url_encoded",
        concat(lit("a="), col("p_size").cast(StringType), lit("&b=hello+world"))), "b").as("form_b"))),

    // compression codecs: gzip/zstd/lz4/snappy/flate round-trips
    // (bloblang_encoding.go:9-50; zstd/lz4/snappy via Spark's own codec jars)
    "blob_compress" -> ((s, dir) => {
      def rt(codec: String): Column = md5(call_udf(s"blob_decompress_$codec",
        call_udf(s"blob_compress_$codec", col("text").cast(BinaryType))))
      t(s, dir, "documents").select(
        col("doc_id"),
        rt("gzip").as("rt_gzip"),
        rt("zstd").as("rt_zstd"),
        rt("lz4").as("rt_lz4"),
        rt("snappy").as("rt_snappy"),
        rt("flate").as("rt_flate"),
        rt("zlib").as("rt_zlib"),
        rt("bzip2").as("rt_bzip2"))
    }),

    // batch-positional functions: from_all().sum(), batch_size, from(0)
    // (methods.go:229, functions.go:186-201) — batch = the full frame here.
    // The batch-global values come from ONE aggregate broadcast back to
    // every row, not an empty-partition window: Window.partitionBy() is a
    // single-task funnel of the whole table, while agg + broadcast
    // crossJoin keeps the scan fully parallel and moves three scalars
    // (window-skew audit, PLANS.md).
    "blob_from_all" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val g = ev.agg(
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("_tot"),
        count(lit(1)).as("batch_size"),
        max(when(col("event_id") === 0L, col("value"))).as("v_from0"))
      ev.crossJoin(broadcast(g)).select(
        col("event_id"),
        round(col("value") / col("_tot"), 6).as("share"),
        col("batch_size"), col("v_from0"))
    }),

    // jsonpath navigation: nested objects, array index, missing-path
    // fallback (functions.go:491, impl/jsonpath/bloblang_jsonpath.go:18)
    "blob_jsonpath" -> ((s, dir) => {
      val j = format_string("""{"a":{"b":%s,"c":[1,2,3]}}""",
        Blob.jsonPath(col("props"), "$.k"))
      t(s, dir, "events").select(
        col("event_id"),
        Blob.jsonPath(j, "$.a.b").cast(LongType).as("b"),
        Blob.jsonPath(j, "$.a.c[1]").cast(LongType).as("c1"),
        coalesce(Blob.jsonPath(j, "$.x"), lit("-")).as("missing"))
    })
  )

  val oracle: Map[String, String] = Map(
    "blob_coercion" ->
      """SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k,
           coalesce(CASE WHEN value > 50.0 THEN value END, 0.0) AS v_or,
           (event_type = 'click')::DOUBLE AS clicked,
           coalesce(TRY_CAST(event_type AS BIGINT), -1) AS not_num,
           value::VARCHAR AS v_str
         FROM events""",
    "blob_match" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderpriority LIKE '1%' THEN 'urgent'
                WHEN o_orderpriority LIKE '2%' THEN 'high'
                ELSE 'normal' END AS tier,
           CASE WHEN o_totalprice > 250000.0 THEN 'big' ELSE 'small' END AS sizecls
         FROM orders""",
    "blob_strings2" ->
      """SELECT p_partkey,
           array_to_string(list_transform(string_split(p_name, ' '),
             w -> upper(substr(w,1,1)) || lower(substr(w,2))), ' ') AS cap,
           CASE WHEN p_name LIKE 'red %' THEN substr(p_name, 5) ELSE p_name END AS unprefixed,
           (strpos(p_type, 'O') - 1)::BIGINT AS idx_o,
           contains(p_name, 'red') AS has_red,
           reverse(p_brand) AS brand_rev,
           repeat('ab', p_size % 3 + 1) AS rep,
           printf('%s|%04d', p_brand, p_size) AS fmt,
           string_split(p_name, ' ')[1] AS first_word
         FROM part""",
    "blob_arrays" -> {
      val tok = "list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), x -> x <> '')"
      s"""SELECT doc_id,
           len($tok)::BIGINT AS n_tok,
           array_to_string(list_sort(list_distinct($tok))[1:3], '|') AS uniq_head3,
           len(list_filter($tok, x -> length(x) > 4))::BIGINT AS n_long,
           array_to_string(list_transform(($tok)[1:4], x -> upper(x)), '-') AS head_upper,
           list_sum(list_transform($tok, x -> length(x)))::BIGINT AS len_sum,
           list_contains($tok, 'table') AS has_table,
           len(list_filter($tok, x -> length(x) >= 20)) = 0 AS all_short
         FROM documents"""
    },
    "blob_objects" ->
      """SELECT p_partkey,
           array_to_string(list_sort(map_keys(map(['brand','type'], [p_brand, p_type]))), ',') AS keys_sorted,
           map_extract(map(['brand','type'], [p_brand, p_type]), 'brand')[1] AS brand_v,
           len(list_filter(map_keys(map(['brand','type'], [p_brand, p_type])), k -> k <> 'type'))::BIGINT AS n_without,
           'brand=' || p_brand || ';type=' || p_type AS kv_str
         FROM part""",
    "blob_ts2" ->
      """SELECT o_orderkey,
           strftime(o_orderdate, '%Y/%m/%d') AS fmt,
           year(strptime(strftime(o_orderdate, '%Y/%m/%d'), '%Y/%m/%d'))::BIGINT AS reparsed_y,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start,
           strftime(o_orderdate + INTERVAL 3 DAY, '%Y-%m-%d') AS plus3d,
           date_diff('day', o_orderdate::DATE, DATE '1998-12-31')::BIGINT AS days_to_end,
           epoch(o_orderdate)::BIGINT AS epoch_s,
           hour(timezone('America/New_York', timezone('UTC', o_orderdate)))::BIGINT AS ny_hour
         FROM orders""",
    "blob_encode2" ->
      """SELECT p_partkey,
           replace(p_name, ' ', '+') AS url_enc,
           p_name AS url_rt,
           p_name AS b64_rt,
           p_name AS hex_rt,
           p_brand || '/' || p_type AS path_join,
           string_split(p_name, ' ')[-1] AS last_word
         FROM part""",
    "blob_udfs" ->
      """SELECT p_partkey,
           trim(regexp_replace(lower(upper(p_name) || ' & co'), '[^a-z0-9]+', '-', 'g'), '-') AS slug,
           p_name || ' x' AS stripped,
           p_size::BIGINT * 60000000000 + 30000000000 AS dur_ns,
           p_size::BIGINT * 60000000000 AS dur_iso_ns,
           p_size::VARCHAR AS form_a,
           'hello world' AS form_b
         FROM part""",
    "blob_compress" ->
      """SELECT doc_id, md5(text) AS rt_gzip, md5(text) AS rt_zstd,
           md5(text) AS rt_lz4, md5(text) AS rt_snappy, md5(text) AS rt_flate,
           md5(text) AS rt_zlib, md5(text) AS rt_bzip2
         FROM documents""",
    "blob_from_all" ->
      """SELECT event_id,
           round(value / (SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) FROM events), 6) AS share,
           (SELECT COUNT(*) FROM events) AS batch_size,
           (SELECT value FROM events WHERE event_id = 0) AS v_from0
         FROM events""",
    "blob_jsonpath" ->
      """SELECT event_id,
           json_extract_string(props, '$.k')::BIGINT AS b,
           2::BIGINT AS c1,
           '-' AS missing
         FROM events"""
  )
}
