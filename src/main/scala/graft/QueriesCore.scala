package graft

import graft.core.{Flow, Msg, Processor, Tables}
import graft.functions.Blob
import graft.operators.Processors
import graft.streaming.{Run, Windows}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core operator queries + their DuckDB oracle SQL (SURVEY §2.1-2.8).
  *
  * Float discipline for hash-exact oracle parity: per-row double arithmetic
  * is IEEE-deterministic (same ops in both engines), but SUM over doubles is
  * order-dependent — so every aggregated measure is cast to DECIMAL first
  * (exact, associative), summed, then cast back to DOUBLE. Transcendentals
  * (ln, sqrt) are rounded to 6 dp to absorb last-ulp libm differences.
  */
object QueriesCore {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String) = Tables(s, dir, name)
  /** SUM(CAST(x AS DECIMAL(18,p))) :: DOUBLE — the exact-sum idiom. */
  private def dsum(c: Column, p: Int = 4): Column =
    sum(c.cast(DecimalType(18, p))).cast(DoubleType)

  /** Prepared (time-split) streaming input dirs, one per source dir per
    * JVM: two time-ordered files + maxFilesPerTrigger=1 force multiple
    * micro-batches, so watermarks/streaming state actually advance
    * mid-query. Cached so bench re-runs time the STREAMING query, not
    * repeated parquet rewrites. */
  private val streamSplitInputs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  private[graft] def timeSplitEventsDir(s: SparkSession, dir: String): java.nio.file.Path =
    streamSplitInputs.computeIfAbsent(dir, { _ =>
      import org.apache.spark.sql.Row
      val ev = t(s, dir, "events")
        .select(col("ts"), col("event_id"), col("event_type"), col("value"))
      val Row(tmin: java.sql.Timestamp, tmax: java.sql.Timestamp) =
        ev.agg(min("ts"), max("ts")).head()
      val splitTs = new java.sql.Timestamp((tmin.getTime + tmax.getTime) / 2)
      Run.writeSplitDir("swa_in", Seq(
        (ev.filter(col("ts") < lit(splitTs)), "0_events.parquet"),
        (ev.filter(col("ts") >= lit(splitTs)), "1_events.parquet")))
    })

  val queries: Map[String, Q] = Map(

    // mapping processor (processor_mapping.go:21): projection + computed col + filter pushdown
    "proc_mapping" -> ((s, dir) => Flow(t(s, dir, "lineitem"))
      .where(col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1995-09-01 00:00:00")))
      .pipe(Processors.mapping(
        "l_orderkey" -> col("l_orderkey"),
        "l_linenumber" -> col("l_linenumber"),
        "revenue" -> col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
      .result),

    // mutation + groupBy agg (TPC-H Q1 flavor)
    "agg_q1" -> ((s, dir) => Flow(t(s, dir, "lineitem"))
      .pipe(Processors.mutation("disc_price" -> col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
      .map(_.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(col("l_quantity"), 2).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("disc_price")).as("sum_disc_price"),
        (sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order")))
      .result),

    // 3-way join + agg + top-k (TPC-H Q3 flavor); dims broadcast
    "join_topk" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderkey")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // global sort + limit (Spark-native; SURVEY §2.9 gap-fill)
    "sort_limit" -> ((s, dir) => t(s, dir, "orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)),

    // ranking window functions (SURVEY §2.9 gap-fill)
    "window_rank" -> ((s, dir) => {
      val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal", "rn")
    }),

    // the SAME ranking computed skew-proof: two-phase range-partitioned
    // row_number (Processors.scalableRowNumber — the window-skew audit's
    // escape hatch for groups too large for one task). Shares
    // window_rank's oracle: identical semantics, different physical plan.
    "window_rank_scaled" -> ((s, dir) =>
      Processors.scalableRowNumber(t(s, dir, "customer"),
          col("c_nationkey"), Seq(col("c_acctbal").desc, col("c_custkey")), "rn")
        .filter(col("rn") <= 3)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          col("rn").cast(IntegerType).as("rn"))),

    // dedupe processor (processor_dedupe.go:20): deterministic first-seen winner
    "proc_dedupe" -> ((s, dir) => Flow(t(s, dir, "events"))
      .pipe(Processors.dedupe(Seq(col("user_id"), col("event_type")), col("event_id")))
      .pipe(Processors.mapping(
        "user_id" -> col("user_id"),
        "event_type" -> col("event_type"),
        "first_event_id" -> col("event_id")))
      .result),

    // switch processor (processor_switch.go:29): expression-only cases
    // collapse to a single-pass when/otherwise projection (one scan)
    "proc_switch" -> ((s, dir) => Flow(t(s, dir, "orders"))
      .pipe(Processors.switchExpr(Seq(
        (col("o_totalprice") > 400000.0) -> Seq("bucket" -> lit("high")),
        (col("o_totalprice") >= 100000.0) -> Seq("bucket" -> lit("mid"))),
        default = Seq("bucket" -> lit("low"))))
      .map(_.groupBy("bucket").agg(
        count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("total")))
      .result),

    // branch processor (processor_branch.go:25): enrich via child sub-plan, join back
    "proc_branch" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val region = t(s, dir, "region")
      val enrich = Processor("lookup") { req =>
        req.join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      }
      Flow(t(s, dir, "customer"))
        .pipe(Processors.branch(identity, enrich, Seq("n_name", "r_name")))
        .map(_.select("c_custkey", "n_name", "r_name"))
        .result
    }),

    // error facet + try/catch combinators (processor_try.go:18, processor_catch.go:16)
    "proc_try_catch" -> ((s, dir) => {
      val base = t(s, dir, "events")
        .withColumn(Msg.ErrorCol, lit(null).cast(StringType))
      Flow(base)
        .pipe(Processors.errorWhere(col("event_type") === "error", lit("failed event")))
        .pipe(Processors.tryProc(Processors.mutation("value2" -> col("value") * 2.0)))
        .pipe(Processors.catchProc(Processors.mutation("value2" -> lit(0.0))))
        .map(_.select("event_id", "value2"))
        .result
    }),

    // unarchive/explode (processor_unarchive.go:25): 1 row → N
    "proc_unarchive" -> ((s, dir) => t(s, dir, "events")
      .withColumn("k", Blob.jsonPath(col("props"), "$.k").cast(LongType))
      .select(col("event_id"), explode(sequence(lit(0L), pmod(col("k"), lit(3L)))).as("n"))),

    // archive (processor_archive.go:21): N rows → 1 per group, deterministic order
    "proc_archive" -> ((s, dir) => Flow(t(s, dir, "events"))
      .pipe(Processors.archive(Seq(col("user_id")), col("event_id"), sep = ","))
      .result),

    // group_by_value (processor_group_by_value.go:26) + multi-table join agg
    "agg_group_nation" -> ((s, dir) => {
      // customer is fact-sized: NO explicit broadcast (driver-OOM at scale) —
      // AQE picks the join strategy. nation/region are bounded dims: broadcast.
      val joined = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      Flow(joined)
        .pipe(Processors.groupByValue(col("n_name"), as = "nation"))
        .map(_.groupBy(col("r_name").as("region"), col("nation"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue")))
        .result
    }),

    // rollup grouping sets (SURVEY §2.9 gap-fill)
    "agg_rollup" -> ((s, dir) => t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("sum_qty"))),

    // anti join (customers with no large order)
    "join_anti" -> ((s, dir) => t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")),

    // semi join (suppliers in nations that have customers with high balance)
    "join_semi" -> ((s, dir) => t(s, dir, "supplier")
      .join(t(s, dir, "customer").filter(col("c_acctbal") > 9000.0),
        col("s_nationkey") === col("c_nationkey"), "left_semi")
      .select("s_suppkey", "s_name")),

    // broker input merge (input_broker.go:25) → unionByName
    "src_broker_union" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(lit("customer").as("src"),
        col("c_name").as("name"), col("c_acctbal").as("acctbal"))
      val sup = t(s, dir, "supplier").select(lit("supplier").as("src"),
        col("s_name").as("name"), col("s_acctbal").as("acctbal"))
      Flow(c).union(Flow(sup)).result
    }),

    // bounds_check processor (processor_bounds_check.go:26)
    "proc_bounds_check" -> ((s, dir) => Flow(t(s, dir, "documents"))
      .pipe(Processors.boundsCheck(col("text"), 150, 300))
      .map(_.select("doc_id", "n_chars"))
      .result),

    // select_parts (processor_select_parts.go:21) on the seq facet
    "proc_select_parts" -> ((s, dir) => Flow(t(s, dir, "events"))
      .pipe(Processors.selectParts((0L until 10L), seqCol = col("event_id")))
      .map(_.select("event_id", "event_type"))
      .result),

    // Bloblang string methods (methods_strings.go; SURVEY §2.3)
    "blob_strings" -> ((s, dir) => t(s, dir, "part").select(
      col("p_partkey"),
      Blob.uppercase(col("p_name")).as("name_upper"),
      Blob.lengthS(col("p_name")).as("name_len"),
      Blob.replaceAll(col("p_type"), " ", "_").as("type_snake"),
      Blob.slice(col("p_name"), 0, 5).as("name_head"),
      concat_ws("#", col("p_brand"), col("p_size").cast(StringType)).as("brand_size"),
      Blob.hasPrefix(col("p_name"), lit("a")).as("starts_a"))),

    // Bloblang regex methods (methods_strings.go:1577-1848)
    "blob_regex" -> ((s, dir) => t(s, dir, "part")
      .filter(Blob.reMatch(col("p_name"), "[aeiou]{2}"))
      .select(
        col("p_partkey"),
        Blob.reFind(col("p_type"), "^(\\w+)", 1).as("type_head"),
        Blob.reReplaceAll(col("p_name"), "[aeiou]", "*").as("name_masked"))),

    // hash + encode methods (methods_strings.go:90,757)
    "blob_hash" -> ((s, dir) => t(s, dir, "customer").select(
      col("c_custkey"),
      Blob.hashMd5(col("c_name")).as("h_md5"),
      Blob.hashSha256(col("c_name")).as("h_sha256"),
      Blob.encodeBase64(col("c_name")).as("e_b64"),
      Blob.encodeHex(col("c_name")).as("e_hex"))),

    // timestamp methods (bloblang_time.go; SURVEY §2.3)
    "blob_time" -> ((s, dir) => t(s, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast(LongType).as("y"),
      month(col("o_orderdate")).cast(LongType).as("m"),
      dayofmonth(col("o_orderdate")).cast(LongType).as("d"),
      Blob.tsUnixMilli(col("o_orderdate").cast(TimestampType)).as("epoch_ms"))),

    // number methods (methods_numbers.go; rounded transcendentals)
    "blob_numbers" -> ((s, dir) => t(s, dir, "customer").select(
      col("c_custkey"),
      Blob.absN(col("c_acctbal")).as("abs_bal"),
      Blob.floorN(col("c_acctbal")).cast(LongType).as("floor_bal"),
      Blob.ceilN(col("c_acctbal")).cast(LongType).as("ceil_bal"),
      round(Blob.sqrtN(Blob.absN(col("c_acctbal"))), 6).as("sqrt_bal"),
      round(Blob.logN(Blob.absN(col("c_acctbal")) + 1.0), 6).as("ln_bal"),
      (col("c_acctbal") * col("c_acctbal")).as("sq_bal"))),

    // system_window tumbling aggregation (buffer_system_window.go:16-70)
    "win_tumbling" -> ((s, dir) => Windows.windowedAgg(
        t(s, dir, "events"), "ts", "1 hour", Seq(col("event_type")),
        Seq(count(lit(1)).as("n"), dsum(col("value"), 6).as("total")))
      .select(
        unix_timestamp(col("win.start")).as("window_start"),
        col("event_type"), col("n"), col("total"))),

    // The SAME system_window aggregation as win_tumbling, but executed as
    // a Structured Streaming query: file readStream → window agg →
    // Trigger.AvailableNow → memory sink, hash-checked against the same
    // DuckDB oracle. This is the reference's core identity (it is a STREAM
    // processor: internal/stream/type.go:21-33) crossing the batch gate.
    // Complete output mode mirrors the reference's close-time flush of
    // pending windows (buffer_system_window.go:233-265): a bounded backfill
    // must emit its tail windows, which append-mode watermarking would hold
    // back forever. At scale the same plan runs append+watermark on an
    // unbounded source (StreamingSpec covers late-drop semantics).
    "stream_win_tumbling" -> ((s, dir) => {
      // State-exchange width is a per-query knob: this agg's state is tiny
      // (event_type x windows), so 32 state partitions pay 32 task+commit
      // overheads per micro-batch for grams of state. Size the stateful
      // shuffle to the STATE volume (and at real scale, size it UP the
      // same way).
      val ss = Run.session(s, 8)
      ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // ns-stamped events (see Tables)
      val rawSchema = ss.read.parquet(s"$dir/events.parquet").schema
      // the file stream source wants a DIRECTORY: stream the sf dir with a
      // glob filter selecting the events file(s)
      val stream = graft.core.Tables.normalizeEventsTs(
        ss.readStream.schema(rawSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir))
      val agg = Windows.windowedAgg(
          stream, "ts", "1 hour", Seq(col("event_type")),
          Seq(count(lit(1)).as("n"), dsum(col("value"), 6).as("total")))
        .select(
          unix_timestamp(col("win.start")).as("window_start"),
          col("event_type"), col("n"), col("total"))
      ss.table(Run.run("stream_win_tumbling", agg, Run.Sink.Memory("complete")).name)
    }),

    // The append-mode + watermark twin of stream_win_tumbling — the
    // UNBOUNDED-source shape (round-4 verdict #3). Two time-ordered input
    // files + maxFilesPerTrigger=1 force multiple micro-batches, so the
    // event-time watermark actually advances mid-query (batch 1 sets it,
    // batch 2 emits windows it closed, the terminal no-data batch flushes
    // everything below max(ts) - delay). The oracle checks exactly the
    // closed-window subset; the trailing open window is correctly ABSENT.
    // Late-data drop semantics for this plan are covered in StreamingSpec;
    // reference late handling: buffer_system_window.go:333.
    "stream_win_append" -> ((s, dir) => {
      val ss = Run.session(s, 8) // state sized to state volume (see stream_win_tumbling)
      val stream = Run.readSplits(ss, timeSplitEventsDir(s, dir), spread = false)
        .withWatermark("ts", "30 minutes")
      val agg = Windows.windowedAgg(
          stream, "ts", "1 hour", Seq(col("event_type")),
          Seq(count(lit(1)).as("n"), dsum(col("value"), 6).as("total")))
        .select(
          unix_timestamp(col("win.start")).as("window_start"),
          col("event_type"), col("n"), col("total"))
      ss.table(Run.run("stream_win_append", agg, Run.Sink.Memory()).name)
    }),

    // STREAMING dedupe (the reference's dedupe processor with a cache
    // backend is exactly cross-batch keyed state: processor_dedupe.go +
    // cache TTL): dropDuplicates over the micro-batched event stream —
    // state persists across triggers, so a key seen in batch 1 suppresses
    // its batch-2 duplicates. Output = the key itself (deterministic
    // regardless of which physical row survives); oracle = DISTINCT. The
    // unbounded-stream variant bounds state with
    // dropDuplicatesWithinWatermark; AvailableNow drain here.
    "stream_dedupe" -> ((s, dir) => {
      val ss = Run.session(s, 8) // state sized to state volume (see stream_win_tumbling)
      val stream = Run.readSplits(ss, timeSplitEventsDir(s, dir), spread = false)
        .select(col("event_type"),
          pmod(floor(col("value")).cast(LongType), lit(20)).as("vb"))
        .dropDuplicates("event_type", "vb")
      ss.table(Run.run("stream_dedupe", stream, Run.Sink.Memory()).name)
    }),

    // session windows (SURVEY §2.8 parity-plus)
    "win_session" -> ((s, dir) => Windows.sessionAgg(
        t(s, dir, "events"), "ts", "5 minutes", Seq(col("user_id")),
        Seq(count(lit(1)).as("n_events")))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events")))
  )

  val oracle: Map[String, String] = Map(
    "proc_mapping" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice * (1.0 - l_discount) AS revenue
         FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-09-01'""",
    "agg_q1" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "join_topk" ->
      """SELECT o_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "sort_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
    "window_rank" ->
      """SELECT c_nationkey, c_custkey, c_acctbal, rn FROM (
           SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
           FROM customer) WHERE rn <= 3""",
    // identical semantics to window_rank — the skew-proof two-phase plan
    // must hash-match the plain-window oracle exactly
    "window_rank_scaled" ->
      """SELECT c_nationkey, c_custkey, c_acctbal, rn FROM (
           SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
           FROM customer) WHERE rn <= 3""",
    "proc_dedupe" ->
      """SELECT user_id, event_type, min(event_id) AS first_event_id
         FROM events GROUP BY user_id, event_type""",
    "proc_switch" ->
      """SELECT CASE WHEN o_totalprice > 400000.0 THEN 'high'
                     WHEN o_totalprice >= 100000.0 THEN 'mid'
                     ELSE 'low' END AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM orders GROUP BY 1""",
    "proc_branch" ->
      """SELECT c_custkey, n_name, r_name FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey""",
    "proc_try_catch" ->
      """SELECT event_id, CASE WHEN event_type = 'error' THEN 0.0 ELSE value * 2.0 END AS value2
         FROM events""",
    "proc_unarchive" ->
      """SELECT event_id, unnest(generate_series(0, CAST(json_extract_string(props, '$.k') AS BIGINT) % 3)) AS n
         FROM events""",
    "proc_archive" ->
      """SELECT user_id, array_to_string(list_sort(list(event_id::VARCHAR)), ',') AS archived
         FROM events GROUP BY user_id""",
    "agg_group_nation" ->
      """SELECT r_name AS region, n_name AS nation,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",
    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""",
    "join_semi" ->
      """SELECT s_suppkey, s_name FROM supplier
         WHERE EXISTS (SELECT 1 FROM customer
           WHERE c_nationkey = s_nationkey AND c_acctbal > 9000.0)""",
    "src_broker_union" ->
      """SELECT 'customer' AS src, c_name AS name, c_acctbal AS acctbal FROM customer
         UNION ALL
         SELECT 'supplier' AS src, s_name AS name, s_acctbal AS acctbal FROM supplier""",
    "proc_bounds_check" ->
      """SELECT doc_id, n_chars FROM documents WHERE length(text) BETWEEN 150 AND 300""",
    "proc_select_parts" ->
      """SELECT event_id, event_type FROM events WHERE event_id < 10""",
    "blob_strings" ->
      """SELECT p_partkey, upper(p_name) AS name_upper, length(p_name) AS name_len,
           replace(p_type, ' ', '_') AS type_snake, substr(p_name, 1, 5) AS name_head,
           concat_ws('#', p_brand, p_size) AS brand_size,
           (p_name LIKE 'a%') AS starts_a
         FROM part""",
    "blob_regex" ->
      """SELECT p_partkey, regexp_extract(p_type, '^(\w+)', 1) AS type_head,
           regexp_replace(p_name, '[aeiou]', '*', 'g') AS name_masked
         FROM part WHERE regexp_matches(p_name, '[aeiou]{2}')""",
    "blob_hash" ->
      """SELECT c_custkey, md5(c_name) AS h_md5, sha256(c_name) AS h_sha256,
           base64(c_name::BLOB) AS e_b64, lower(hex(c_name::BLOB)) AS e_hex
         FROM customer""",
    "blob_time" ->
      """SELECT o_orderkey, year(o_orderdate)::BIGINT AS y, month(o_orderdate)::BIGINT AS m,
           day(o_orderdate)::BIGINT AS d, epoch_ms(o_orderdate) AS epoch_ms
         FROM orders""",
    "blob_numbers" ->
      """SELECT c_custkey, abs(c_acctbal) AS abs_bal,
           floor(c_acctbal)::BIGINT AS floor_bal, ceil(c_acctbal)::BIGINT AS ceil_bal,
           round(sqrt(abs(c_acctbal)), 6) AS sqrt_bal,
           round(ln(abs(c_acctbal) + 1.0), 6) AS ln_bal,
           c_acctbal * c_acctbal AS sq_bal
         FROM customer""",
    "win_tumbling" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start, event_type,
           COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
         FROM events GROUP BY 1, 2""",
    // identical semantics executed as a Structured Streaming query
    "stream_win_tumbling" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start, event_type,
           COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
         FROM events GROUP BY 1, 2""",
    // append + watermark: only windows CLOSED under the final watermark
    // (max event time - 30 min) are emitted; the open tail is absent
    "stream_win_append" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start, event_type,
           COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
         FROM events GROUP BY 1, 2
         HAVING window_start + 3600 <=
           (SELECT epoch(max(ts) - INTERVAL 30 MINUTE) FROM events)""",
    "stream_dedupe" ->
      """SELECT DISTINCT event_type,
           ((floor(value)::BIGINT % 20) + 20) % 20 AS vb
         FROM events""",
    // NB: SUM(BIGINT) in DuckDB yields HUGEINT (int128), which pandas maps to
    // float64 — hashed differently from Spark's int64 by the driver gate. Every
    // integer aggregate in an oracle must therefore be cast back to BIGINT.
    "win_session" ->
      """SELECT user_id, COUNT(*) AS n_sessions, SUM(n_events)::BIGINT AS n_events FROM (
           SELECT user_id, count(*) AS n_events FROM (
             SELECT user_id, ts,
               SUM(CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL '5 minutes' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
             FROM (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM events))
           GROUP BY user_id, session_id)
         GROUP BY user_id"""
  )
}
