package graft

import graft.core.{Flow, Msg, Processor, Tables}
import graft.operators.{Caches, Grok, Processors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Oracle-checked queries for processors, cache/state family, format
  * codecs, scanners, sliding windows and set operations (SURVEY §2.4-2.9)
  * that round 1 left ScalaTest-only or unimplemented.
  */
object QueriesProc {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String) = Tables(s, dir, name)

  val queries: Map[String, Q] = Map(

    // `java` user-code processor (the JVM-native twin of the reference's
    // javascript processor — impl/javascript/processor.go:44): a Java code
    // block compiled once per executor by janino mutates each message via
    // the v0_msg_* mirror surface; oracle replays the arithmetic as SQL
    "proc_java" -> ((s, dir) => {
      val env = Msg.envelope(
        t(s, dir, "events").filter(col("value").isNotNull)
          .select("event_id", "value").repartition(Tables.fanout(s))) // one-file input: one guest runtime per task
      val out = graft.operators.Script.processor(
        """java.util.Map root = (java.util.Map) msg.asStructured();
          |long id = ((Number) root.get("event_id")).longValue();
          |double v = ((Number) root.get("value")).doubleValue();
          |java.util.Map r = new java.util.LinkedHashMap();
          |r.put("event_id", Long.valueOf(id));
          |r.put("score", Double.valueOf(v * 2.0 + (double) (id % 7)));
          |r.put("grade", v > 100.0 ? "hi" : "lo");
          |msg.setStructured(r);
          |msg.setMeta("src", "script");
          |""".stripMargin)(env)
      // json_tuple: ONE parse of the result envelope for all three
      // fields (the config_pipeline lesson — get_json_object xN
      // re-parses the JSON per field)
      out.filter(Msg.ok)
        .select(json_tuple(col(Msg.ContentCol), "event_id", "score", "grade"),
          col(Msg.MetaCol)("src").as("src"))
        .select(col("c0").cast(LongType).as("event_id"),
          round(col("c1").cast(DoubleType), 6).as("score"),
          col("c2").as("grade"), col("src"))
    }),

    // javascript processor (impl/javascript/processor.go — the
    // reference embeds goja, an ES5.1 interpreter in Go, and exposes
    // the bento.v0_msg_* host surface; operators/Js.scala is the
    // in-repo ES5.1-subset interpreter, the Lua/WASM discipline
    // applied to JS, and Javascript.scala binds the bento object
    // 1:1). The script parses once per partition and re-evaluates per
    // row; thrown values land in the error facet. The oracle replays
    // the mapping in SQL
    "proc_javascript" -> ((s, dir) => {
      val env = Msg.envelope(
        t(s, dir, "events").filter(col("value").isNotNull)
          .select("event_id", "value").repartition(Tables.fanout(s))) // one-file input: one guest runtime per task
      val out = graft.operators.Javascript.processor(
        """(() => {
          |  let m = bento.v0_msg_as_structured();
          |  if (m.event_id % 13 === 0) throw "unlucky";
          |  m.score = m.value * 2.0 + m.event_id % 7;
          |  m.grade = m.value > 100.0 ? "hi" : "lo";
          |  bento.v0_msg_set_structured(m);
          |  bento.v0_msg_set_meta("src", "js");
          |})();
          |""".stripMargin)(env)
      out.filter(Msg.ok)
        .select(json_tuple(col(Msg.ContentCol), "event_id", "score", "grade"),
          col(Msg.MetaCol)("src").as("src"))
        .select(col("c0").cast(LongType).as("event_id"),
          round(col("c1").cast(DoubleType), 6).as("score"),
          col("c2").as("grade"), col("src"))
    }),

    // python processor (impl/python/processor.go — the reference hosts
    // CPython-in-WASM; operators/Python.scala runs one out-of-process
    // python3 interpreter per Spark partition, line-framed JSON, the
    // same this→root / None-deletes / exception→error-facet contract).
    // The script maps a score, deletes the %11==0 ids, and the oracle
    // replays both arms in SQL
    "proc_python" -> ((s, dir) => {
      val env = Msg.envelope(
        t(s, dir, "events").filter(col("value").isNotNull)
          .select("event_id", "value").repartition(Tables.fanout(s))) // one-file input: one guest runtime per task
      val out = graft.operators.Python.processor(
        """if this["event_id"] % 11 == 0:
          |    root = None
          |else:
          |    root = {"event_id": this["event_id"],
          |            "score": this["value"] * 2.0 + this["event_id"] % 7,
          |            "grade": "hi" if this["value"] > 100.0 else "lo"}
          |""".stripMargin)(env)
      out.filter(Msg.ok)
        .select(json_tuple(col(Msg.ContentCol), "event_id", "score", "grade"))
        .select(col("c0").cast(LongType).as("event_id"),
          round(col("c1").cast(DoubleType), 6).as("score"),
          col("c2").as("grade"))
    }),

    // awk processor (processor_awk.go; subset interpreter Awk.scala): the
    // program runs per message over (content, meta); oracle replays the
    // guard + arithmetic as SQL
    "proc_awk" -> ((s, dir) => {
      val env = graft.core.Msg.envelope(
        t(s, dir, "events").filter(col("value").isNotNull)
          .select("event_id", "value").repartition(Tables.fanout(s))) // one-file input
      val out = graft.operators.Awk.processor(
        """json_get("value") > 100 { json_set("bucket", "big") }
          |{ json_set_float("scaled", json_get("value") * 2 + 1);
          |  json_set_int("eid3", json_get("event_id") * 3) }""".stripMargin)(env)
      out.select(
        get_json_object(col(graft.core.Msg.ContentCol), "$.event_id").cast(LongType).as("event_id"),
        get_json_object(col(graft.core.Msg.ContentCol), "$.bucket").as("bucket"),
        round(get_json_object(col(graft.core.Msg.ContentCol), "$.scaled").cast(DoubleType), 6).as("scaled"),
        get_json_object(col(graft.core.Msg.ContentCol), "$.eid3").cast(LongType).as("eid3"))
    }),

    // parse_log syslog flavor (processor_parse_log.go:32): lines built
    // deterministically from events, fields re-extracted by the grok-style
    // pattern; oracle rebuilds each field arithmetically
    "proc_parse_log" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("event_type").isNotNull && col("user_id").isNotNull)
      val line = format_string("Feb %d 08:%02d:%02d h%d app[%d]: type=%s",
        pmod(col("event_id"), lit(28)) + 1, pmod(col("event_id"), lit(60)),
        pmod(col("user_id"), lit(60)), col("user_id"), col("event_id"), col("event_type"))
      val fields = Grok.parseSyslog(line)
      ev.select(col("event_id") +: fields.map { case (n, c) => c.as(n) }: _*)
    }),

    // sequence.sharded_join "array" collision strategy
    // (input_sequence.go:193-239): overlapping ids collect ALL non-null
    // values in input order — scalar projections keep the oracle hashable
    "join_sharded_array" -> ((s, dir) => {
      val a = t(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_acctbal").as("bal"))
      val b = t(s, dir, "orders").groupBy(col("o_custkey").as("id"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 4))).cast(DoubleType).as("bal"))
      graft.conn.Sources.sequenceShardedJoin(Seq(a, b), "id", "array")
        .select(col("id"),
          size(col("bal")).cast(LongType).as("n_bal"),
          round(element_at(col("bal"), 1), 6).as("bal_first"),
          round(element_at(col("bal"), -1), 6).as("bal_last"))
    }),

    // file_tail input (tail -f shape): a file-stream text source with
    // maxFilesPerTrigger pacing, drained by AvailableNow into the gate
    "src_file_tail" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("ftail").toFile
      tmp.deleteOnExit()
      t(s, dir, "events").select(to_json(struct(col("event_id"), col("event_type"))))
        .coalesce(4).write.mode("overwrite").text(tmp.getPath)
      val ckpt = java.nio.file.Files.createTempDirectory("ftail_ckpt").toFile
      ckpt.deleteOnExit()
      val q = graft.conn.Sources.fileTail(s, tmp.getPath)
        .select(
          get_json_object(col("content"), "$.event_id").cast(LongType).as("event_id"),
          get_json_object(col("content"), "$.event_type").as("event_type"))
        .writeStream.format("memory").queryName("src_file_tail_sink")
        .outputMode("append")
        .option("checkpointLocation", ckpt.getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("src_file_tail_sink")
    }),

    // socket input (impl/io/input_socket.go — TCP line stream): a REAL
    // Structured Streaming socket source reading from an in-JVM
    // ServerSocket. The serving thread writes the nation table as
    // newline-delimited records over one TCP connection; the query polls
    // the memory sink until all rows land, then stops. At scale the
    // socket source is a debug/ingest-edge tool (not replayable — the
    // durable path is file/kafka); the gate proves the line-framing and
    // schema-parse envelope.
    "src_socket" -> ((s, dir) => {
      import s.implicits._
      val lines = t(s, dir, "nation")
        .select(concat_ws("|", col("n_nationkey"), col("n_name")))
        .as[String].collect().sorted
      val server = new java.net.ServerSocket(0, 8,
        java.net.InetAddress.getLoopbackAddress)
      val t0 = new Thread(() => {
        try {
          val sock = server.accept()
          val w = new java.io.PrintWriter(sock.getOutputStream)
          lines.foreach(w.println)
          w.flush()
          Thread.sleep(120000) // keep the connection open until query stop
        } catch { case _: Throwable => () }
      })
      t0.setDaemon(true)
      t0.start()
      val stream = s.readStream.format("socket")
        .option("host", server.getInetAddress.getHostAddress)
        .option("port", server.getLocalPort).load()
      val q = stream.writeStream.format("memory").queryName("src_socket_sink")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
        .start()
      val deadline = System.currentTimeMillis + 60000
      while (s.table("src_socket_sink").count() < lines.length &&
        System.currentTimeMillis < deadline) Thread.sleep(200)
      q.stop()
      server.close()
      s.table("src_socket_sink").select(
        split(col("value"), "\\|").getItem(0).cast(LongType).as("n_nationkey"),
        split(col("value"), "\\|").getItem(1).as("n_name"))
    }),

    // websocket input (input_websocket.go:37): the JDK RFC 6455 client
    // connects to a ws server, sends its open_messages, and continuously
    // receives text messages. The server end is the from-scratch RFC 6455
    // fixture (conn/Ws.scala — public-spec handshake + framing); at scale
    // only the URL changes and the received frames drain into a durable
    // spool (ws is non-replayable ingest, like the reference's).
    "src_websocket" -> ((s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "supplier")
        .select(concat_ws("|", col("s_suppkey"), col("s_name"), col("s_nationkey")))
        .as[String].collect().sorted
      val server = new graft.conn.Ws.Server(rows, expectOpen = Seq("start")).start()
      val got = try graft.conn.Ws.receive(server.url, Seq("start"), rows.length)
        finally server.stop()
      s.createDataset(got).toDF("line").select(
        split(col("line"), "\\|").getItem(0).cast(LongType).as("s_suppkey"),
        split(col("line"), "\\|").getItem(1).as("s_name"),
        split(col("line"), "\\|").getItem(2).cast(LongType).as("s_nationkey"))
    }),

    // http_server input + sync_response processor
    // (input_http_server.go:178, processor_sync_response.go:37): external
    // producers POST JSON; the pipeline evaluates each micro-batch as ONE
    // distributed Catalyst plan and the processed payload goes back as the
    // synchronous HTTP response. Request path + verb travel as metadata
    // (input_http_server.go:216). Clients here are the gate's producers —
    // 512 async in-flight posts against a 512-thread serving edge, so
    // micro-batches stay hundreds of rows wide, never 1.
    "src_http_server" -> ((s, dir) => {
      val input = new graft.operators.HttpServerInput(timeoutSec = 120)
      val port = input.start()
      // fixture: the events subset the producers will post
      val ev = t(s, dir, "events").filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("value")).collect()
      val exec = java.util.concurrent.Executors.newFixedThreadPool(8,
        (r: Runnable) => { val th = new Thread(r); th.setDaemon(true); th })
      val client = java.net.http.HttpClient.newBuilder().executor(exec).build()
      val sem = new java.util.concurrent.Semaphore(512)
      // a send lost under load must be RETRIED, not leaked: the serve
      // loop counts to `expected` and a dropped request parks the gate
      // (observed: 979/1000 in the 126-query run). Over HTTP/1.1
      // keep-alive a lost REQUEST and a lost RESPONSE look identical
      // client-side, so the retry is unconditional and the SERVER
      // dedupes bodies (serve(dedupeBodies = true)) — at-least-once
      // delivery converging on exactly-once results, which is precisely
      // the reference's http_server + dedupe-processor contract.
      def post(id: Long, body: String, attempt: Int): Unit = {
        val req = java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port/post/t${id % 3}"))
          .timeout(java.time.Duration.ofSeconds(30))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
        client.sendAsync(req, java.net.http.HttpResponse.BodyHandlers.ofString())
          .whenComplete((_, err) =>
            if (err != null && attempt < 8) post(id, body, attempt + 1)
            else sem.release())
      }
      val poster = new Thread(() => ev.foreach { r =>
        sem.acquire()
        val id = r.getLong(0)
        // Double.toString is the shortest round-trip repr — parses back exact
        post(id, s"""{"event_id":$id,"value":${r.getDouble(1)}}""", 1)
      })
      poster.setDaemon(true)
      poster.start()
      val out = input.serve(s, batch => batch.select(
          col("msg_id"),
          get_json_object(col("content"), "$.event_id").cast(LongType).as("event_id"),
          round(get_json_object(col("content"), "$.value").cast(DoubleType) * 2, 6).as("twice"),
          concat(lit("u"), get_json_object(col("content"), "$.event_id").cast(LongType) % 7).as("tag"),
          col("http_server_request_path").as("req_path"))
        .withColumn("response", to_json(struct(col("event_id"), col("twice"), col("tag")))),
        expected = ev.length, dedupeBodies = true)
      input.stop()
      out.select("event_id", "twice", "tag", "req_path")
    }),

    // workflow DAG (processor_workflow.go:33): stages declared out of
    // order; topo-sort must run A before B before C
    "proc_workflow" -> ((s, dir) => Flow(t(s, dir, "orders"))
      .pipe(Processors.workflow(Seq(
        ("C", Seq("B"), Processors.mutation("final" -> (col("fee") * 2.0))),
        ("B", Seq("A"), Processors.mutation("fee" -> (col("base") + 10.0))),
        ("A", Seq(), Processors.mutation("base" -> (col("o_totalprice") * 0.9))))))
      .map(_.select("o_orderkey", "final"))
      .result),

    // while loop (processor_while.go:32): double values below 50 until
    // fixpoint (bounded); oracle = recursive CTE with the same bound
    "proc_while" -> ((s, dir) => Flow(t(s, dir, "events"))
      .pipe(Processors.whileLoop(16,
        continue = df => df.filter(col("value") < 50.0).limit(1).count() > 0,
        child = Processors.mutation(
          "value" -> when(col("value") < 50.0, col("value") * 2.0).otherwise(col("value")))))
      .map(_.select(col("event_id"), col("value").as("value2")))
      .result),

    // insert_part (processor_insert_part.go:25): union one literal row
    "proc_insert_part" -> ((s, dir) => Flow(t(s, dir, "region"))
      .pipe(Processors.insertPart(
        s.sql("SELECT CAST(99 AS INT) AS r_regionkey, 'MARS' AS r_name")))
      .map(_.select("r_regionkey", "r_name"))
      .result),

    // split / re-chunk (processor_split.go:24): repartition is content-
    // neutral; the oracle checks exactly that (hash compare is order-free)
    "proc_split" -> ((s, dir) => Flow(t(s, dir, "nation"))
      .pipe(Processors.split(8))
      .map(_.select("n_nationkey", "n_name"))
      .result),

    // grok (processor_grok.go:35): pattern compiled at plan time to
    // regexp_extract columns; round-trips a formatted log line
    "proc_grok" -> ((s, dir) => Flow(t(s, dir, "events"))
      .pipe(Processors.mutation("line" ->
        format_string("%s user=%d val=%.2f", col("event_type"), col("user_id"), col("value"))))
      .pipe(Grok.processor(col("line"), "%{WORD:etype} user=%{INT:uid} val=%{NUMBER:val}"))
      .map(_.select(col("event_id"), col("etype"),
        col("uid").cast(LongType).as("uid"), col("val").cast(DoubleType).as("val")))
      .result),

    // opensnowcat processor (internal/impl/opensnowcat/
    // processor_opensnowcat.go:31-1080): Snowplow enriched-TSV events
    // built deterministically from `events`, run through the full
    // pipeline — set_metadata (iglu path), drop filters (direct column
    // OR schema property), PII transforms (salted SHA-256 hash, redact,
    // anonymize_ip), flattened-json output with typed columns and
    // context shredding. The oracle replays every arm in SQL
    "proc_opensnowcat" -> ((s, dir) => {
      import graft.operators.OpenSnowcat
      // repartition the NARROW source (≈50 B/row) before the 131-column
      // TSV build: events.parquet is one file → one input split, and
      // without this every per-row stage below runs on a single core
      // (measured 18.7 s → the fix distributes the ~20 µs/row pipeline
      // across the cluster; the shuffle moves 30 MB, not the 1.5 GB of
      // built TSV)
      val ev = t(s, dir, "events")
        .filter(col("event_type").isNotNull && col("user_id").isNotNull)
        .repartition(Tables.fanout(s))
      val uaFamily = when(pmod(col("user_id"), lit(3)) === 0, lit("Chrome"))
        .when(pmod(col("user_id"), lit(3)) === 1, lit("Firefox"))
        .otherwise(lit("Safari"))
      val fields: Map[String, org.apache.spark.sql.Column] = Map(
        "app_id" -> concat(lit("app"), pmod(col("user_id"), lit(5))),
        "platform" -> lit("web"),
        "collector_tstamp" -> lit("2022-03-21 22:12:43.358"),
        "event" -> col("event_type"),
        "event_id" -> col("event_id").cast(StringType),
        "user_id" -> concat(lit("user"), col("user_id")),
        "user_ipaddress" -> concat(lit("10."), pmod(col("user_id"), lit(200)),
          lit("."), pmod(col("event_id"), lit(250)),
          lit("."), pmod(col("event_id") * 7, lit(250))),
        "domain_sessionidx" -> pmod(col("user_id"), lit(100)).cast(StringType),
        "network_userid" -> concat(lit("nu"), col("user_id")),
        "useragent" -> when(pmod(col("event_id"), lit(17)) === 0,
          lit("curl-bot/1.0")).otherwise(lit("Mozilla/5.0")),
        "br_features_pdf" -> when(pmod(col("event_id"), lit(2)) === 0,
          lit("1")).otherwise(lit("0")),
        "contexts" -> concat(
          lit("""{"schema":"iglu:com.snowplowanalytics.snowplow/contexts/jsonschema/1-0-0","data":[{"schema":"iglu:com.snowplowanalytics.snowplow/web_page/jsonschema/1-0-0","data":{"id":"wp"""),
          col("event_id"), lit("\"}}]}")),
        "derived_contexts" -> concat(
          lit("""{"schema":"iglu:com.snowplowanalytics.snowplow/contexts/jsonschema/1-0-1","data":[{"schema":"iglu:com.snowplowanalytics.snowplow/ua_parser_context/jsonschema/1-0-0","data":{"useragentFamily":""""),
          uaFamily, lit("""","osFamily":"Mac OS X"}}]}""")))
      val env = ev.select(
        concat_ws("\t", OpenSnowcat.columns.map(n => fields.getOrElse(n, lit(""))): _*)
          .as(Msg.ContentCol),
        map().cast(MapType(StringType, StringType)).as(Msg.MetaCol),
        lit(null).cast(StringType).as(Msg.ErrorCol),
        monotonically_increasing_id().as(Msg.SeqCol))
      val out = OpenSnowcat.processor(OpenSnowcat.Config(
        outputFormat = "json",
        drop = Map(
          "useragent" -> Seq("bot"),
          "com_snowplowanalytics_snowplow_ua_parser_context.useragentFamily" -> Seq("Safari")),
        transforms = Map(
          "user_id" -> OpenSnowcat.Transform("hash", salt = "s3cr3t"),
          "network_userid" -> OpenSnowcat.Transform("redact"),
          "user_ipaddress" -> OpenSnowcat.Transform("anonymize_ip", anonOctets = 2)),
        setMetadata = Map(
          "ua_family" -> "com_snowplowanalytics_snowplow_ua_parser_context.useragentFamily")))(env)
      // json_tuple: ONE parse of the ~2.5 KB flattened event for all
      // eight top-level fields (the config_pipeline lesson — each
      // get_json_object re-parses); only the nested array path needs
      // the second parse
      out.select(
          json_tuple(col(Msg.ContentCol), "event_id", "app_id", "user_id",
            "user_ipaddress", "network_userid", "domain_sessionidx",
            "br_features_pdf", "collector_tstamp"),
          col(Msg.MetaCol)("ua_family").as("ua_family"),
          get_json_object(col(Msg.ContentCol),
            "$.contexts_com_snowplowanalytics_snowplow_web_page_1[0].id").as("wp_id"))
        .select(col("c0").cast(LongType).as("event_id"), col("c1").as("app_id"),
          col("c2").as("user_hash"), col("c3").as("ip_anon"), col("c4").as("net_uid"),
          col("c5").cast(LongType).as("sessionidx"), col("c6").as("pdf"),
          col("c7").as("ct"), col("ua_family"), col("wp_id"))
    }),

    // cached processor (processor_cached.go:21): child runs once per
    // DISTINCT key (memoization), results join back to all rows
    "proc_cached" -> ((s, dir) => Flow(t(s, dir, "orders"))
      .pipe(Caches.cached(
        keyExpr = floor(col("o_totalprice") / 100000.0).cast(LongType),
        childOfKeys = keys => keys.withColumn("label",
          concat(lit("B"), col("key").cast(StringType))),
        resultCols = Seq("label")))
      .map(_.select("o_orderkey", "label"))
      .result),

    // cache_get enrichment (bloblang_cache.go:37): broadcast-join lookup
    // against a bounded key/value cache built from a table
    "proc_cache_get" -> ((s, dir) => {
      val cache = Caches.KvCache(
        t(s, dir, "nation").select(col("n_nationkey").cast(LongType).as("k"), col("n_name").as("v")),
        "k", "v")
      cache.enrich(t(s, dir, "events"), pmod(col("user_id"), lit(25L)), "user_nation")
        .select("event_id", "user_nation")
    }),

    // retry processor (processor_retry.go:28): child errors on attempt 1
    // for small values, succeeds on attempt 2 — all rows end healed
    "proc_retry" -> ((s, dir) => {
      val child = Processor("flaky") { df =>
        Msg.markError(
          df.withColumn("v2", col("value") * col("_attempt")),
          col("value") < 10.0 && col("_attempt") === 1, lit("transient"))
      }
      Flow(t(s, dir, "events").withColumn(Msg.ErrorCol, lit(null).cast(StringType)))
        .pipe(Caches.retry(child, maxAttempts = 3))
        .map(_.select("event_id", "v2"))
        .result
    }),

    // json_schema validation → error facet (processor_jsonschema.go:30)
    "proc_json_schema" -> ((s, dir) => Flow(t(s, dir, "events")
        .withColumn("props2",
          when(pmod(col("event_id"), lit(5L)) === 0L, lit("""{"k":"oops"}"""))
            .otherwise(col("props")))
        .withColumn(Msg.ErrorCol, lit(null).cast(StringType)))
      .pipe(Processors.jsonSchema(col("props2"), Seq("k" -> "integer")))
      .map(_.select(col("event_id"), Msg.ok.as("ok")))
      .result),

    // parse_csv (methods_strings.go:1008) → from_csv round-trip
    "codec_csv" -> ((s, dir) => t(s, dir, "customer")
      .withColumn("line", concat_ws(",",
        col("c_name"), col("c_acctbal").cast(StringType), col("c_mktsegment")))
      .withColumn("parsed", from_csv(col("line"),
        StructType(Seq(
          StructField("name", StringType), StructField("bal", DoubleType),
          StructField("seg", StringType))),
        Map.empty[String, String]))
      .select(col("c_custkey"), col("parsed.name").as("name"),
        col("parsed.bal").as("bal"), col("parsed.seg").as("seg"))),

    // parse_xml (impl/xml/bloblang.go:13) via xpath expressions
    "codec_xml" -> ((s, dir) => t(s, dir, "part")
      .withColumn("xml", concat(lit("<r><name>"), col("p_name"),
        lit("</name><size>"), col("p_size").cast(StringType), lit("</size></r>")))
      .select(col("p_partkey"),
        expr("xpath_string(xml, '/r/name')").as("name"),
        expr("xpath_string(xml, '/r/size')").cast(LongType).as("size"))),

    // parse_yaml (methods_strings.go:1169) via snakeyaml → JSON bridge
    "codec_yaml" -> ((s, dir) => t(s, dir, "part")
      .withColumn("y", concat(lit("name: "), col("p_name"), lit("\nsize: "),
        col("p_size").cast(StringType)))
      .withColumn("j", call_udf("blob_parse_yaml", col("y")))
      .select(col("p_partkey"),
        get_json_object(col("j"), "$.name").as("name"),
        get_json_object(col("j"), "$.size").cast(LongType).as("size"))),

    // parse_msgpack/format_msgpack (impl/msgpack/bloblang.go:30,65) round-trip
    "codec_msgpack" -> ((s, dir) => t(s, dir, "events")
      .withColumn("rt", call_udf("blob_parse_msgpack",
        call_udf("blob_format_msgpack", col("props"))))
      .select(col("event_id"),
        get_json_object(col("rt"), "$.k").cast(LongType).as("k"))),

    // chunker scanner (scanner_chunker.go): fixed-size chunks with index.
    // Spark's split keeps a trailing "" when length is an exact multiple of
    // the chunk size — filter it (Go's chunker emits no empty chunk).
    "scan_chunker" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), "(?s)(?<=\\G.{100})"))
        .as(Seq("chunk_idx", "chunk")))
      .filter(length(col("chunk")) > 0)
      .select(col("doc_id"), col("chunk_idx").cast(LongType).as("chunk_idx"),
        col("chunk"))),

    // sliding windows (buffer_system_window.go slide param): 1h/30m
    "win_sliding" -> ((s, dir) => t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("event_type"), col("n"))),

    // intersect/except set ops (SURVEY §2.9 gap-fill)
    "set_ops" -> ((s, dir) => {
      val cN = t(s, dir, "customer").select(col("c_nationkey").cast(LongType).as("nk"))
      val sN = t(s, dir, "supplier").select(col("s_nationkey").cast(LongType).as("nk"))
      cN.intersect(sN).withColumn("op", lit("both"))
        .unionByName(cN.except(sN).withColumn("op", lit("cust_only")))
    }),

    // Bloblang TEXT mapping (parser frontend, SURVEY §7.1 blob phase 2):
    // the mapping below is parsed from source and interpreted per row
    "blob_text_mapping" -> ((s, dir) => {
      val mapping = """
        root.id = this.p_partkey
        root.up = this.p_name.uppercase()
        root.n_words = this.p_name.split(" ").length()
        root.tier = if this.p_size > 25 { "L" } else { "S" }
      """
      val f = graft.blob.BloblangUdf.mappingUdf(mapping)
      t(s, dir, "part")
        .withColumn("out", f(to_json(struct(col("p_partkey"), col("p_name"), col("p_size")))))
        .select(
          get_json_object(col("out"), "$.id").cast(LongType).as("id"),
          get_json_object(col("out"), "$.up").as("up"),
          get_json_object(col("out"), "$.n_words").cast(LongType).as("n_words"),
          get_json_object(col("out"), "$.tier").as("tier"))
    }),

    // cube grouping sets + grouping_id (SURVEY §2.9 gap-fill)
    "agg_cube" -> ((s, dir) => t(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
        grouping_id().as("gid"))),

    // ------------------------------------------------------------------
    // redis family (internal/impl/redis/) over the from-scratch RESP
    // protocol (conn/Resp.scala — public-spec wire format both ends; the
    // MiniRedis fixture stands in for the server, at scale only the URL
    // changes). Write paths run executor-side with one client per
    // partition; queue/scan reads are single-cursor by protocol, exactly
    // like the reference's one connection.

    // redis_list output (RPUSH per partition) → redis_list input (BLPOP
    // drain until dry): the queue round-trip (output_list.go:99,
    // input_list.go:93-97)
    "src_redis_list" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Resp.MiniRedis().start()
      val url = srv.url
      val rows = t(s, dir, "supplier")
        .select(concat_ws("|", col("s_suppkey"), col("s_acctbal")).as("v"))
        .as[String].repartition(Tables.connFanout(s, 8))
      graft.conn.Redis.listOutput(rows, url, "work_queue")
      graft.conn.Redis.listInput(s, url, "work_queue").toDF("line").select(
        split(col("line"), "\\|").getItem(0).cast(LongType).as("s_suppkey"),
        split(col("line"), "\\|").getItem(1).cast(DoubleType).as("s_acctbal"))
    }),

    // `redis` processor (processor.go:17): per-message command built from
    // an args mapping, reply replaces content. Phase 1 SADDs every
    // (segment, custkey) pair; phase 2 SCARDs each distinct segment —
    // the reference's "Querying Cardinality" documented example, with the
    // branch composition expressed as two actions
    "proc_redis" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Resp.MiniRedis().start()
      val url = srv.url
      val cust = t(s, dir, "customer").select(col("c_mktsegment"), col("c_custkey"))
        .repartition(Tables.fanout(s)) // one-file input: one RESP client per task
      graft.conn.Redis.procCommand[Long](cust, url, "SADD")(
        r => Seq("seg:" + r.getString(0), r.getLong(1)))((_, rep) => rep.toLong)
        .count() // force the seeding phase before any SCARD runs
      val segs = cust.select(col("c_mktsegment")).distinct()
      graft.conn.Redis.procCommand[(String, Long)](segs, url, "SCARD")(
        r => Seq("seg:" + r.getString(0)))((r, rep) => (r.getString(0), rep.toLong))
        .toDF("c_mktsegment", "distinct_customers")
    }),

    // `wasm` processor (impl/wasm/processor_wazero.go:21): a function
    // exported by a WebAssembly module runs per message over the v0
    // bento_wasm ABI (v0_msg_as_bytes/set_bytes/set_meta), executed by
    // the from-scratch MVP interpreter (operators/Wasm.scala). The
    // module is the reference's own `uppercase` example, hand-assembled
    // (no wasm toolchain in-sandbox); the oracle replays it as upper().
    // Decode once per JVM, one instance per task thread — no shuffle
    "proc_wasm" -> ((s, dir) => {
      val raw = t(s, dir, "part").repartition(Tables.fanout(s)).select(
        concat_ws("|", col("p_partkey"), col("p_name")).as(graft.core.Msg.ContentCol),
        map().cast(MapType(StringType, StringType)).as(graft.core.Msg.MetaCol),
        lit(null).cast(StringType).as(graft.core.Msg.ErrorCol),
        monotonically_increasing_id().as(graft.core.Msg.SeqCol))
      val out = graft.operators.Wasm.processor(
        graft.operators.Wasm.Asm.uppercaseModule())(raw)
      out.filter(Msg.ok).select(
        split(col(Msg.ContentCol), "\\|").getItem(0).cast(LongType).as("p_partkey"),
        split(col(Msg.ContentCol), "\\|").getItem(1).as("up_name"),
        col(Msg.MetaCol)("processor").as("processor"))
    }),

    // `redis_script` processor (script_processor.go): a Lua script per
    // message via EVALSHA/EVAL (go-redis Script.Run), executed atomically
    // by the fixture's from-scratch Lua interpreter (conn/Lua.scala).
    // Phase 1 runs the documented read-modify-write pattern (GET +
    // conditional SET) accumulating per-type sums — commutative, so the
    // partition-parallel order doesn't matter; phase 2 reads each final
    // sum back through a second script. Keys from keys_mapping, args
    // from args_mapping, reply replaces content — the reference's shape
    "proc_redis_script" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Resp.MiniRedis().start()
      val url = srv.url
      val accumulate =
        """local delta = tonumber(ARGV[1])
          |local cur = redis.call('GET', KEYS[1])
          |if cur then
          |  redis.call('SET', KEYS[1], tonumber(cur) + delta)
          |else
          |  redis.call('SET', KEYS[1], delta)
          |end
          |return redis.call('GET', KEYS[1])
          |""".stripMargin
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"))
      graft.conn.Redis.scriptProc[Long](ev, url, accumulate)(
        r => Seq("sum:" + r.getString(0)),
        r => Seq(r.getLong(1) % 1000))((_, rep) => rep.toLong)
        .count() // force the accumulation phase before any readback
      val types = ev.select(col("event_type")).distinct()
      graft.conn.Redis.scriptProc[(String, Long)](types, url,
        "return redis.call('GET', KEYS[1]) or 0")(
        r => Seq("sum:" + r.getString(0)), _ => Nil)((r, rep) => (r.getString(0), rep.toLong))
        .toDF("event_type", "total")
    }),

    // `redis` cache resource (cache.go:113-283) behind the cache
    // processor: set nation names per partition, then per-row cache_get
    // enrichment of suppliers. The per-row GET is the reference's exact
    // per-message semantics; the Spark-native fast path for bounded
    // caches stays the broadcast join (operators/Cache.scala) — this
    // gates the external-backend wiring
    "cache_redis" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Resp.MiniRedis().start()
      val url = srv.url
      val nations = t(s, dir, "nation")
        .select(col("n_nationkey").cast(LongType), col("n_name"))
      graft.operators.External.perPartitionLookup[graft.conn.Redis.Cache, Long](nations)(
        () => new graft.conn.Redis.Cache(url, prefix = "nation_")) { (cache, row) =>
        cache.set(row.getLong(0).toString, row.getString(1).getBytes("UTF-8"))
        row.getLong(0)
      }(_.close()).count() // seed before lookups
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").cast(LongType), col("s_nationkey").cast(LongType))
      graft.operators.External.perPartitionLookup[graft.conn.Redis.Cache, (Long, String)](sup)(
        () => new graft.conn.Redis.Cache(url, prefix = "nation_")) { (cache, row) =>
        (row.getLong(0), cache.get(row.getLong(1).toString)
          .map(new String(_, "UTF-8")).orNull)
      }(_.close()).toDF("s_suppkey", "nation_name")
    }),

    // redis_hash output (impl/redis/output_hash.go: one HMSET/HSET per
    // message, interpolated key + field map — the walk_json_object mode
    // maps each column to a hash field). Per-partition clients HSET one
    // hash per customer; the read-back resolves HGETALL per key through
    // per-partition clients — both directions distributed
    "out_redis_hash" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Resp.MiniRedis().start()
      val url = srv.url
      val cust = t(s, dir, "customer").filter(col("c_custkey") % 3 === 1)
        .select(col("c_custkey").cast(LongType), col("c_name"),
          col("c_acctbal").cast(DoubleType), col("c_nationkey").cast(LongType))
      graft.operators.External.perPartitionLookup[graft.conn.Resp.Client, Long](cust)(
        () => { val u = java.net.URI.create(url); new graft.conn.Resp.Client(u.getHost, u.getPort) }) { (c, row) =>
        val r = c.cmd("HSET", s"cust:${row.getLong(0)}",
          "name", row.getString(1), "bal", row.getDouble(2).toString,
          "nation", row.getLong(3).toString)
        require(r.isInstanceOf[graft.conn.Resp.Int64], s"HSET failed: $r")
        row.getLong(0)
      }(_.close()).count() // write before read-back
      val keys = cust.select(col("c_custkey"))
      graft.operators.External.perPartitionLookup[graft.conn.Resp.Client, (Long, String, Double, Long)](keys)(
        () => { val u = java.net.URI.create(url); new graft.conn.Resp.Client(u.getHost, u.getPort) }) { (c, row) =>
        val fields = c.cmd("HGETALL", s"cust:${row.getLong(0)}") match {
          case graft.conn.Resp.Arr(items) =>
            items.grouped(2).map {
              case Vector(graft.conn.Resp.Bulk(f), graft.conn.Resp.Bulk(v)) =>
                new String(f, "UTF-8") -> new String(v, "UTF-8")
              case other => sys.error(s"bad HGETALL pair: $other")
            }.toMap
          case other => sys.error(s"HGETALL: $other")
        }
        (row.getLong(0), fields("name"), fields("bal").toDouble, fields("nation").toLong)
      }(_.close()).toDF("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    }),

    // redis_scan input (input_scan.go:84-96): SCAN + GET over the
    // keyspace; keys seeded by the cache path
    "src_redis_scan" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Resp.MiniRedis().start()
      val url = srv.url
      val regions = t(s, dir, "region")
        .select(col("r_regionkey").cast(LongType), col("r_name"))
      graft.operators.External.perPartitionLookup[graft.conn.Redis.Cache, Long](regions)(
        () => new graft.conn.Redis.Cache(url)) { (cache, row) =>
        cache.set("region:" + row.getLong(0), row.getString(1).getBytes("UTF-8"))
        row.getLong(0)
      }(_.close()).count()
      graft.conn.Redis.scanInput(s, url, "region:*").toDF("k", "r_name").select(
        regexp_extract(col("k"), "region:(\\d+)", 1).cast(LongType).as("r_regionkey"),
        col("r_name"))
    }),

    // redis_streams output (XADD body per partition) → input (XRANGE full
    // read): the stream round-trip (output_streams.go, input_streams.go)
    "src_redis_streams" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Resp.MiniRedis().start()
      val url = srv.url
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
        .filter(col("event_id") % 20 === 0)
        .select(concat_ws("|", col("event_id"), col("event_type")).as("v"))
        .as[String].repartition(Tables.connFanout(s, 8))
      graft.conn.Redis.streamsOutput(ev, url, "evstream")
      graft.conn.Redis.streamsInput(s, url, "evstream").toDF("id", "body").select(
        split(col("body"), "\\|").getItem(0).cast(LongType).as("event_id"),
        split(col("body"), "\\|").getItem(1).as("event_type"))
    }),

    // `file` cache backend (impl/io/cache_file.go) fronted by an lru
    // level (cache_multilevel.go + cache_lru.go): regions seeded into
    // the file cache per partition, nations enriched per row through the
    // multilevel stack — repeated regionkeys hit the lru, disk is truth.
    // Node-local by contract (local[32] shares the FS; on a cluster the
    // dir is per-executor or a shared mount, as in the reference's
    // one-process semantics)
    "cache_file" -> ((s, dir) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_fcache").toString
      val regions = t(s, dir, "region")
        .select(col("r_regionkey").cast(LongType), col("r_name"))
      graft.operators.External.perPartitionLookup[
          graft.operators.CacheBackends.FileCache, Long](regions)(
        () => new graft.operators.CacheBackends.FileCache(tmp)) { (c, row) =>
        c.set("region_" + row.getLong(0), row.getString(1).getBytes("UTF-8"))
        row.getLong(0)
      }(_.close()).count() // seed before lookups
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey").cast(LongType), col("n_regionkey").cast(LongType))
      graft.operators.External.perPartitionLookup[
          graft.operators.CacheBackends.MultilevelCache, (Long, String)](nat)(
        () => new graft.operators.CacheBackends.MultilevelCache(Seq(
          new graft.operators.CacheBackends.LruCache(16),
          new graft.operators.CacheBackends.FileCache(tmp)))) { (c, row) =>
        (row.getLong(0),
          graft.operators.CacheBackends.getString(c, "region_" + row.getLong(1)).orNull)
      }(_.close()).toDF("n_nationkey", "region_name")
    }),

    // NSQ input/output (impl/nsq/input.go:33, output.go) over the
    // from-scratch V2 protocol (conn/Nsq.scala): per-partition publisher
    // clients PUB, the driver-side consumer SUBs a topic+channel with
    // RDY flow control and FINs every delivery — the reference input's
    // at-least-once contract
    // beanstalkd input/output (impl/beanstalkd/: output.go:89 Put,
    // input.go:82-102 reserve→Delete ack) over the from-scratch text
    // protocol (conn/Beanstalkd.scala + MiniBeanstalkd fixture). One
    // producer client per Spark partition `put`s into a tube; the
    // driver-side consumer drains pull-style — reserve-with-timeout
    // until TIMED_OUT, explicit delete per job (the reference's ack).
    // Priority/TTR/death-requeue semantics are spec-gated.
    "src_beanstalkd" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Beanstalkd.MiniBeanstalkd().start()
      val addr = srv.address
      val rows = t(s, dir, "part").filter(col("p_partkey") % 4 === 0)
        .select(concat_ws("|", col("p_partkey"), col("p_brand")).as("v"))
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Beanstalkd.Client(addr)
          try {
            c.use("parts")
            it.foreach(r => c.put(r.getString(0).getBytes("UTF-8"), ttrSec = 60))
          } finally c.close()
        }
      }
      val got = Vector.newBuilder[String]
      val c = new graft.conn.Beanstalkd.Client(addr)
      try {
        c.watch("parts"); c.ignore("default")
        var done = false
        while (!done) c.reserve(1) match {
          case Some(j) => got += new String(j.body, "UTF-8"); c.delete(j.id)
          case None => done = true
        }
      } finally { c.close(); srv.stop() }
      s.createDataset(got.result()).toDF("line").select(
        split(col("line"), "\\|").getItem(0).cast(LongType).as("p_partkey"),
        split(col("line"), "\\|").getItem(1).as("p_brand"))
    }),

    "src_nsq" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Nsq.MiniNsq().start()
      val addr = srv.address
      val rows = t(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
        .select(concat_ws("|", col("c_custkey"), col("c_mktsegment")).as("v"))
      val expected = rows.count()
      val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val ready = new java.util.concurrent.CountDownLatch(1)
      val consumer = new Thread(() => {
        val c = new graft.conn.Nsq.Client(addr)
        try {
          c.subscribe("custs", "gate", maxInFlight = 256)
          ready.countDown()
          var n = 0L
          while (n < expected) {
            val d = c.nextDelivery()
            got.add(new String(d.body, "UTF-8"))
            c.fin(d.id)
            n += 1
          }
        } catch { case _: Throwable => () } finally c.close()
      })
      consumer.setDaemon(true); consumer.start()
      ready.await(10, java.util.concurrent.TimeUnit.SECONDS)
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Nsq.Client(addr)
          try it.foreach(r => c.publish("custs", r.getString(0).getBytes("UTF-8")))
          finally c.close()
        }
      }
      consumer.join(60000)
      require(got.size == expected, s"nsq delivered ${got.size}/$expected")
      import scala.jdk.CollectionConverters._
      s.createDataset(got.asScala.toSeq).toDF("line").select(
        split(col("line"), "\\|").getItem(0).cast(LongType).as("c_custkey"),
        split(col("line"), "\\|").getItem(1).as("c_mktsegment"))
    }),

    // kafka input/output (impl/kafka/ — the reference's flagship
    // connector family) over the from-scratch v0 wire protocol
    // (conn/Kafka.scala: Metadata/Produce/Fetch, CRC'd MessageSets).
    // Producers run one client per Spark partition routing rows to kafka
    // partitions by key; the input runs one FETCH CURSOR PER KAFKA
    // PARTITION executor-side — the same task shape as Spark's own kafka
    // source. The kafka partition id crosses the gate and the oracle
    // replays the partitioner arithmetic
    "src_kafka" -> ((s, dir) => {
      val srv = new graft.conn.Kafka.MiniKafka(numPartitions = 4).start()
      val bootstrap = srv.bootstrap
      val rows = t(s, dir, "lineitem").filter(col("l_linenumber") === 1)
        .select(col("l_orderkey").cast(LongType),
          concat_ws("|", col("l_quantity"), col("l_returnflag")).as("v"))
        .repartition(Tables.fanout(s)) // one-file input: concurrent producers
      graft.conn.Kafka.output(rows, bootstrap, "lineitem",
        partitionOf = r => (r.getLong(0) % 4).toInt,
        keyOf = r => r.getLong(0).toString.getBytes("UTF-8"),
        valueOf = r => r.getString(1).getBytes("UTF-8"))
      graft.conn.Kafka.input(s, bootstrap, "lineitem")
        .toDF("kafka_partition", "kafka_offset", "key", "value").select(
          col("kafka_partition").cast(LongType).as("kafka_partition"),
          col("key").cast(LongType).as("l_orderkey"),
          split(col("value"), "\\|").getItem(0).cast(DoubleType).as("l_quantity"),
          split(col("value"), "\\|").getItem(1).as("l_returnflag"))
    }),

    // AMQP 0-9-1 input/output (impl/amqp09/input.go:24, output.go:23)
    // over the from-scratch protocol (conn/Amqp.scala — public spec both
    // ends): executors publish to the default exchange per partition, the
    // driver-side consumer drains the declared queue with explicit
    // Basic.Acks — the reference input's at-least-once contract
    "src_amqp" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Amqp.MiniAmqp().start()
      val url = srv.url
      val setup = new graft.conn.Amqp.Client(url)
      setup.declareQueue("orders_q")
      val rows = t(s, dir, "orders").filter(col("o_orderkey") % 5 === 0)
        .select(concat_ws("|", col("o_orderkey"), col("o_orderpriority")).as("v"))
      val expected = rows.count()
      val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val consumer = new Thread(() => {
        val c = new graft.conn.Amqp.Client(url)
        try {
          c.consume("orders_q")
          var n = 0L
          while (n < expected) {
            val d = c.nextDelivery()
            got.add(new String(d.body, "UTF-8"))
            c.ack(d.deliveryTag)
            n += 1
          }
        } catch { case _: Throwable => () } finally c.close()
      })
      consumer.setDaemon(true); consumer.start()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Amqp.Client(url)
          try it.foreach(r => c.publish("orders_q", r.getString(0).getBytes("UTF-8")))
          finally c.close()
        }
      }
      consumer.join(60000)
      setup.close()
      require(got.size == expected, s"amqp delivered ${got.size}/$expected")
      import scala.jdk.CollectionConverters._
      s.createDataset(got.asScala.toSeq).toDF("line").select(
        split(col("line"), "\\|").getItem(0).cast(LongType).as("o_orderkey"),
        split(col("line"), "\\|").getItem(1).as("o_orderpriority"))
    }),

    // `memcached` cache backend (impl/memcached/cache.go:24) over the
    // from-scratch text protocol (conn/Memcached.scala): customers seeded
    // per partition, orders enriched per row — the same external-backend
    // wiring gate as cache_redis, on the second wire protocol the
    // reference's cache resources speak
    "cache_memcached" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Memcached.MiniMemcached().start()
      val addr = srv.address
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").cast(LongType), col("c_mktsegment"))
      graft.operators.External.perPartitionLookup[graft.conn.Memcached.Cache, Long](cust)(
        () => new graft.conn.Memcached.Cache(addr, prefix = "cust_")) { (c, row) =>
        c.set(row.getLong(0).toString, row.getString(1).getBytes("UTF-8"))
        row.getLong(0)
      }(_.close()).count() // seed before lookups
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").cast(LongType), col("o_custkey").cast(LongType))
      graft.operators.External.perPartitionLookup[graft.conn.Memcached.Cache, (Long, String)](ord)(
        () => new graft.conn.Memcached.Cache(addr, prefix = "cust_")) { (c, row) =>
        (row.getLong(0), c.get(row.getLong(1).toString)
          .map(new String(_, "UTF-8")).orNull)
      }(_.close()).toDF("o_orderkey", "segment")
    }),

    // NATS core input/output (impl/nats/input.go:18, output.go) over the
    // from-scratch protocol (conn/Nats.scala — public client-protocol
    // spec, both ends). Executors publish per partition; the driver-side
    // subscriber holds a `data.sup.*` WILDCARD subscription and recovers
    // the nationkey from the subject — the nats_subject metadata path
    "src_nats" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Nats.MiniNats().start()
      val url = srv.url
      val sub = new graft.conn.Nats.Client(url)
      sub.subscribe("data.sup.*")
      val rows = t(s, dir, "supplier")
        .select(col("s_nationkey").cast(LongType).as("nk"),
          concat_ws("|", col("s_suppkey"), col("s_name")).as("v"))
      val expected = rows.count()
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      val collector = new Thread(() => {
        try {
          var n = 0L
          while (n < expected) {
            val m = sub.nextMsg()
            got.add((m.subject, new String(m.payload, "UTF-8")))
            n += 1
          }
        } catch { case _: Throwable => () }
      })
      collector.setDaemon(true); collector.start()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Nats.Client(url)
          try it.foreach(r =>
            c.publish(s"data.sup.${r.getLong(0)}", r.getString(1).getBytes("UTF-8")))
          finally c.close()
        }
      }
      collector.join(60000)
      sub.close()
      require(got.size == expected, s"nats delivered ${got.size}/$expected")
      import scala.jdk.CollectionConverters._
      s.createDataset(got.asScala.toSeq).toDF("subject", "payload").select(
        split(col("payload"), "\\|").getItem(0).cast(LongType).as("s_suppkey"),
        split(col("payload"), "\\|").getItem(1).as("s_name"),
        regexp_extract(col("subject"), "data\\.sup\\.(\\d+)", 1)
          .cast(LongType).as("s_nationkey"))
    }),

    // NATS request/reply processor (processor_request_reply.go): each row
    // sends a request and the REPLY becomes the enrichment — served by a
    // queue group of responder services (one member per message, the
    // spec's distribution queue), with per-partition requester clients
    "proc_nats_rr" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Nats.MiniNats().start()
      val url = srv.url
      val ready = new java.util.concurrent.CountDownLatch(3)
      (1 to 3).foreach { _ =>
        val th = new Thread(() => {
          val c = new graft.conn.Nats.Client(url)
          try {
            c.subscribe("svc.score", queue = "scorers")
            ready.countDown()
            while (true) {
              val m = c.nextMsg()
              val id = new String(m.payload, "UTF-8").toLong
              c.publish(m.reply, (id * 7 + 3).toString.getBytes("UTF-8"))
            }
          } catch { case _: Throwable => () } finally c.close()
        })
        th.setDaemon(true); th.start()
      }
      ready.await(10, java.util.concurrent.TimeUnit.SECONDS)
      val ev = t(s, dir, "events").filter(col("event_id") % 10 === 0)
        .select(col("event_id")).repartition(Tables.connFanout(s, 16))
      graft.operators.External.perPartitionLookup[graft.conn.Nats.Client, (Long, Long)](ev)(
        () => new graft.conn.Nats.Client(url)) { (c, row) =>
        val id = row.getLong(0)
        (id, new String(c.request("svc.score", id.toString.getBytes("UTF-8")), "UTF-8").toLong)
      }(_.close()).toDF("event_id", "score")
    }),

    // MQTT input/output (impl/mqtt/input.go:23, output.go) over the
    // from-scratch 3.1.1 broker+client (conn/Mqtt.scala): executors
    // publish QoS-1 per partition, the driver-side subscriber holds a
    // `parts/+` wildcard filter and recovers the topic segment — the
    // mqtt_topic metadata path
    "src_mqtt" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Mqtt.MiniMqtt().start()
      val url = srv.url
      val sub = new graft.conn.Mqtt.Client(url, "graft-sub")
      sub.subscribe(Seq(("parts/+", 1)))
      val rows = t(s, dir, "part")
        .select(pmod(col("p_partkey"), lit(7)).cast(LongType).as("bucket"),
          concat_ws("|", col("p_partkey"), col("p_size")).as("v"))
      val expected = rows.count()
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      val collector = new Thread(() => {
        try {
          var n = 0L
          while (n < expected) {
            val m = sub.nextPublish()
            got.add((m.topic, new String(m.payload, "UTF-8")))
            n += 1
          }
        } catch { case _: Throwable => () }
      })
      collector.setDaemon(true); collector.start()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Mqtt.Client(url,
            s"graft-pub-${java.util.UUID.randomUUID()}")
          try it.foreach(r =>
            c.publish(s"parts/m${r.getLong(0)}", r.getString(1).getBytes("UTF-8"), qos = 1))
          finally c.disconnect()
        }
      }
      collector.join(60000)
      sub.close()
      require(got.size == expected, s"mqtt delivered ${got.size}/$expected")
      import scala.jdk.CollectionConverters._
      s.createDataset(got.asScala.toSeq).toDF("topic", "payload").select(
        split(col("payload"), "\\|").getItem(0).cast(LongType).as("p_partkey"),
        split(col("payload"), "\\|").getItem(1).cast(LongType).as("p_size"),
        regexp_extract(col("topic"), "parts/m(\\d+)", 1).cast(LongType).as("bucket"))
    }),

    // redis_pubsub output (PUBLISH) → input (SUBSCRIBE push mode): the
    // at-most-once channel — subscriber attaches first, then the publish
    // burst, so the loopback fixture delivers every payload
    "src_redis_pubsub" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Resp.MiniRedis().start()
      val url = srv.url
      val rows = t(s, dir, "nation")
        .select(concat_ws("|", col("n_nationkey"), col("n_name")).as("v"))
        .as[String].collect().toSeq
      val ready = new java.util.concurrent.CountDownLatch(1)
      val fut = new java.util.concurrent.FutureTask(() =>
        graft.conn.Redis.subscribeCollect(url, "nations", rows.length, ready))
      val th = new Thread(fut); th.setDaemon(true); th.start()
      ready.await(10, java.util.concurrent.TimeUnit.SECONDS)
      graft.conn.Redis.publish(url, "nations", rows)
      val got = fut.get(30, java.util.concurrent.TimeUnit.SECONDS)
      s.createDataset(got).toDF("line").select(
        split(col("line"), "\\|").getItem(0).cast(LongType).as("n_nationkey"),
        split(col("line"), "\\|").getItem(1).as("n_name"))
    }),

    // sftp output → input roundtrip (impl/sftp/: output.go:149-195
    // interpolated-path write with MkdirAll + truncate-create,
    // input.go:51,326 sequential glob-path consume with a lines scanner
    // and sftp_path metadata) over the from-scratch SSH2 transport +
    // SFTP v3 protocol (conn/Ssh.scala; the reference wraps
    // golang.org/x/crypto/ssh + github.com/pkg/sftp). One authenticated
    // client PER SPARK PARTITION uploads its rows as a part file — 32
    // concurrent curve25519/ed25519 handshakes against the fixture —
    // then the driver-side reader consumes the glob sequentially, the
    // reference input's path-provider order
    "src_sftp" -> ((s, dir) => {
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft-sftp")
      val srv = new graft.conn.Ssh.MiniSshd(root, "graft", "gate-pw").start()
      val addr = srv.address
      val hostPub = srv.hostPubRaw
      val rows = t(s, dir, "orders").filter(col("o_orderkey") % 6 === 0)
        .select(concat_ws("|", col("o_orderkey"), col("o_orderpriority")).as("v"))
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val c = graft.conn.Ssh.connect(addr,
            graft.conn.Ssh.Creds("graft", password = Some("gate-pw")),
            pinnedHostPub = Some(hostPub))
          try c.writeAll(f"/in/part-$pid%05d.txt",
            (it.map(_.getString(0)).mkString("\n") + "\n").getBytes("UTF-8"))
          finally c.close()
        }
      }
      val lines = Vector.newBuilder[(String, String)]
      val c = graft.conn.Ssh.connect(addr,
        graft.conn.Ssh.Creds("graft", password = Some("gate-pw")),
        pinnedHostPub = Some(hostPub))
      try c.glob("/in/part-*.txt").foreach { p =>
        new String(c.readAll(p), "UTF-8").split("\n").withFilter(_.nonEmpty)
          .foreach(l => lines += ((l, p)))
      } finally {
        c.close(); srv.stop()
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root)
          .sorted(java.util.Comparator.reverseOrder()).iterator().asScala
          .foreach(p => try java.nio.file.Files.deleteIfExists(p) catch { case _: Throwable => () })
      }
      s.createDataset(lines.result()).toDF("line", "sftp_path").select(
        split(col("line"), "\\|").getItem(0).cast(LongType).as("o_orderkey"),
        split(col("line"), "\\|").getItem(1).as("o_orderpriority"))
    }),

    // aws_s3 output → input roundtrip (impl/aws/output_s3.go:434 one
    // PutObject per message at an interpolated path; input_s3.go:319-383
    // static bucket walk + download with s3_key/s3_content_type/
    // s3_last_modified_unix metadata) over the from-scratch SigV4 + S3
    // REST protocol (conn/Aws.scala, conn/S3.scala; the reference wraps
    // aws-sdk-go-v2). Uploads run one SIGNED client per Spark partition;
    // the input lists ONCE driver-side (Spark's own file-listing shape)
    // and downloads executor-side — at 100 TB only the endpoint string
    // changes, bytes never touch the driver
    "src_aws_s3" -> ((s, dir) => {
      val srv = new graft.conn.S3.MiniS3().start()
      val endpoint = srv.endpoint
      val rows = t(s, dir, "part").filter(col("p_partkey") % 3 === 0)
        .select(col("p_partkey").cast(LongType),
          concat_ws("|", col("p_partkey"), col("p_name"), col("p_retailprice")).as("v"))
      // batched objects, ~200 messages each — the reference's documented
      // S3 pattern (output_s3.go:183 "upload messages to S3 as batched
      // archives"); per-row objects at scale would be an object-count
      // explosion AND a request-per-row cost
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val c = new graft.conn.S3.Client(endpoint)
          try it.grouped(200).zipWithIndex.foreach { case (chunk, i) =>
            c.put("data", f"parts/$pid%04d-$i%05d.txt",
              (chunk.map(_.getString(1)).mkString("\n") + "\n").getBytes("UTF-8"),
              contentType = "application/json")
          } finally c.close()
        }
      }
      graft.conn.S3.input(s, endpoint, "data", prefix = "parts/")
        .toDF("s3_key", "content", "s3_last_modified_unix", "s3_content_type")
        .select(col("s3_content_type"), explode(split(col("content"), "\n")).as("line"))
        .filter(col("line") =!= "")
        .select(
          split(col("line"), "\\|").getItem(0).cast(LongType).as("p_partkey"),
          split(col("line"), "\\|").getItem(1).as("p_name"),
          split(col("line"), "\\|").getItem(2).cast(DoubleType).as("p_retailprice"),
          col("s3_content_type"))
    }),

    // `aws_s3` cache backend (impl/aws/cache_s3.go: Get/Set/Add/Delete on
    // bucket keys): customers seeded per partition through the SIGNED
    // client, orders enriched per row — the same external-backend wiring
    // gate as cache_redis/cache_memcached, on the S3 REST surface
    "cache_s3" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.S3.MiniS3().start()
      val endpoint = srv.endpoint
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").cast(LongType), col("c_mktsegment"))
      graft.operators.External.perPartitionLookup[graft.conn.S3.Cache, Long](cust)(
        () => new graft.conn.S3.Cache(endpoint, "cachebkt", prefix = "cust_")) { (c, row) =>
        c.set(row.getLong(0).toString, row.getString(1).getBytes("UTF-8"))
        row.getLong(0)
      }(_.close()).count() // seed before lookups
      val ord = t(s, dir, "orders").filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").cast(LongType), col("o_custkey").cast(LongType))
      graft.operators.External.perPartitionLookup[graft.conn.S3.Cache, (Long, String)](ord)(
        () => new graft.conn.S3.Cache(endpoint, "cachebkt", prefix = "cust_")) { (c, row) =>
        (row.getLong(0), c.get(row.getLong(1).toString)
          .map(new String(_, "UTF-8")).orNull)
      }(_.close()).toDF("o_orderkey", "segment")
    }),

    // aws_sqs output → input roundtrip (impl/aws/output_sqs.go:273-325
    // SendMessageBatch ≤10 entries with metadata as message attributes;
    // input_sqs.go:385-517 ReceiveMessage loop + DeleteMessageBatch after
    // ack, sqs_message_id / sqs_approximate_receive_count metadata) over
    // the from-scratch SQS JSON protocol (conn/Sqs.scala, SigV4-signed;
    // the reference wraps aws-sdk-go-v2/service/sqs). Producers batch 10
    // per call per Spark partition; the driver-side consumer drains with
    // receive→deleteBatch — the at-least-once contract — and the
    // message-attribute metadata path crosses the gate
    "src_aws_sqs" -> ((s, dir) => {
      val srv = new graft.conn.Sqs.MiniSqs(defaultVisibilityMs = 30000).start()
      val endpoint = srv.endpoint
      val setup = new graft.conn.Sqs.Client(endpoint)
      val url = setup.createQueue("custs")
      val rows = t(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
        .select(concat_ws("|", col("c_custkey"), col("c_name")).as("v"),
          col("c_mktsegment"))
      val expected = rows.count()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        val c = new graft.conn.Sqs.Client(endpoint)
        try it.grouped(10).foreach { chunk =>
          c.sendBatch(url, chunk.map(r => (r.getString(0), Map("segment" -> r.getString(1)))))
        } finally c.close()
      }
      // spool-then-scan (operators/SpooledSource.scala): the single SQS
      // cursor drains into durable parquet chunks — messages deleted
      // only AFTER their chunk is on disk — and the result is the
      // DISTRIBUTED scan over the spool, not a driver-side collection
      val spoolDir = java.nio.file.Files.createTempDirectory("graft-sqs-spool").toString
      val spooled = graft.operators.SpooledSource.run(s, spoolDir, chunkRows = 2000)(
        () => setup.receive(url, max = 10, waitTimeSec = 2))(
        m => graft.operators.SpooledSource.SpoolMsg(m.body, m.attributes, m.receiveCount))(
        batch => { setup.deleteBatch(url, batch.map(_.receiptHandle)); () })
      val out = spooled.select(
        split(col("body"), "\\|").getItem(0).cast(LongType).as("c_custkey"),
        split(col("body"), "\\|").getItem(1).as("c_name"),
        col("attributes").getItem("segment").as("segment"),
        col("receive_count"))
      require(out.count() == expected, "spool row count mismatch")
      setup.close(); srv.stop()
      out // scans the on-disk spool; the fixture is no longer involved
    }),

    // aws_kinesis output → input roundtrip (impl/aws/output_kinesis.go
    // ≤500-record PutRecords batches with per-message partition keys;
    // input_kinesis.go shard-parallel GetRecords — its DynamoDB
    // checkpointer becomes "the shard list IS the Spark task list", one
    // cursor per shard executor-side, the kafka-input shape) over the
    // from-scratch Kinesis JSON protocol (conn/Kinesis.scala,
    // SigV4-signed; the reference wraps aws-sdk-go-v2). The shard id
    // crosses the gate and the oracle REPLAYS the public MD5 hash-range
    // routing contract (shard = top 2 bits of md5(key) for 4 shards)
    "src_aws_kinesis" -> ((s, dir) => {
      val srv = new graft.conn.Kinesis.MiniKinesis().start()
      val endpoint = srv.endpoint
      val setup = new graft.conn.Kinesis.Client(endpoint)
      setup.createStream("evt", 4)
      setup.close()
      val rows = t(s, dir, "lineitem").filter(col("l_linenumber") === 2 && col("l_orderkey") % 2 === 0)
        .select(col("l_orderkey").cast(LongType),
          concat_ws("|", col("l_quantity"), col("l_returnflag")).as("v"))
        .repartition(Tables.fanout(s)) // one-file input: concurrent producers
      graft.conn.Kinesis.output(rows, endpoint, "evt",
        keyOf = r => r.getLong(0).toString,
        dataOf = r => r.getString(1).getBytes("UTF-8"))
      graft.conn.Kinesis.input(s, endpoint, "evt")
        .toDF("shard_id", "sequence_number", "partition_key", "data").select(
          regexp_replace(col("shard_id"), "shardId-", "").cast(LongType).as("shard"),
          col("partition_key").cast(LongType).as("l_orderkey"),
          split(col("data"), "\\|").getItem(0).cast(DoubleType).as("l_quantity"),
          split(col("data"), "\\|").getItem(1).as("l_returnflag"))
    }),

    // `aws_dynamodb` cache backend (impl/aws/cache_dynamodb.go: hash_key
    // string + data_key binary AttributeValues, conditional-put add,
    // consistent-read get) over the from-scratch DynamoDB JSON protocol
    // (conn/Dynamo.scala, SigV4-signed): the external-backend wiring gate
    // on the fourth cache wire protocol (after redis/memcached/s3)
    "cache_dynamodb" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Dynamo.MiniDynamo().start()
      val endpoint = srv.endpoint
      val setup = new graft.conn.Dynamo.Client(endpoint)
      setup.createTable("cache", "key"); setup.close()
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").cast(LongType), col("s_name"))
      graft.operators.External.perPartitionLookup[graft.conn.Dynamo.Cache, Long](sup)(
        () => new graft.conn.Dynamo.Cache(endpoint, "cache", prefix = "sup_")) { (c, row) =>
        c.set(row.getLong(0).toString, row.getString(1).getBytes("UTF-8"))
        row.getLong(0)
      }(_.close()).count() // seed before lookups
      val li = t(s, dir, "lineitem").filter(col("l_linenumber") === 1 && col("l_orderkey") % 9 === 0)
        .select(col("l_orderkey").cast(LongType), col("l_suppkey").cast(LongType))
      graft.operators.External.perPartitionLookup[graft.conn.Dynamo.Cache, (Long, String)](li)(
        () => new graft.conn.Dynamo.Cache(endpoint, "cache", prefix = "sup_")) { (c, row) =>
        (row.getLong(0), c.get(row.getLong(1).toString)
          .map(new String(_, "UTF-8")).orNull)
      }(_.close()).toDF("l_orderkey", "supplier_name")
    }),

    // aws_lambda processor (impl/aws/processor_lambda.go: the message is
    // the Invoke payload, the result REPLACES the content; one client per
    // partition, requests stream through it) over the from-scratch
    // Invoke REST call (conn/Dynamo.scala Lambda object, SigV4-signed).
    // The fixture function is a driver-defined JSON transform — the same
    // in-JVM-endpoint pattern as proc_http; the oracle replays the
    // function arithmetic
    "proc_lambda" -> ((s, dir) => {
      import s.implicits._
      val fn: Array[Byte] => Either[String, Array[Byte]] = { payload =>
        val m = graft.conn.Aws.Json.asObj(graft.conn.Aws.Json.parse(new String(payload, "UTF-8")))
        val id = graft.conn.Aws.Json.long(m, "event_id")
        val v = m("value") match { case d: Double => d; case l: Long => l.toDouble; case x => x.toString.toDouble }
        Right(graft.conn.Aws.Json.render(graft.conn.Aws.Json.obj(
          "event_id" -> id, "score" -> (v * 3.0 + (id % 5).toDouble),
          "flag" -> (if (v > 50.0) "hot" else "cold"))).getBytes("UTF-8"))
      }
      val srv = new graft.conn.Lambda.MiniLambda(Map("score" -> fn)).start()
      val endpoint = srv.endpoint
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
        .select(to_json(struct(col("event_id"), col("value"))).as("payload")).repartition(Tables.fanout(s))
      graft.operators.External.perPartitionLookup[graft.conn.Lambda.Client, String](ev)(
        () => new graft.conn.Lambda.Client(endpoint)) { (c, row) =>
        new String(c.invoke("score", row.getString(0).getBytes("UTF-8")).payload, "UTF-8")
      }(_.close()).toDF("resp").select(
        get_json_object(col("resp"), "$.event_id").cast(LongType).as("event_id"),
        round(get_json_object(col("resp"), "$.score").cast(DoubleType), 6).as("score"),
        get_json_object(col("resp"), "$.flag").as("flag"))
    }),

    // gcp_pubsub output → input roundtrip (impl/gcp/output_pubsub.go
    // publish with attributes; input_pubsub.go pull + ack under the
    // ack-deadline redelivery contract) over the from-scratch REST
    // protocol with the REAL service-account OAuth2 flow: every Spark
    // partition's client mints its own RS256 JWT assertion and exchanges
    // it for a Bearer token, which the fixture verifies against the
    // account's public key (conn/Gcp.scala; the reference wraps
    // cloud.google.com/go/pubsub). An attribute crosses the gate as the
    // metadata path
    // gcp_bigquery_select input (impl/gcp/input_bigquery_select.go:
    // table/columns/where-with-?-args config compiled to a SELECT job;
    // output_bigquery.go's streaming inserts feed it) over the public
    // REST v2 surface behind the round-6 OAuth2 JWT-bearer flow
    // (conn/Gcp.scala BigQueryClient; the reference wraps
    // cloud.google.com/go/bigquery). Executors stream insertAll batches
    // with insertId dedup keys; the driver runs the parameterized
    // SELECT and drains bounded getQueryResults pages — the single
    // query-job cursor the real warehouse hands back
    "src_gcp_bigquery" -> ((s, dir) => {
      val (privPem, pubPem) = graft.conn.Gcp.generateKeyPair()
      val sa = graft.conn.Gcp.ServiceAccount("svc@graft.iam.gserviceaccount.com", privPem)
      val srv = new graft.conn.Gcp.MiniGcp(sa, pubPem).start()
      val endpoint = srv.endpoint
      srv.createBqTable("graft.ds.orders", Seq(
        "okey" -> "INT64", "priority" -> "STRING", "total" -> "FLOAT64"))
      val rows = t(s, dir, "orders").filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey").cast(LongType), col("o_orderpriority"),
          col("o_totalprice").cast(DoubleType))
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Gcp.BigQueryClient(endpoint, sa)
          try it.grouped(500).foreach { chunk =>
            c.insertAll("ds.orders", chunk.map(r => scala.collection.immutable.VectorMap[String, Any](
              "okey" -> r.getLong(0), "priority" -> r.getString(1), "total" -> r.getDouble(2))),
              insertIdOf = r => Some(s"o-${r("okey")}"))
          } finally c.close()
        }
      }
      // read-back through the executable spool path (operators/
      // SpooledSource.scala, the src_aws_sqs discipline): the single
      // jobs.query cursor — BigQuery pages one job, there is no
      // multi-cursor read here (that's the Storage READ API) — drains
      // into durable parquet chunks, and the result is the DISTRIBUTED
      // scan over the spool, not a driver-held Vector. Query pages have
      // no ack protocol, so commit is a no-op; the chunk checkpoint
      // still makes a crash resume from spooled data instead of
      // re-running the job.
      val reader = new graft.conn.Gcp.BigQueryClient(endpoint, sa)
      val res = reader.query(
        "SELECT okey, priority, total FROM `graft.ds.orders` WHERE total > ?",
        Seq(1000.0), pageSize = 1000)
      val cursor = res.rows
      val spoolDir = java.nio.file.Files.createTempDirectory("graft-bq-spool").toString
      val spooled = graft.operators.SpooledSource.run(s, spoolDir, chunkRows = 2000)(
        () => {
          val buf = Vector.newBuilder[Vector[String]]
          var n = 0
          while (n < 500 && cursor.hasNext) { buf += cursor.next(); n += 1 }
          buf.result()
        })(
        r => graft.operators.SpooledSource.SpoolMsg(r.mkString("|")))(
        _ => ())
      reader.close(); srv.stop()
      spooled.select(
        split(col("body"), "\\|").getItem(0).cast(LongType).as("o_orderkey"),
        split(col("body"), "\\|").getItem(1).as("priority"),
        split(col("body"), "\\|").getItem(2).cast(DoubleType).as("o_totalprice"))
    }),

    "src_gcp_pubsub" -> ((s, dir) => {
      import s.implicits._
      val (privPem, pubPem) = graft.conn.Gcp.generateKeyPair()
      val sa = graft.conn.Gcp.ServiceAccount("svc@graft.iam.gserviceaccount.com", privPem)
      val srv = new graft.conn.Gcp.MiniGcp(sa, pubPem, ackDeadlineMs = 30000).start()
      val endpoint = srv.endpoint
      srv.createTopic("orders"); srv.createSubscription("orders-sub", "orders")
      val rows = t(s, dir, "orders").filter(col("o_orderkey") % 4 === 0)
        .select(concat_ws("|", col("o_orderkey"), col("o_totalprice")).as("v"),
          col("o_orderpriority"))
      val expected = rows.count()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Gcp.PubSubClient(endpoint, sa)
          try it.grouped(100).foreach { chunk =>
            c.publish("orders", chunk.map(r =>
              (r.getString(0).getBytes("UTF-8"), Map("priority" -> r.getString(1)))))
          } finally c.close()
        }
      }
      val got = Vector.newBuilder[(String, String)]
      val consumer = new graft.conn.Gcp.PubSubClient(endpoint, sa)
      var n = 0L
      while (n < expected) {
        val batch = consumer.pull("orders-sub", maxMessages = 100)
        require(batch.nonEmpty, s"pubsub drained early at $n/$expected")
        batch.foreach(m => got += ((new String(m.data, "UTF-8"), m.attributes("priority"))))
        consumer.acknowledge("orders-sub", batch.map(_.ackId))
        n += batch.size
      }
      consumer.close(); srv.stop()
      s.createDataset(got.result()).toDF("line", "priority").select(
        split(col("line"), "\\|").getItem(0).cast(LongType).as("o_orderkey"),
        split(col("line"), "\\|").getItem(1).cast(DoubleType).as("o_totalprice"),
        col("priority"))
    }),

    // `gcp_cloud_storage` cache backend (impl/gcp/cache_cloud_storage.go)
    // over the GCS JSON API + Bearer auth: nations seeded, customers
    // enriched per row through per-partition authenticated clients
    "cache_gcs" -> ((s, dir) => {
      import s.implicits._
      val (privPem, pubPem) = graft.conn.Gcp.generateKeyPair()
      val sa = graft.conn.Gcp.ServiceAccount("svc@graft.iam.gserviceaccount.com", privPem)
      val srv = new graft.conn.Gcp.MiniGcp(sa, pubPem).start()
      val endpoint = srv.endpoint
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey").cast(LongType), col("n_name"))
      graft.operators.External.perPartitionLookup[graft.conn.Gcp.GcsCache, Long](nat)(
        () => new graft.conn.Gcp.GcsCache(endpoint, sa, "cachebkt", prefix = "nat_")) { (c, row) =>
        c.set(row.getLong(0).toString, row.getString(1).getBytes("UTF-8"))
        row.getLong(0)
      }(_.close()).count() // seed before lookups
      val cust = t(s, dir, "customer").filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey").cast(LongType), col("c_nationkey").cast(LongType))
      graft.operators.External.perPartitionLookup[graft.conn.Gcp.GcsCache, (Long, String)](cust)(
        () => new graft.conn.Gcp.GcsCache(endpoint, sa, "cachebkt", prefix = "nat_")) { (c, row) =>
        (row.getLong(0), c.get(row.getLong(1).toString)
          .map(new String(_, "UTF-8")).orNull)
      }(_.close()).toDF("c_custkey", "nation_name")
    }),

    // azure_blob_storage output → input roundtrip (impl/azure/
    // output_blob_storage.go per-message block-blob writes at
    // interpolated paths; input_blob_storage.go container walk +
    // download) over the from-scratch SharedKey-authenticated REST
    // protocol (conn/Azure.scala; the reference wraps
    // azure-sdk-for-go). Writers run one signed client per Spark
    // partition; the input lists driver-side (NextMarker pagination)
    // and downloads executor-side — the S3/GCS listing shape on the
    // third cloud auth scheme
    // gcp_spanner_cdc input (impl/gcp/input_spanner_cdc.go — the
    // reference wraps cloud.google.com/go/spanner and issues the
    // READ_<stream> TVF per partition token) over the from-scratch
    // gRPC/HTTP2/HPACK stack with a field-number-preserving
    // google.spanner.v1 proto subset (conn/Spanner.scala). Executors
    // insert through wire DML; the driver's NULL-token query names the
    // partition-tree roots, then ONE SPARK TASK PER TOKEN drains that
    // partition's change window — the token tree IS the task list, the
    // kafka-shard discipline applied to CDC
    "src_spanner_cdc" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Spanner.MiniSpanner("OrderStream", "orders", partitions = 6).start()
      val port = srv.port
      val rows = t(s, dir, "orders").filter(col("o_orderkey") % 9 === 4)
        .select(col("o_orderkey").cast(LongType), col("o_orderpriority"),
          col("o_totalprice").cast(DoubleType))
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Spanner.Client("127.0.0.1", port)
          try it.foreach { r =>
            c.insert("orders", Seq("okey" -> r.getLong(0),
              "priority" -> r.getString(1), "total" -> r.getDouble(2)))
          } finally c.close()
        }
      }
      val root = new graft.conn.Spanner.Client("127.0.0.1", port)
      val tokens = root.initialTokens("OrderStream")
      root.close()
      val out = s.sparkContext.parallelize(tokens, tokens.size).flatMap { token =>
        val c = new graft.conn.Spanner.Client("127.0.0.1", port)
        try c.readPartition("OrderStream", token).map { ch =>
          val nv = ch.newValues
          val total = nv("total") match { case l: Long => l.toDouble; case x => x.asInstanceOf[Double] }
          (nv("okey") match { case l: Long => l; case x => x.toString.toLong },
            nv("priority").asInstanceOf[String], total, ch.modType)
        } finally c.close()
      }.toDF("o_orderkey", "priority", "o_totalprice", "mod_type").localCheckpoint()
      srv.stop()
      out
    }),

    // s2 input/output (impl/s2/{input,output}.go — the reference wraps
    // s2-sdk-go): Bearer-authed append-only streams with assigned
    // seq-num windows, cursored bounded reads, and the input's
    // streams-by-PREFIX mode (conn/S2.scala). Executors append customer
    // rows to one stream per market segment in batches; the read-back
    // lists the prefix and fans one cursored drain per stream across
    // Spark tasks
    "src_s2" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.S2.MiniS2("graft-s2-token").start()
      val endpoint = srv.endpoint
      val rows = t(s, dir, "customer").filter(col("c_custkey") % 4 === 3)
        .select(col("c_mktsegment"),
          concat_ws("|", col("c_custkey"), col("c_name")).as("line"))
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.S2.Client(endpoint, "graft-s2-token")
          try it.toVector.groupBy(_.getString(0)).foreach { case (seg, rs) =>
            rs.grouped(100).foreach { chunk =>
              val ack = c.append(s"seg/$seg", chunk.map(r => (r.getString(1), Vector.empty[(String, String)])))
              require(ack.endSeqNum - ack.startSeqNum == chunk.size, "append window mismatch")
            }
          } finally c.close()
        }
      }
      val lister = new graft.conn.S2.Client(endpoint, "graft-s2-token")
      val streams = lister.listStreams("seg/")
      lister.close()
      val out = s.sparkContext.parallelize(streams, streams.size).flatMap { stream =>
        val c = new graft.conn.S2.Client(endpoint, "graft-s2-token")
        try c.readAll(stream, pageSize = 200).map { r =>
          (r.body, stream.stripPrefix("seg/"))
        } finally c.close()
      }.toDF("line", "c_mktsegment").select(
        split(col("line"), "\\|").getItem(0).cast(LongType).as("c_custkey"),
        split(col("line"), "\\|").getItem(1).as("c_name"),
        col("c_mktsegment")).localCheckpoint()
      srv.stop()
      out
    }),

    // snowflake_put (impl/snowflake/output_snowflake_put.go: stage
    // uploads + Snowpipe insertFiles/insertReport — the reference
    // wraps gosnowflake; conn/Snowpipe.scala implements the PUBLIC
    // pieces: the key-pair JWT with the fingerprinted issuer, an
    // external stage that IS the in-repo MiniS3, and the documented
    // Snowpipe REST). Executors stage one NDJSON file per partition
    // chunk and submit it to the pipe; the driver polls insertReport
    // until every file is LOADED with the right row count, then the
    // verification re-scans the STAGE distributed (the firehose
    // pattern — bytes never transit the driver)
    "out_snowflake_put" -> ((s, dir) => {
      val s3 = new graft.conn.S3.MiniS3().start()
      val (privPem, pubPem) = graft.conn.Gcp.generateKeyPair()
      val sp = new graft.conn.Snowpipe.MiniSnowpipe("GRAFT", "LOADER", pubPem,
        s3.endpoint, "stage").start()
      val s3e = s3.endpoint
      val spe = sp.endpoint
      val rows = t(s, dir, "orders").filter(col("o_orderkey") % 8 === 5)
        .select(concat_ws("|", col("o_orderkey"), col("o_totalprice")).as("line"))
      val expected = rows.count()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val s3c = new graft.conn.S3.Client(s3e)
          val pc = new graft.conn.Snowpipe.Client(spe, "GRAFT", "LOADER", privPem, pubPem)
          try it.grouped(2000).zipWithIndex.foreach { case (chunk, ci) =>
            val path = f"load/part-$pid%03d-$ci%03d.ndjson"
            s3c.put("stage", path, (chunk.map(_.getString(0)).mkString("\n") + "\n").getBytes("UTF-8"))
            pc.insertFiles("ORDERS_PIPE", Seq(path)) // per-file, like the reference
          } finally { s3c.close(); pc.close() }
        }
      }
      val reporter = new graft.conn.Snowpipe.Client(spe, "GRAFT", "LOADER", privPem, pubPem)
      val report = reporter.insertReport("ORDERS_PIPE")
      reporter.close()
      require(report.nonEmpty && report.forall(_.status == "LOADED"),
        s"snowpipe load incomplete: $report")
      require(report.map(_.rowsInserted).sum == expected,
        s"snowpipe loaded ${report.map(_.rowsInserted).sum}/$expected rows")
      val out = graft.conn.S3.input(s, s3e, "stage", prefix = "load/")
        .toDF("s3_key", "content", "lm", "ct")
        .select(explode(split(col("content"), "\n")).as("line"))
        .filter(col("line") =!= "")
        .select(
          split(col("line"), "\\|").getItem(0).cast(LongType).as("o_orderkey"),
          split(col("line"), "\\|").getItem(1).cast(DoubleType).as("o_totalprice"))
        .localCheckpoint()
      sp.stop(); s3.stop()
      out
    }),

    // cosmosdb input/output (impl/azure/{input,output}_cosmosdb.go —
    // the reference wraps azcosmos) over the public REST surface:
    // master-key auth per the documented string-to-sign (fixture
    // recomputes and 401s), document creates with the partition key
    // header, and parameterized per-partition-key SQL queries with
    // continuation paging (conn/Cosmos.scala). The input documents that
    // cross-partition queries are unsupported — so the read-back fans
    // ONE query per partition key across Spark tasks, the same
    // partition-parallel scan as out_azure_table
    "src_cosmosdb" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Cosmos.MiniCosmos().start()
      srv.createContainer("orders")
      val endpoint = srv.endpoint
      val rows = t(s, dir, "orders").filter(col("o_orderkey") % 7 === 2)
        .select(col("o_orderkey").cast(LongType), col("o_orderpriority"),
          col("o_totalprice").cast(DoubleType))
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Cosmos.Client(endpoint)
          try it.foreach { r =>
            require(c.create("orders", r.getString(1),
              scala.collection.immutable.VectorMap[String, Any](
                "id" -> r.getLong(0).toString, "okey" -> r.getLong(0),
                "total" -> r.getDouble(2))), "cosmos create conflicted")
          } finally c.close()
        }
      }
      val pks = rows.select(col("o_orderpriority")).distinct().as[String].collect().toSeq
      val out = s.sparkContext.parallelize(pks, pks.size).flatMap { pk =>
        val c = new graft.conn.Cosmos.Client(endpoint)
        try c.query("orders", pk,
          "SELECT c.okey, c.total FROM orders AS c WHERE c.total > @min",
          Map("@min" -> 0.0), maxItemCount = 200).map { d =>
          // whole-number doubles round-trip through JSON as integers
          val total = d("total") match { case l: Long => l.toDouble; case x => x.asInstanceOf[Double] }
          (d("okey").asInstanceOf[Long], pk, total)
        } finally c.close()
      }.toDF("o_orderkey", "priority", "o_totalprice").localCheckpoint()
      srv.stop()
      out
    }),

    // fsevent input (impl/io/input_fsevent.go — the reference wraps
    // fsnotify; operators/Fsevent.scala rides java.nio WatchService,
    // the same inotify facility). Executors write and delete files in
    // the watched directory; the driver's watcher reduces the event
    // stream to each file's final state — CREATE then REMOVE arms both
    // cross the gate and the oracle replays them
    "src_fsevent" -> ((s, dir) => {
      import s.implicits._
      val watchDir = java.nio.file.Files.createTempDirectory("graft-fsev").toString
      val w = new graft.operators.Fsevent.Watcher(Seq(watchDir))
      // the consumer drains CONCURRENTLY with the writers — the
      // WatchService buffers at most 512 events per key between polls,
      // so a drain-after-the-fact loses bursts to OVERFLOW; a live
      // consumer (the input's real shape) never lets the queue build
      val state = new java.util.concurrent.ConcurrentHashMap[String, String]()
      @volatile var overflowed = false
      @volatile var draining = true
      val drainer = new Thread(() => {
        while (draining) w.next(300).foreach { ev =>
          if (ev.op == "OVERFLOW") overflowed = true
          else {
            val name = java.nio.file.Paths.get(ev.path).getFileName.toString
            if (ev.op == "REMOVE") state.put(name, "DELETED")
            else state.putIfAbsent(name, "CREATED")
          }
        }
      })
      drainer.setDaemon(true); drainer.start()
      val rows = t(s, dir, "part").filter(col("p_partkey") % 8 === 0)
        .select(col("p_partkey").cast(LongType))
      val n = rows.count()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        it.foreach { r =>
          val key = r.getLong(0)
          val f = java.nio.file.Paths.get(watchDir, s"part-$key.txt")
          java.nio.file.Files.write(f, s"v-$key".getBytes("UTF-8"))
          if (key % 5 == 0) java.nio.file.Files.delete(f)
        }
      }
      val deadline = System.currentTimeMillis() + 30000
      while (state.size < n && System.currentTimeMillis() < deadline) Thread.sleep(100)
      Thread.sleep(500) // let trailing REMOVEs land
      draining = false; drainer.join(2000); w.close()
      require(!overflowed, "fsevent watch overflowed")
      require(state.size == n, s"fsevent saw ${state.size}/$n files")
      import scala.jdk.CollectionConverters._
      s.createDataset(state.asScala.toVector.map { case (name, st) =>
        (name.stripPrefix("part-").stripSuffix(".txt").toLong, st) })
        .toDF("p_partkey", "state")
    }),

    // cypher output → input roundtrip (impl/cypher/output_cypher.go: a
    // parameterized CREATE per message with $-values; input_cypher.go:
    // a query whose records become messages — the reference wraps
    // neo4j-go-driver/v5) over the from-scratch Bolt 4.4 + PackStream
    // stack (conn/Bolt.scala: handshake, HELLO auth, RUN/PULL with
    // fetch-size paging, chunked framing). One bolt connection per
    // Spark partition streams CREATEs; the read-back is the input's
    // MATCH with a property predicate and PULL batching
    "src_cypher" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Bolt.MiniNeo4j().start()
      val addr = srv.address
      val rows = t(s, dir, "customer").filter(col("c_custkey") % 4 === 1)
        .select(col("c_custkey").cast(LongType), col("c_name"),
          col("c_acctbal").cast(DoubleType))
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Bolt.Client(addr)
          try it.foreach { r =>
            c.run("CREATE (c:Customer {key: $key, name: $name, bal: $bal})",
              Map("key" -> r.getLong(0), "name" -> r.getString(1), "bal" -> r.getDouble(2)))
          } finally c.close()
        }
      }
      val reader = new graft.conn.Bolt.Client(addr)
      val (_, recs) = reader.run(
        "MATCH (c:Customer) WHERE c.bal > $min RETURN c.key AS key, c.name AS name, c.bal AS bal",
        Map("min" -> 0.0), fetchSize = 500)
      reader.close(); srv.stop()
      s.createDataset(recs.map(r => (r(0).asInstanceOf[Long],
        r(1).asInstanceOf[String], r(2).asInstanceOf[Double])))
        .toDF("c_custkey", "c_name", "c_acctbal")
    }),

    // azure service_bus_queue input (impl/azure/input_service_bus_queue
    // .go: peek-lock ReceiveMessages with CompleteMessage /
    // AbandonMessage and per-message delivery counts — the azservicebus
    // SDK the reference wraps speaks AMQP 1.0 underneath, which is
    // exactly the from-scratch layer in conn/Amqp1.scala). Executors
    // send through per-partition sender links; the driver's receiver
    // ABANDONS a deterministic subset on first sight (released
    // disposition → redelivery with the header delivery-count bumped)
    // and completes everything on the second pass — the at-least-once
    // surface crosses the gate as a delivery_count column
    "src_azure_service_bus" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Amqp1.MiniAmqp1().start()
      val addr = srv.address
      val rows = t(s, dir, "orders").filter(col("o_orderkey") % 6 === 3)
        .select(concat_ws("|", col("o_orderkey"), col("o_totalprice")).as("v"))
      val expected = rows.count()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val snd = new graft.conn.Amqp1.Sender(addr, "sbq")
          try it.foreach(r => snd.send(r.getString(0).getBytes("UTF-8")))
          finally snd.close()
        }
      }
      val rcv = new graft.conn.Amqp1.Receiver(addr, "sbq")
      val got = Vector.newBuilder[(Long, Double, Long)]
      var completed = 0L
      while (completed < expected) {
        rcv.flow(200)
        var d = rcv.receive(3000)
        require(d.isDefined || completed == expected, s"service bus drained early at $completed/$expected")
        while (d.isDefined) {
          val del = d.get
          val parts = new String(del.body, "UTF-8").split('|')
          val okey = parts(0).toLong
          if (okey % 9 == 0 && del.deliveryCount == 0L) {
            rcv.release(del) // AbandonMessage: redeliver with count bumped
          } else {
            rcv.accept(del) // CompleteMessage
            got += ((okey, parts(1).toDouble, del.deliveryCount + 1))
            completed += 1
          }
          d = if (completed < expected) rcv.receive(1000) else None
        }
      }
      rcv.close(); srv.stop()
      s.createDataset(got.result()).toDF("o_orderkey", "o_totalprice", "delivery_count")
    }),

    // azure table storage (impl/azure/output_table_storage.go: INSERT /
    // INSERT_MERGE / DELETE transaction verbs on PartitionKey/RowKey
    // entities; input_table_storage.go: $filter queries) over the
    // table-flavored SharedKey signing (conn/Azure.scala TableClient;
    // the reference wraps the aztables SDK). Executors insert one
    // entity per customer and drive the merge/delete arms; the
    // read-back fans one $filter query per PARTITION KEY across Spark
    // tasks — the partition-key-parallel scan shape the service's own
    // storage layout rewards — with every page bounded by $top
    "out_azure_table" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Azure.MiniAzure().start()
      val endpoint = srv.endpoint
      val setup = new graft.conn.Azure.TableClient(endpoint, graft.conn.Azure.testAccount)
      setup.createTable("custs"); setup.close()
      val rows = t(s, dir, "customer").filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey").cast(LongType), col("c_mktsegment"), col("c_name"))
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Azure.TableClient(endpoint, graft.conn.Azure.testAccount)
          try it.foreach { r =>
            val key = r.getLong(0)
            val rk = f"$key%012d"
            require(c.insert("custs", r.getString(1), rk,
              scala.collection.immutable.VectorMap[String, Any](
                "name" -> r.getString(2), "flagged" -> false)), "duplicate insert")
            if (key % 3 == 0) c.merge("custs", r.getString(1), rk,
              scala.collection.immutable.VectorMap[String, Any]("flagged" -> true))
            if (key % 7 == 0) c.delete("custs", r.getString(1), rk)
          } finally c.close()
        }
      }
      val segments = rows.select(col("c_mktsegment")).distinct()
        .as[String].collect().toSeq // 5 partition keys
      val out = s.sparkContext.parallelize(segments, segments.size).flatMap { seg =>
        val c = new graft.conn.Azure.TableClient(endpoint, graft.conn.Azure.testAccount)
        try c.query("custs", filter = Some(s"PartitionKey eq '$seg'"), top = 500).map { e =>
          (e("RowKey").asInstanceOf[String].toLong, seg,
            e("name").asInstanceOf[String], e("flagged").asInstanceOf[Boolean])
        } finally c.close()
      }.toDF("c_custkey", "c_mktsegment", "c_name", "flagged").localCheckpoint()
      srv.stop()
      out
    }),

    "src_azure_blob" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Azure.MiniAzure().start()
      val endpoint = srv.endpoint
      val setup = new graft.conn.Azure.BlobClient(endpoint)
      setup.createContainer("data"); setup.close()
      val rows = t(s, dir, "supplier").filter(col("s_suppkey") % 2 === 0)
        .select(col("s_suppkey").cast(LongType),
          concat_ws("|", col("s_suppkey"), col("s_name"), col("s_acctbal")).as("v"))
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Azure.BlobClient(endpoint)
          try it.foreach(r => c.put("data", f"sup/${r.getLong(0)}%09d.txt",
            r.getString(1).getBytes("UTF-8"), "text/plain"))
          finally c.close()
        }
      }
      val keys = {
        val c = new graft.conn.Azure.BlobClient(endpoint)
        try c.list("data", "sup/", pageSize = 200).map(_.name) finally c.close()
      }
      s.createDataset(keys).repartition(math.min(Tables.fanout(s), math.max(1, keys.size)))
        .mapPartitions { ks =>
          val c = new graft.conn.Azure.BlobClient(endpoint)
          val out = ks.map(k => new String(c.get("data", k).get, "UTF-8"))
          new Iterator[String] {
            def hasNext: Boolean = { val h = out.hasNext; if (!h) c.close(); h }
            def next(): String = out.next()
          }
        }
        .toDF("line").select(
          split(col("line"), "\\|").getItem(0).cast(LongType).as("s_suppkey"),
          split(col("line"), "\\|").getItem(1).as("s_name"),
          split(col("line"), "\\|").getItem(2).cast(DoubleType).as("s_acctbal"))
    }),

    // azure_queue_storage output → input roundtrip (impl/azure/
    // output_queue_storage.go base64 message bodies;
    // input_queue_storage.go dequeue with visibility leases + delete by
    // pop receipt): per-partition signed producers, driver-side consumer
    // drains with dequeue→delete — DequeueCount crosses the gate
    "src_azure_queue" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Azure.MiniAzure().start()
      val endpoint = srv.endpoint
      val setup = new graft.conn.Azure.QueueClient(endpoint)
      setup.createQueue("parts")
      val rows = t(s, dir, "part").filter(col("p_partkey") % 5 === 0)
        .select(concat_ws("|", col("p_partkey"), col("p_brand")).as("v"))
      val expected = rows.count()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Azure.QueueClient(endpoint)
          try it.foreach(r => c.enqueue("parts", r.getString(0).getBytes("UTF-8")))
          finally c.close()
        }
      }
      val got = Vector.newBuilder[(String, Long)]
      var n = 0L
      while (n < expected) {
        val batch = setup.dequeue("parts", max = 32, visibilitySec = 30)
        require(batch.nonEmpty, s"azure queue drained early at $n/$expected")
        batch.foreach { m =>
          got += ((new String(setup.decodeBody(m), "UTF-8"), m.dequeueCount))
          setup.delete("parts", m)
        }
        n += batch.size
      }
      setup.close(); srv.stop()
      s.createDataset(got.result()).toDF("line", "dequeue_count").select(
        split(col("line"), "\\|").getItem(0).cast(LongType).as("p_partkey"),
        split(col("line"), "\\|").getItem(1).as("p_brand"),
        col("dequeue_count"))
    }),

    // aws_sns output with SQS fan-out (impl/aws/output_sns.go Publish
    // with message attributes) over the from-scratch SNS Query protocol:
    // per-partition signed publishers; TWO real SQS queues subscribed to
    // the topic each receive the documented JSON notification envelope,
    // and the consumer parses Message + attributes out of it — the
    // composed SNS→SQS path, with the fan-out factor crossing the gate
    "out_aws_sns" -> ((s, dir) => {
      import s.implicits._
      val sns = new graft.conn.Sns.MiniSns().start()
      val sqs = new graft.conn.Sqs.MiniSqs(defaultVisibilityMs = 30000).start()
      val snsEndpoint = sns.endpoint
      val sqsEndpoint = sqs.endpoint
      val setupSns = new graft.conn.Sns.Client(snsEndpoint)
      val setupSqs = new graft.conn.Sqs.Client(sqsEndpoint)
      val arn = setupSns.createTopic("orders")
      val queues = Seq("q1", "q2")
      val urls = queues.map(q => q -> setupSqs.createQueue(q)).toMap
      urls.foreach { case (_, url) =>
        sns.subscribe(arn, envelope => {
          val c = new graft.conn.Sqs.Client(sqsEndpoint)
          try c.send(url, envelope) finally c.close()
        })
      }
      val rows = t(s, dir, "orders").filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").cast(LongType).cast(StringType).as("k"),
          col("o_orderpriority"))
      val expected = rows.count()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Sns.Client(snsEndpoint)
          try it.foreach(r => c.publish(arn, r.getString(0), Map("priority" -> r.getString(1))))
          finally c.close()
        }
      }
      val got = Vector.newBuilder[(Long, String, String)]
      queues.foreach { q =>
        var n = 0L
        while (n < expected) {
          val batch = setupSqs.receive(urls(q), max = 10, waitTimeSec = 5)
          require(batch.nonEmpty, s"sns fan-out drained early on $q at $n/$expected")
          batch.foreach { m =>
            val env = graft.conn.Aws.Json.asObj(graft.conn.Aws.Json.parse(m.body))
            val attrs = graft.conn.Aws.Json.asObj(env("MessageAttributes"))
            got += ((graft.conn.Aws.Json.str(env, "Message").toLong,
              graft.conn.Aws.Json.str(graft.conn.Aws.Json.asObj(attrs("priority")), "Value"), q))
          }
          setupSqs.deleteBatch(urls(q), batch.map(_.receiptHandle))
          n += batch.size
        }
      }
      setupSns.close(); setupSqs.close(); sns.stop(); sqs.stop()
      s.createDataset(got.result()).toDF("o_orderkey", "priority", "queue")
    }),

    // aws_kinesis_firehose output (impl/aws/output_kinesis_firehose.go:
    // PutRecordBatch ≤500, newline-delimited records) over the
    // from-scratch Firehose JSON protocol, with the documented
    // S3-DESTINATION delivery: the fixture buffers and flushes
    // concatenated objects through the REAL S3 client into a MiniS3,
    // and the verification path reads them back via the distributed S3
    // input — the full produce→buffer→deliver→scan pipeline
    "out_aws_firehose" -> ((s, dir) => {
      val s3 = new graft.conn.S3.MiniS3().start()
      val fh = new graft.conn.Firehose.MiniFirehose(s3.endpoint, "delivery", "fh",
        bufferCount = 2000).start()
      fh.createStreamDirect("li")
      val fhEndpoint = fh.endpoint
      val rows = t(s, dir, "lineitem").filter(col("l_linenumber") === 3)
        .select(concat_ws("|", col("l_orderkey"), col("l_extendedprice")).as("v"))
        .repartition(Tables.fanout(s)) // one-file input: concurrent writers
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Firehose.Client(fhEndpoint)
          try it.grouped(500).foreach { chunk =>
            c.putRecordBatch("li", chunk.map(r => (r.getString(0) + "\n").getBytes("UTF-8")))
          } finally c.close()
        }
      }
      fh.flushAll()
      graft.conn.S3.input(s, s3.endpoint, "delivery", prefix = "fh/")
        .toDF("s3_key", "content", "lm", "ct")
        .select(explode(split(col("content"), "\n")).as("line"))
        .filter(col("line") =!= "")
        .select(
          split(col("line"), "\\|").getItem(0).cast(LongType).as("l_orderkey"),
          split(col("line"), "\\|").getItem(1).cast(DoubleType).as("l_extendedprice"))
    }),

    // mongodb output → input roundtrip (impl/mongodb/output.go batched
    // inserts; input.go a find-cursor over the collection) over the
    // from-scratch BSON + OP_MSG wire protocol (conn/Mongo.scala; the
    // reference wraps go.mongodb.org/mongo-driver). Executors insert
    // typed documents per partition; the input issues a FILTERED find
    // (int64 equality on a computed field) so the BSON type bridge —
    // long/double/string both directions — crosses the gate
    "src_mongodb" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Mongo.MiniMongo().start()
      val addr = srv.address
      val rows = t(s, dir, "part")
        .select(col("p_partkey").cast(LongType), col("p_name"),
          col("p_retailprice").cast(DoubleType))
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        val c = new graft.conn.Mongo.Client(addr)
        try it.grouped(1000).foreach { chunk =>
          c.insert("parts", chunk.map(r => scala.collection.immutable.VectorMap[String, Any](
            "_id" -> r.getLong(0), "name" -> r.getString(1),
            "price" -> r.getDouble(2), "bucket" -> r.getLong(0) % 4)))
        } finally c.close()
      }
      val found = {
        val c = new graft.conn.Mongo.Client(addr)
        try c.find("parts", scala.collection.immutable.VectorMap[String, Any]("bucket" -> 2L))
        finally { c.close(); srv.stop() }
      }
      s.createDataset(found.map(d => (d("_id").asInstanceOf[Long],
        d("name").asInstanceOf[String], d("price").asInstanceOf[Double])))
        .toDF("p_partkey", "p_name", "p_retailprice")
    }),

    // `mongodb` cache backend (impl/mongodb/cache.go: key-field
    // equality, upsert set, insert-with-duplicate-key add) over OP_MSG:
    // the external-backend wiring gate on the fifth cache wire protocol
    "cache_mongodb" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Mongo.MiniMongo().start()
      val addr = srv.address
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").cast(LongType), col("c_name"))
      graft.operators.External.perPartitionLookup[graft.conn.Mongo.Cache, Long](cust)(
        () => new graft.conn.Mongo.Cache(addr, "kv", prefix = "c_")) { (c, row) =>
        c.set(row.getLong(0).toString, row.getString(1).getBytes("UTF-8"))
        row.getLong(0)
      }(_.close()).count() // seed before lookups
      val ord = t(s, dir, "orders").filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey").cast(LongType), col("o_custkey").cast(LongType))
      graft.operators.External.perPartitionLookup[graft.conn.Mongo.Cache, (Long, String)](ord)(
        () => new graft.conn.Mongo.Cache(addr, "kv", prefix = "c_")) { (c, row) =>
        (row.getLong(0), c.get(row.getLong(1).toString)
          .map(new String(_, "UTF-8")).orNull)
      }(_.close()).toDF("o_orderkey", "customer_name")
    }),

    // mongodb processor find-one operation (impl/mongodb/processor.go:172
    // — FindOne with a filter map, the decoded document becomes the
    // message): a seeded collection enriches lineitems per row through
    // one client per partition, non-_id filter + typed decode
    "proc_mongodb" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Mongo.MiniMongo().start()
      val addr = srv.address
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").cast(LongType), col("s_name"), col("s_acctbal").cast(DoubleType))
      sup.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        val c = new graft.conn.Mongo.Client(addr)
        try it.grouped(100).foreach { chunk =>
          c.insert("sups", chunk.map(r => scala.collection.immutable.VectorMap[String, Any](
            "key" -> r.getLong(0), "name" -> r.getString(1), "bal" -> r.getDouble(2))))
        } finally c.close()
      }
      val li = t(s, dir, "lineitem").filter(col("l_linenumber") === 1 && col("l_orderkey") % 6 === 0)
        .select(col("l_orderkey").cast(LongType), col("l_suppkey").cast(LongType))
      graft.operators.External.perPartitionLookup[graft.conn.Mongo.Client, (Long, String, Double)](li)(
        () => new graft.conn.Mongo.Client(addr)) { (c, row) =>
        val doc = c.findOne("sups",
          scala.collection.immutable.VectorMap[String, Any]("key" -> row.getLong(1))).get
        (row.getLong(0), doc("name").asInstanceOf[String], doc("bal").asInstanceOf[Double])
      }(_.close()).toDF("l_orderkey", "supplier_name", "supplier_bal")
    }),

    // elasticsearch/opensearch output (impl/elasticsearch/output.go,
    // impl/opensearch/output.go: `_bulk` NDJSON with per-message
    // action/index/id) over the from-scratch REST protocol
    // (conn/Elastic.scala). One client per Spark partition streams
    // index actions; a second pass exercises the update
    // (doc-merge) and delete actions; the verification search reads the
    // surviving documents back — all four bulk verbs cross one gate
    // aws_dynamodb output (impl/aws/output_dynamodb.go:241-607): each
    // message builds string_columns + json_map_columns into an
    // AttributeValue item; the delete_condition arm routes matching
    // messages to DeleteRequests in the SAME BatchWriteItem batch;
    // ≤25-request batches from EXECUTORS with the UnprocessedItems
    // re-drive loop. Read-back is a bounded Scan; the oracle replays
    // both arms
    "out_aws_dynamodb" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Dynamo.MiniDynamo().start()
      val endpoint = srv.endpoint
      val setup = new graft.conn.Dynamo.Client(endpoint)
      setup.createTable("events_out", "id")
      val ev = t(s, dir, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull && col("event_id") % 2 === 0)
        .select(col("event_id"), col("event_type"), col("value"))
        .repartition(Tables.fanout(s))
      ev.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Dynamo.Client(endpoint)
          try it.grouped(25).foreach { chunk =>
            c.batchWrite("events_out", chunk.map { r =>
              val key = scala.collection.immutable.VectorMap[String, Any](
                "id" -> graft.conn.Dynamo.toAttributeValue(s"e${r.getLong(0)}", numbersAsN = true))
              if (r.getLong(0) % 10 == 0) Left(key) // delete_condition arm
              else Right(key ++ scala.collection.immutable.VectorMap[String, Any](
                "etype" -> graft.conn.Dynamo.toAttributeValue(r.getString(1), numbersAsN = true),
                "payload" -> graft.conn.Dynamo.toAttributeValue(
                  scala.collection.immutable.VectorMap[String, Any](
                    "event_id" -> r.getLong(0), "value" -> r.getDouble(2)),
                  numbersAsN = true)))
            }.toSeq)
          } finally c.close()
        }
      }
      val got = setup.scan("events_out").map { item =>
        val m = item.map { case (k, v) => k -> graft.conn.Dynamo.fromAttributeValue(
          graft.conn.Aws.Json.asObj(v)) }
        val payload = m("payload").asInstanceOf[scala.collection.immutable.VectorMap[String, Any]]
        (m("id").asInstanceOf[String], m("etype").asInstanceOf[String],
          payload("event_id").asInstanceOf[Long],
          payload("value") match { case d: Double => d; case l: Long => l.toDouble })
      }
      setup.close(); srv.stop()
      got.toDF("id", "etype", "event_id", "value")
    }),

    // datadog_logs output (impl/datadog/output_datadog_logs.go:34-415):
    // the HTTP logs-intake v2 surface — per-partition clients POST
    // gzip'd JSON batches of HTTPLogItems from EXECUTORS with the
    // interpolated ddsource/ddtags/hostname/service/status/timestamp
    // per message; fixture enforces the API's auth + batch limits.
    // Oracle replays every interpolation arm
    "out_datadog_logs" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Observability.Datadog.MiniDatadogLogs("t0k3n").start()
      val endpoint = srv.endpoint
      val ev = t(s, dir, "events")
        .filter(col("value").isNotNull && col("event_type").isNotNull && col("event_id") % 3 === 0)
        .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
        .repartition(Tables.fanout(s)) // one-file input → distribute the intake POSTs
      ev.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Observability.Datadog.Client(endpoint, "t0k3n")
          try it.grouped(500).foreach { chunk =>
            c.submit(chunk.map { r =>
              graft.conn.Observability.Datadog.LogItem(
                message = s"""{"event_id":${r.getLong(0)}}""",
                ddsource = "graft",
                ddtags = s"env:test,type:${r.getString(1)}",
                hostname = s"h${r.getLong(2) % 4}",
                service = "pipeline",
                status = if (r.getDouble(3) > 100.0) "error" else "info",
                timestampMs = 1700000000000L + r.getLong(0))
            }.toSeq)
          } finally c.close()
        }
      }
      val out = srv.logs.map(l => (l.message, l.ddsource, l.ddtags, l.hostname,
        l.service, l.status, l.timestampMs))
        .toDF("message", "ddsource", "ddtags", "hostname", "service", "status", "ts_ms")
      srv.stop()
      out.select(
        get_json_object(col("message"), "$.event_id").cast(LongType).as("event_id"),
        col("ddsource"), col("ddtags"), col("hostname"),
        col("service"), col("status"), col("ts_ms"))
    }),

    // socket_server input (impl/io/input_socket_server.go:28-180): the
    // LISTEN-mode twin of src_socket — the input accepts many client
    // connections at once and line-scans each; here the producers are
    // Spark tasks dialing in concurrently from executors, and the
    // drained ingress buffer becomes the DataFrame
    "src_socket_server" -> ((s, dir) => {
      import s.implicits._
      val input = new graft.operators.SocketServerInput("tcp").start()
      val port = input.port
      val rows = t(s, dir, "part").filter(col("p_partkey") % 5 === 2)
        .select(col("p_partkey"), col("p_brand"))
      val expected = rows.count().toInt
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val sock = new java.net.Socket(java.net.InetAddress.getLoopbackAddress, port)
          val w = new java.io.PrintWriter(
            new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"))
          try { it.foreach(r => w.println(s"${r.getLong(0)}|${r.getString(1)}")); w.flush() }
          finally sock.close()
        }
      }
      input.awaitCount(expected)
      val got = input.received
      input.stop()
      got.toDF("line").select(
        split(col("line"), "\\|").getItem(0).cast(LongType).as("p_partkey"),
        split(col("line"), "\\|").getItem(1).as("p_brand"))
    }),

    // aws_s3_stream output (impl/aws/output_s3_stream.go:294-436 +
    // _writer.go:78-391): `repartition(l_returnflag)` gives each
    // partition value to exactly one task, which streams that file's
    // multipart upload FROM THE EXECUTOR — buffered parts flush at the
    // byte gate on message boundaries, close completes the upload.
    // Read-back goes through the distributed S3 input (one task per
    // object); the oracle replays the projection
    "out_aws_s3_stream" -> ((s, dir) => {
      val srv = new graft.conn.S3.MiniS3().start()
      val endpoint = srv.endpoint
      val li = t(s, dir, "lineitem")
        .filter(col("l_linenumber") === 1 && col("l_orderkey") % 2 === 0)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      graft.conn.S3.streamOutput(li, endpoint, "lake",
        partitionExpr = col("l_returnflag"),
        partitionKeyOf = r => r.getString(1),
        pathOf = r => s"li/flag=${r.getString(1)}.psv",
        bodyOf = r => s"${r.getLong(0)}|${r.getDouble(2)}\n".getBytes("UTF-8"),
        maxBufferBytes = 8 * 1024, minPartBytes = 0)
      val back = graft.conn.S3.input(s, endpoint, "lake", "li/")
        .toDF("s3_key", "content", "mtime", "ctype")
      back.select(
          regexp_extract(col("s3_key"), "flag=(.+)\\.psv", 1).as("l_returnflag"),
          explode(split(col("content"), "\n")).as("line"))
        .filter(col("line") =!= "")
        .select(
          split(col("line"), "\\|").getItem(0).cast(LongType).as("l_orderkey"),
          col("l_returnflag"),
          split(col("line"), "\\|").getItem(1).cast(DoubleType).as("l_quantity"))
    }),

    // STREAMING twin of out_aws_s3_stream: readStream over time-split
    // event files (maxFilesPerTrigger=1 → real micro-batches) →
    // foreachBatch → the SAME executor-side multipart streamOutput.
    // Object paths carry the batch id — the per-micro-batch object
    // naming of the reference's streaming object writer — so batches
    // never overwrite each other; read-back unions all batches and the
    // oracle replays the projection. At scale this is exactly the
    // writeStream shape: each trigger's data fans out by partition
    // value, uploads multipart from executors, no driver funnel.
    "stream_out_s3" -> ((s, dir) => {
      val srv = new graft.conn.S3.MiniS3().start()
      val endpoint = srv.endpoint
      val inDir = QueriesCore.timeSplitEventsDir(s, dir)
      val schema = s.read.parquet(inDir.resolve("0_events.parquet").toString).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
        .filter(col("event_type").isNotNull && col("value").isNotNull &&
          col("event_id") % 5 === 0)
        .select(col("event_id"), col("event_type"), col("value"))
      val ckpt = java.nio.file.Files.createTempDirectory("sos_ckpt").toFile
      ckpt.deleteOnExit()
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         batchId: Long) =>
          graft.conn.S3.streamOutput(batch.toDF(), endpoint, "lake",
            partitionExpr = col("event_type"),
            partitionKeyOf = r => r.getString(1),
            pathOf = r => s"ev/batch=$batchId/type=${r.getString(1)}.psv",
            bodyOf = r => s"${r.getLong(0)}|${r.getDouble(2)}\n".getBytes("UTF-8"),
            maxBufferBytes = 8 * 1024, minPartBytes = 0)
        }
        .option("checkpointLocation", ckpt.getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val back = graft.conn.S3.input(s, endpoint, "lake", "ev/")
        .toDF("s3_key", "content", "mtime", "ctype")
      back.select(
          regexp_extract(col("s3_key"), "type=(.+)\\.psv", 1).as("event_type"),
          explode(split(col("content"), "\n")).as("line"))
        .filter(col("line") =!= "")
        .select(
          split(col("line"), "\\|").getItem(0).cast(LongType).as("event_id"),
          col("event_type"),
          split(col("line"), "\\|").getItem(1).cast(DoubleType).as("value"))
    }),

    // STREAMING twin of out_gcp_bq_write: micro-batched readStream →
    // foreachBatch → per-partition AppendRows bidi streams from the
    // executors (the natural streaming warehouse appender — the
    // DefaultStream commits each batch on arrival, so the warehouse
    // view is the union of all triggers)
    "stream_out_bq_write" -> ((s, dir) => {
      import s.implicits._
      val fields = Seq(
        graft.conn.BigQueryWrite.Field("event_id", graft.conn.BigQueryWrite.FieldType.Int64),
        graft.conn.BigQueryWrite.Field("event_type", graft.conn.BigQueryWrite.FieldType.String),
        graft.conn.BigQueryWrite.Field("value", graft.conn.BigQueryWrite.FieldType.Double),
        graft.conn.BigQueryWrite.Field("big", graft.conn.BigQueryWrite.FieldType.Bool))
      val table = "projects/proj/datasets/ds/tables/events_stream"
      val srv = new graft.conn.BigQueryWrite.MiniBqStorage(Map(table -> fields)).start()
      val port = srv.port
      val inDir = QueriesCore.timeSplitEventsDir(s, dir)
      val schema = s.read.parquet(inDir.resolve("0_events.parquet").toString).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
        .filter(col("value").isNotNull && col("event_type").isNotNull &&
          col("event_id") % 5 === 1)
        .select(to_json(struct(col("event_id"), col("event_type"), col("value"),
          (col("value") > 100.0).as("big"))).as("j"))
      val ckpt = java.nio.file.Files.createTempDirectory("sbq_ckpt").toFile
      ckpt.deleteOnExit()
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          batch.toDF().repartition(Tables.fanout(s))
            .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
              if (it.nonEmpty) {
                val c = new graft.conn.BigQueryWrite.Client("127.0.0.1", port)
                try {
                  val schema2 = c.getWriteStream(table)
                  c.appendJsonRows(table, schema2, it.map(_.getString(0)), batchRows = 500)
                  ()
                } finally c.close()
              }
            }
        }
        .option("checkpointLocation", ckpt.getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val out = srv.rows(table).map(r => (r("event_id").asInstanceOf[Long],
        r("event_type").asInstanceOf[String], r("value").asInstanceOf[Double],
        r("big").asInstanceOf[Boolean]))
        .toDF("event_id", "event_type", "value", "big")
      srv.stop()
      out
    }),

    // gcp_bigquery_write_api output (impl/gcp/output_bigquery_storage.
    // go:29-365): Storage Write API over the in-repo gRPC stack —
    // GetWriteStream(_default, FULL) discovers the table schema, JSON
    // messages adapt to proto rows against the derived descriptor, and
    // AppendRows bidi-streams batches FROM EXECUTORS (one managed
    // stream per partition, writer_schema on each stream's first
    // request, per-batch AppendResult awaited). DefaultStream commits
    // immediately; the oracle replays the projection
    "out_gcp_bq_write" -> ((s, dir) => {
      import s.implicits._
      val fields = Seq(
        graft.conn.BigQueryWrite.Field("event_id", graft.conn.BigQueryWrite.FieldType.Int64),
        graft.conn.BigQueryWrite.Field("event_type", graft.conn.BigQueryWrite.FieldType.String),
        graft.conn.BigQueryWrite.Field("value", graft.conn.BigQueryWrite.FieldType.Double),
        graft.conn.BigQueryWrite.Field("big", graft.conn.BigQueryWrite.FieldType.Bool))
      val table = "projects/proj/datasets/ds/tables/events"
      val srv = new graft.conn.BigQueryWrite.MiniBqStorage(Map(table -> fields)).start()
      val port = srv.port
      val rows = t(s, dir, "events")
        .filter(col("value").isNotNull && col("event_type").isNotNull && col("event_id") % 2 === 1)
        .select(to_json(struct(col("event_id"), col("event_type"), col("value"),
          (col("value") > 100.0).as("big"))).as("j"))
        .repartition(Tables.fanout(s)) // one-file input → one AppendRows stream per task
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.BigQueryWrite.Client("127.0.0.1", port)
          try {
            val schema = c.getWriteStream(table)
            c.appendJsonRows(table, schema, it.map(_.getString(0)), batchRows = 500)
            ()
          } finally c.close()
        }
      }
      val out = srv.rows(table).map(r => (r("event_id").asInstanceOf[Long],
        r("event_type").asInstanceOf[String], r("value").asInstanceOf[Double],
        r("big").asInstanceOf[Boolean]))
        .toDF("event_id", "event_type", "value", "big")
      srv.stop()
      out
    }),

    // gcp_bigtable output (impl/gcp/output_bigtable.go:26-287): each
    // message → one SetCell mutation per column, entries batched into
    // bulk MutateRows gRPC calls FROM EXECUTORS (one client per
    // partition — the ApplyBulk shape that scales with the cluster, no
    // driver funnel), PingAndWarm on connect, ms-truncated timestamps.
    // Read-back is the fixture's row-major cell dump; oracle rebuilds
    // every (row_key, family, qualifier, ts, value) tuple in SQL
    "out_gcp_bigtable" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Bigtable.MiniBigtable().start()
      val port = srv.port
      val table = "projects/proj/instances/inst/tables/orders"
      val rows = t(s, dir, "orders").filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
        .repartition(Tables.fanout(s)) // one-file input → distribute the mutation batches
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Bigtable.Client("127.0.0.1", port)
          try {
            c.pingAndWarm("proj", "inst")
            it.grouped(500).foreach { chunk =>
              val entries = chunk.map { r =>
                val key = f"order#${r.getLong(0)}%012d"
                val tsMicros = (1700000000000L + r.getLong(0)) * 1000L
                graft.conn.Bigtable.Entry(key, Seq(
                  ("cf1", "priority", tsMicros, r.getString(2).getBytes("UTF-8")),
                  ("cf1", "status", tsMicros, r.getString(1).getBytes("UTF-8"))))
              }
              val failed = c.mutateRows(table, entries.toSeq)
              require(failed.isEmpty, s"bigtable: ${failed.size} mutations failed")
            }
          } finally c.close()
        }
      }
      val out = srv.cells(table).map(cl => (cl.rowKey, cl.family, cl.qualifier,
        cl.timestampMicros, new String(cl.value, "UTF-8")))
        .toDF("row_key", "family", "qualifier", "ts_micros", "value")
      srv.stop()
      out
    }),

    "out_elasticsearch" -> ((s, dir) => {
      val srv = new graft.conn.Elastic.MiniElastic().start()
      val endpoint = srv.endpoint
      val ev = t(s, dir, "events").filter(col("event_type").isNotNull && col("event_id") % 2 === 0)
        .select(col("event_id").cast(LongType), col("event_type"))
        .repartition(Tables.fanout(s)) // one-file input: concurrent bulk writers, not one
      // pass 1: index the even-id events (per-partition bulk batches of 500)
      ev.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Elastic.Client(endpoint)
          try it.grouped(500).foreach { chunk =>
            val r = c.bulk(chunk.map(row => graft.conn.Elastic.IndexOp("events",
              row.getLong(0).toString, scala.collection.immutable.VectorMap[String, Any](
                "event_id" -> row.getLong(0), "event_type" -> row.getString(1)))))
            require(!r.errors, "bulk index reported item errors")
          } finally c.close()
        }
      }
      // pass 2: flag every 10th doc via update, drop the %4==2 half via delete
      ev.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Elastic.Client(endpoint)
          try it.grouped(500).foreach { chunk =>
            val ops = chunk.flatMap { row =>
              val id = row.getLong(0)
              val upd = if (id % 10 == 0)
                Seq(graft.conn.Elastic.UpdateOp("events", id.toString,
                  scala.collection.immutable.VectorMap[String, Any]("flagged" -> true)))
              else Nil
              val del = if (id % 4 == 2)
                Seq(graft.conn.Elastic.DeleteOp("events", id.toString)) else Nil
              upd ++ del
            }
            if (ops.nonEmpty) c.bulk(ops)
          } finally c.close()
        }
      }
      // read-back through the DISTRIBUTED sliced input: one Spark task
      // per slice, bounded search_after pages — no driver-side
      // index-sized search call (the public sliced-scroll shape)
      val out = graft.conn.Elastic.input(s, endpoint, "events", slices = 8, pageSize = 500)
        .select(
          get_json_object(col("_source"), "$.event_id").cast(LongType).as("event_id"),
          get_json_object(col("_source"), "$.event_type").as("event_type"),
          coalesce(get_json_object(col("_source"), "$.flagged").cast("boolean"), lit(false)).as("flagged"))
        .localCheckpoint() // materialize before the fixture stops
      srv.stop()
      out
    }),

    // cassandra output → input roundtrip (impl/cassandra/output.go — a
    // parameterized INSERT executed per message with positional binds;
    // input.go — a SELECT cursor) over the from-scratch CQL native
    // protocol v4 (conn/Cassandra.scala: STARTUP handshake,
    // PREPARE/EXECUTE frames, big-endian typed values, Rows metadata
    // decode; the reference wraps gocql). One prepared statement per
    // Spark partition streams typed binds; the read-back SELECT decodes
    // rows via the response column metadata — bigint/varchar/double all
    // cross the wire both ways
    "out_cassandra" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Cassandra.MiniCassandra().start()
      val addr = srv.address
      val setup = new graft.conn.Cassandra.Client(addr)
      setup.execute("CREATE TABLE graft.custs (id bigint, name varchar, bal double, bucket bigint, PRIMARY KEY(id))")
      setup.close()
      val rows = t(s, dir, "customer")
        .select(col("c_custkey").cast(LongType), col("c_name"),
          col("c_acctbal").cast(DoubleType))
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Cassandra.Client(addr)
          try {
            val p = c.prepare("INSERT INTO graft.custs (id, name, bal, bucket) VALUES (?, ?, ?, ?)")
            it.foreach(r => c.executePrepared(p,
              Seq(r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(0) % 3)))
          } finally c.close()
        }
      }
      val got = {
        val c = new graft.conn.Cassandra.Client(addr)
        try c.query("SELECT id, name, bal FROM graft.custs WHERE bucket = ?", bind = Some(1L))._2
        finally { c.close(); srv.stop() }
      }
      s.createDataset(got.map(r => (r(0).asInstanceOf[Long],
        r(1).asInstanceOf[String], r(2).asInstanceOf[Double])))
        .toDF("c_custkey", "c_name", "c_acctbal")
    }),

    // nats_jetstream output → input roundtrip (impl/nats/
    // output_jetstream.go acked publishes; input_jetstream.go durable
    // consume + explicit ack) over the from-scratch subject-space API
    // layered on the core protocol (conn/JetStream.scala — the same
    // layering the real nats-server uses: $JS.API.* request/reply,
    // $JS.ACK.* ack subjects, ack_wait redelivery). Executors publish
    // with PubAck confirmation per row; the driver-side durable pull
    // consumer fetches batches and ACKS each message — the reference
    // input's at-least-once contract — with the delivery count crossing
    "src_nats_jetstream" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Nats.MiniNats().start()
      val js = new graft.conn.JetStream.MiniJetStream(srv.url).start()
      val url = srv.url
      val setup = new graft.conn.JetStream.JsClient(url)
      setup.addStream("ORDERS", Seq("orders.*"))
      setup.addDurable("ORDERS", "graft")
      val rows = t(s, dir, "orders").filter(col("o_orderkey") % 8 === 0)
        .select(concat_ws("|", col("o_orderkey"), col("o_totalprice")).as("v"))
      val expected = rows.count()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.JetStream.JsClient(url)
          try it.foreach { r =>
            val ack = c.publish("orders.new", r.getString(0).getBytes("UTF-8"))
            require(ack.stream == "ORDERS", "publish not acked by the stream")
          } finally c.close()
        }
      }
      val got = Vector.newBuilder[(String, Long)]
      var n = 0L
      while (n < expected) {
        val batch = setup.fetch("ORDERS", "graft", batch = 100, maxWaitMs = 3000)
        require(batch.nonEmpty, s"jetstream drained early at $n/$expected")
        batch.foreach { m =>
          got += ((new String(m.payload, "UTF-8"), m.delivery))
          setup.ack(m)
        }
        n += batch.size
      }
      setup.close(); js.stop(); srv.stop()
      s.createDataset(got.result()).toDF("line", "delivery").select(
        split(col("line"), "\\|").getItem(0).cast(LongType).as("o_orderkey"),
        split(col("line"), "\\|").getItem(1).cast(DoubleType).as("o_totalprice"),
        col("delivery"))
    }),

    // kubernetes_watch input (impl/kubernetes/input_watch.go — the
    // reference wraps client-go; conn/Kube.scala implements the public
    // API conventions: Bearer-authed list with a resourceVersion
    // bookmark, and the CHUNKED watch stream replaying
    // {"type":…,"object":…} lines after a resourceVersion, then
    // tailing). Executors drive pod create/update/delete through
    // per-partition clients; the driver's watch replays the full event
    // history — ADDED/MODIFIED/DELETED with the object state each
    // event carried — and the oracle rebuilds all three arms
    "src_kubernetes_watch" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Kube.MiniKubeApiserver("graft-sa-token").start()
      val endpoint = srv.endpoint
      val rows = t(s, dir, "part").filter(col("p_partkey") % 7 === 0)
        .select(col("p_partkey").cast(LongType))
      val n = rows.count()
      val nUpd = rows.filter(col("p_partkey") % 3 === 0).count()
      val nDel = rows.filter(col("p_partkey") % 5 === 0).count()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Kube.Client(endpoint, "graft-sa-token")
          try it.foreach { r =>
            val key = r.getLong(0)
            val name = s"part-$key"
            c.create("pods", name, Map("app" -> "graft"),
              scala.collection.immutable.VectorMap[String, Any]("image" -> "v1", "key" -> key))
            if (key % 3 == 0)
              c.update("pods", name, Map("app" -> "graft"),
                scala.collection.immutable.VectorMap[String, Any]("image" -> "v2", "key" -> key))
            if (key % 5 == 0) c.delete("pods", name)
          } finally c.close()
        }
      }
      val expected = n + nUpd + nDel
      val w = new graft.conn.Kube.Watch(endpoint, "graft-sa-token", "default", "pods",
        resourceVersion = 0L, labelSelector = Map("app" -> "graft"))
      val got = Vector.newBuilder[(Long, String, String)]
      (1L to expected).foreach { i =>
        val ev = w.next(5000).getOrElse(sys.error(s"watch drained early at $i/$expected"))
        val spec = graft.conn.Aws.Json.asObj(
          graft.conn.Aws.Json.asObj(graft.conn.Aws.Json.parse(ev.objectJson))("spec"))
        got += ((ev.name.stripPrefix("part-").toLong, ev.eventType,
          graft.conn.Aws.Json.str(spec, "image")))
      }
      w.close(); srv.stop()
      s.createDataset(got.result()).toDF("p_partkey", "event_type", "image")
    }),

    // nats_kv cache backend (impl/nats/cache_kv.go: Get/Put/Create/
    // Delete on a KV bucket — the reference wraps nats.go KeyValue) over
    // the from-scratch stack: bucket = stream KV_B on $KV.B.>, revisions
    // = stream sequences, tombstones = KV-Operation headers riding
    // HPUB/HMSG (conn/NatsKv.scala). Executors seed per partition, then
    // per-partition clients resolve lineitem lookups through the bucket
    "cache_nats_kv" -> ((s, dir) => {
      import s.implicits._
      val nats = new graft.conn.Nats.MiniNats().start()
      val js = new graft.conn.JetStream.MiniJetStream(nats.url).start()
      val url = nats.url
      val reg = t(s, dir, "part").filter(col("p_partkey") % 2 === 1)
        .select(col("p_partkey").cast(LongType), col("p_name"))
      graft.operators.External.perPartitionLookup[graft.conn.NatsKv.Cache, Long](reg)(
        () => new graft.conn.NatsKv.Cache(url, "parts")) { (c, row) =>
        c.set(s"p_${row.getLong(0)}", row.getString(1).getBytes("UTF-8"))
        row.getLong(0)
      }(_.close()).count() // seed before lookups
      val li = t(s, dir, "lineitem").filter(col("l_linenumber") === 3 && col("l_partkey") % 2 === 1)
        .select(col("l_orderkey").cast(LongType), col("l_partkey").cast(LongType))
      val out = graft.operators.External.perPartitionLookup[graft.conn.NatsKv.Cache, (Long, String)](li)(
        () => new graft.conn.NatsKv.Cache(url, "parts")) { (c, row) =>
        (row.getLong(0), c.get(s"p_${row.getLong(1)}")
          .map(new String(_, "UTF-8")).orNull)
      }(_.close()).toDF("l_orderkey", "part_name").localCheckpoint()
      js.stop(); nats.stop()
      out
    }),

    // nats_kv input (impl/nats/input_kv.go: watch a bucket for updates —
    // latest-per-key snapshot, then the live tail, delete markers as
    // messages). Executors Put part rows (a deterministic subset written
    // TWICE so superseded revisions exist, another subset tombstoned);
    // the driver's watch must see exactly the newest entry per key —
    // never a superseded value — and the tombstones ride through as DEL
    "src_nats_kv" -> ((s, dir) => {
      import s.implicits._
      val nats = new graft.conn.Nats.MiniNats().start()
      val js = new graft.conn.JetStream.MiniJetStream(nats.url).start()
      val url = nats.url
      new graft.conn.NatsKv.KvClient(url, "parts").createBucket().close()
      val rows = t(s, dir, "part").filter(col("p_partkey") % 5 === 0)
        .select(col("p_partkey").cast(LongType),
          concat_ws("|", col("p_name"), col("p_retailprice")).as("v"))
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val kv = new graft.conn.NatsKv.KvClient(url, "parts")
          try it.foreach { r =>
            val key = s"part.${r.getLong(0)}"
            kv.put(key, s"v1|${r.getString(1)}".getBytes("UTF-8"))
            // a second revision supersedes the first for %3==0 keys —
            // the watch must deliver only the newest
            if (r.getLong(0) % 3 == 0)
              kv.put(key, s"v2|${r.getString(1)}".getBytes("UTF-8"))
            if (r.getLong(0) % 4 == 2) kv.delete(key)
          } finally kv.close()
        }
      }
      val watcher = new graft.conn.NatsKv.KvClient(url, "parts")
      val w = watcher.watch("part.>")
      val got = Vector.newBuilder[(Long, String, String, Double, String)]
      var e = w.next(2000)
      while (e.isDefined) {
        val entry = e.get
        if (entry.operation == "PUT") {
          val parts = new String(entry.value, "UTF-8").split('|')
          got += ((entry.key.stripPrefix("part.").toLong, parts(0), parts(1),
            parts(2).toDouble, entry.operation))
        } else {
          got += ((entry.key.stripPrefix("part.").toLong, null, null, 0.0, entry.operation))
        }
        e = w.next(500)
      }
      w.close(); watcher.close(); js.stop(); nats.stop()
      s.createDataset(got.result())
        .toDF("p_partkey", "ver", "p_name", "p_retailprice", "operation")
    }),

    // nats object store (impl/nats/{input,output,processor}_os.go:
    // chunked blobs over the stream substrate — data under
    // $O.B.C.<nuid> split at chunk_size, a rolled-up info record under
    // $O.B.M.<name>). Executors write one multi-chunk object per order
    // priority (4 KB chunks force real chunking); the driver lists the
    // bucket and reads every object back through filtered consumers,
    // re-splitting lines into rows
    "src_nats_os" -> ((s, dir) => {
      import s.implicits._
      val nats = new graft.conn.Nats.MiniNats().start()
      val js = new graft.conn.JetStream.MiniJetStream(nats.url).start()
      val url = nats.url
      new graft.conn.NatsObj.ObjClient(url, "ord").createBucket().close()
      val rows = t(s, dir, "orders").filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderpriority").as("prio"),
          concat_ws("|", col("o_orderkey"), col("o_totalprice")).as("line"))
        .repartition(Tables.connFanout(s, 8), col("prio")) // co-locate each priority's lines
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          // one object per (priority, partition) — names stay unique even
          // if the hash lands two priorities in one partition
          val byPrio = scala.collection.mutable.Map[String, StringBuilder]()
          var pid = -1
          it.foreach { r =>
            if (pid < 0) pid = org.apache.spark.TaskContext.getPartitionId()
            byPrio.getOrElseUpdate(r.getString(0), new StringBuilder)
              .append(r.getString(1)).append('\n')
          }
          val os = new graft.conn.NatsObj.ObjClient(url, "ord", chunkSize = 4096)
          try byPrio.foreach { case (prio, sb) =>
            os.put(s"prio-$prio-p$pid.txt", sb.toString.getBytes("UTF-8"))
          } finally os.close()
        }
      }
      val reader = new graft.conn.NatsObj.ObjClient(url, "ord")
      val names = reader.list()
      val lines = Vector.newBuilder[String]
      names.foreach { n =>
        new String(reader.get(n).get, "UTF-8").split('\n').filter(_.nonEmpty)
          .foreach(lines += _)
      }
      reader.close(); js.stop(); nats.stop()
      s.createDataset(lines.result()).toDF("line").select(
        split(col("line"), "\\|").getItem(0).cast(LongType).as("o_orderkey"),
        split(col("line"), "\\|").getItem(1).cast(DoubleType).as("o_totalprice"))
    }),

    // pulsar output → input roundtrip (impl/pulsar/output.go acked
    // produce with partition keys; input.go flow-controlled consume +
    // ack) over the from-scratch binary protocol (conn/Pulsar.scala:
    // protobuf BaseCommand frames via the in-repo proto compiler,
    // CRC32C payload trailers; the reference wraps pulsar-client-go).
    // One producer per Spark partition blocks on each SEND_RECEIPT. The
    // drain is N shared-subscription consumers, ONE PER EXECUTOR TASK —
    // pulsar's Shared subscription type is explicitly built for this
    // fan-out (the broker round-robins the cursor across consumers with
    // permits; the reference input is one consumer, but its subscription
    // mode is the multi-consumer one). Each task spools its share to a
    // file and the gate returns the distributed scan over the spool
    // (PLANS.md spool-then-scan discipline) — no driver funnel on either
    // side, and re-reading the result never re-consumes the topic. The
    // partition key rides MessageMetadata and crosses the gate
    "src_pulsar" -> ((s, dir) => {
      val srv = new graft.conn.Pulsar.MiniPulsar().start()
      val addr = srv.address
      val rows = t(s, dir, "events").filter(col("event_id") % 7 === 0 && col("event_type").isNotNull)
        .select(col("event_id").cast(LongType), col("event_type"))
        .repartition(Tables.fanout(s)) // one-file input: one producer per task
      val expected = rows.count()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val p = new graft.conn.Pulsar.Producer(addr, "events")
          try it.grouped(500).foreach { chunk =>
            // pipelined window: 500 in-flight sends, one receipt drain
            chunk.foreach(r => p.sendAsync(r.getString(1).getBytes("UTF-8"),
              key = r.getLong(0).toString))
            require(p.flush() > 0, "sends not acked with entry ids")
          } finally p.close()
        }
      }
      // the produce action completed → terminate the topic (admin-API
      // analogue); each consumer then drains until the broker's
      // REACHED_END_OF_TOPIC — the protocol's own deterministic
      // drain-complete signal, no timeout heuristics anywhere — and the
      // driver re-checks the drained total against the produced count
      srv.terminate("events")
      val spool = java.nio.file.Files.createTempDirectory("pulsar-spool").toString
      val nCons = Tables.connFanout(s, 8)
      // NOTE: this drain assumes NO task retries (local fixture: the
      // broker advances the shared-subscription cursor on delivery, acks
      // are no-ops) — a task that dies mid-drain loses its messages
      // permanently and the total==expected require below fails loudly.
      // Against a real broker the drain must ack-on-spool-flush and rely
      // on redelivery of unacked messages instead.
      s.sparkContext.parallelize(0 until nCons, nCons).foreachPartition { _ =>
        val cons = new graft.conn.Pulsar.Consumer(addr, "events", "graft-sub")
        val sb = new StringBuilder
        val b64 = java.util.Base64.getEncoder
        try {
          // sliding permit window: grant 500 up front, top up every 250
          // consumed so the shared pool never stalls waiting on credit
          cons.flow(500)
          var sinceFlow = 0
          var done = false
          while (!done) cons.receive(10000) match {
            case Some(m) =>
              // key is a numeric string; payload is base64'd so spool
              // lines survive ANY payload bytes (tabs/quotes/newlines/
              // empty) — a raw-TSV spool read back through the CSV
              // parser would silently corrupt those
              sb.append(m.partitionKey).append('\t')
                .append(b64.encodeToString(m.payload)).append('\n')
              cons.ack(m.entryId)
              sinceFlow += 1
              if (sinceFlow >= 250) { cons.flow(250); sinceFlow = 0 }
            case None =>
              // receive returns None for BOTH the protocol's end signal
              // and a socket timeout; only the former ends the drain —
              // a stall must fail loudly, not truncate silently
              if (cons.endOfTopic) done = true
              else sys.error("pulsar drain: receive timed out before REACHED_END_OF_TOPIC")
          }
        } finally cons.close()
        if (sb.nonEmpty) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          java.nio.file.Files.write(
            java.nio.file.Paths.get(spool, f"part-$pid%03d.tsv"),
            sb.toString.getBytes("UTF-8"))
        }
      }
      srv.stop()
      val out = s.read.text(spool).select(
        substring_index(col("value"), "\t", 1).cast(LongType).as("event_id"),
        decode(unbase64(substring_index(col("value"), "\t", -1)), "UTF-8").as("event_type"))
      val total = out.count()
      require(total == expected, s"pulsar drain lost messages: $total/$expected")
      out
    }),

    // statsd metrics target (impl/statsd/metrics.go — the `metric`
    // processor's wire backend) over the dogstatsd datagram format
    // (conn/Observability.scala): each Spark partition pre-aggregates
    // and flushes newline-batched counters — the client-side flush real
    // statsd clients do, which also makes loopback UDP loss-proof at
    // gate volume — and the collector's accumulated counters cross the
    // gate against a GROUP BY oracle
    "metric_statsd" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Observability.Statsd.MiniStatsd().start()
      val port = srv.port
      val ev = t(s, dir, "events").filter(col("event_type").isNotNull)
        .select(col("event_type"))
      ev.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          // pre-aggregate per partition, then one batched flush
          val counts = scala.collection.mutable.Map[String, Long]()
          it.foreach(r => counts(r.getString(0)) = counts.getOrElse(r.getString(0), 0L) + 1)
          val c = new graft.conn.Observability.Statsd.Client("127.0.0.1", port)
          try counts.foreach { case (k, n) => c.counter(s"events.$k", n.toDouble) }
          finally c.close() // close flushes
        }
      }
      val deadline = System.currentTimeMillis() + 5000
      def total = srv.counters.values.sum.toLong
      val expected = ev.count()
      while (total < expected && System.currentTimeMillis() < deadline) Thread.sleep(50)
      val counters = srv.counters.toSeq.map { case (k, v) =>
        (k.stripPrefix("events."), v.toLong) }
      srv.stop()
      s.createDataset(counters).toDF("event_type", "cnt")
    }),

    // InfluxDB/QuestDB line-protocol output (impl/influxdb/metrics.go,
    // impl/questdb/output.go): per-partition TCP ILP writers stream
    // typed points (integer/double/tag escaping per the public spec);
    // the collector's parsed points cross the gate
    "out_influx_ilp" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Observability.Ilp.MiniIlp().start()
      val port = srv.port
      val rows = t(s, dir, "lineitem").filter(col("l_linenumber") === 5)
        .select(col("l_orderkey").cast(LongType), col("l_quantity").cast(DoubleType),
          col("l_returnflag"))
      val expected = rows.count()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Observability.Ilp.Client("127.0.0.1", port)
          try it.foreach(r => c.write(graft.conn.Observability.Ilp.Point("li",
            Map("rf" -> r.getString(2)),
            Map("okey" -> r.getLong(0), "qty" -> r.getDouble(1)),
            r.getLong(0) * 1000)))
          finally c.close()
        }
      }
      val deadline = System.currentTimeMillis() + 5000
      while (srv.points.size < expected && System.currentTimeMillis() < deadline) Thread.sleep(50)
      val pts = srv.points.map(p => (p.fields("okey").asInstanceOf[Long],
        p.fields("qty").asInstanceOf[Double], p.tags("rf")))
      srv.stop()
      s.createDataset(pts).toDF("l_orderkey", "l_quantity", "l_returnflag")
    }),

    // splunk HEC output (impl/splunk/output.go): per-partition batched
    // POSTs with the Splunk token auth scheme; event payload + envelope
    // metadata cross the gate
    "out_splunk" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Observability.Splunk.MiniHec("graft-token").start()
      val endpoint = srv.endpoint
      val ev = t(s, dir, "events").filter(col("event_id") % 9 === 0 && col("event_type").isNotNull)
        .select(col("event_id").cast(LongType), col("event_type"))
      val expected = ev.count()
      ev.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Observability.Splunk.Client(endpoint, "graft-token")
          try it.grouped(200).foreach { chunk =>
            c.send(chunk.map(r => graft.conn.Aws.Json.obj(
              "event" -> graft.conn.Aws.Json.obj(
                "event_id" -> r.getLong(0), "event_type" -> r.getString(1)),
              "sourcetype" -> "graft:events", "index" -> "main",
              "time" -> (r.getLong(0).toDouble / 1000.0))))
          } finally c.close()
        }
      }
      require(srv.events.size == expected, s"HEC landed ${srv.events.size}/$expected")
      val got = srv.events.map { e =>
        val m = e.event.asInstanceOf[scala.collection.immutable.VectorMap[String, Any]]
        (m("event_id").asInstanceOf[Long], m("event_type").asInstanceOf[String], e.sourcetype)
      }
      srv.stop()
      s.createDataset(got).toDF("event_id", "event_type", "sourcetype")
    }),

    // loki push output (the reference's loki output surface): streams
    // grouped by label set, [ns-timestamp, line] value pairs; the
    // label + line content cross the gate
    "out_loki" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Observability.Loki.MiniLoki().start()
      val endpoint = srv.endpoint
      val rows = t(s, dir, "orders").filter(col("o_orderkey") % 12 === 0)
        .select(col("o_orderkey").cast(LongType), col("o_totalprice").cast(DoubleType),
          col("o_orderpriority"))
      val expected = rows.count()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Observability.Loki.Client(endpoint)
          try it.grouped(500).foreach { chunk =>
            c.push(chunk.map(r => graft.conn.Observability.Loki.Entry(
              Map("app" -> "graft", "priority" -> r.getString(2)),
              r.getLong(0) * 1000000L,
              s"${r.getLong(0)}|${r.getDouble(1)}")))
          } finally c.close()
        }
      }
      require(srv.entries.size == expected, s"loki landed ${srv.entries.size}/$expected")
      val got = srv.entries.map(e => (e.line.split('|')(0).toLong,
        e.line.split('|')(1).toDouble, e.labels("priority")))
      srv.stop()
      s.createDataset(got).toDF("o_orderkey", "o_totalprice", "priority")
    }),

    // prometheus metrics target (impl/prometheus/metrics.go — the PULL
    // side of the metrics family beside statsd's push): partition-level
    // counts merge into a labeled counter registry, the /metrics
    // endpoint serves the text exposition format, and the gate SCRAPES
    // it over HTTP and parses the families back — registry semantics,
    // renderer and scraper all crossing one oracle
    "metric_prometheus" -> ((s, dir) => {
      import s.implicits._
      val reg = new graft.conn.Observability.Prometheus.Registry
      val ep = new graft.conn.Observability.Prometheus.Endpoint(reg).start()
      // partition-level pre-aggregation -> driver-side registry merge
      // (the same two-level shape as the statsd gate; a real deployment
      // scrapes each executor's own endpoint)
      t(s, dir, "orders").groupBy(col("o_orderpriority")).count()
        .collect().foreach(r => reg.incCounter("orders_total", r.getLong(1).toDouble,
          Map("priority" -> r.getString(0))))
      val samples = graft.conn.Observability.Prometheus.scrape(ep.url)
        .filter(_.name == "orders_total")
      ep.stop()
      s.createDataset(samples.map(sm => (sm.labels("priority"), sm.value.toLong)))
        .toDF("priority", "cnt")
    }),

    // aws_cloudwatch metrics (impl/aws/metrics_cloudwatch.go:19-527):
    // the accumulate-then-flush model — counters sum scalars, the
    // flush drains the datum map and PutMetricData's it in ≤20-datum
    // chunks over the Query protocol (30 datums here = 2 calls).
    // Read-back decodes the fixture's received members; the oracle
    // replays both counter families
    "metric_cloudwatch" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Cloudwatch.MiniCloudWatch().start()
      val stats = new graft.conn.Cloudwatch.Stats("graft/pipeline")
      t(s, dir, "orders").groupBy(col("o_orderpriority")).count()
        .collect().foreach(r =>
          stats.incr("orders_total", r.getLong(1), Seq("priority" -> r.getString(0))))
      t(s, dir, "customer").join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).count()
        .collect().foreach(r =>
          stats.incr("cust_total", r.getLong(1), Seq("nation" -> r.getString(0))))
      val c = new graft.conn.Cloudwatch.Client(srv.endpoint)
      stats.flush(c)
      c.close()
      val rows = srv.datums("graft/pipeline").map { d =>
        (d.metricName, d.dimensions.headOption.map(_._2).getOrElse(""),
          d.value.getOrElse(0.0).toLong)
      }
      srv.stop()
      s.createDataset(rows).toDF("metric", "dim", "cnt")
    }),

    // redis rate limit (impl/redis/rate_limit.go:46-119): the
    // reference's INCR/PEXPIRE/PTTL token-bucket Lua script runs
    // VERBATIM on the fixture's from-scratch Lua interpreter; every
    // Spark task shares ONE bucket (the cross-instance semantics that
    // distinguish it from the local rate limit), blocking on the
    // script's PTTL backoff when the window saturates. Identity
    // payload proves nothing is dropped or duplicated under throttling
    "rate_limit_redis" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Resp.MiniRedis().start()
      val url = srv.url
      val rows = t(s, dir, "supplier")
        .select(col("s_suppkey").cast(LongType), col("s_name")).repartition(Tables.connFanout(s, 8))
      graft.operators.External.perPartitionLookup[graft.conn.Redis.RateLimit, (Long, String)](rows)(
        () => new graft.conn.Redis.RateLimit(url, "gate-rl", count = 500, intervalMs = 100)) {
        (rl, r) => rl.waitFor(); (r.getLong(0), r.getString(1))
      }(_.close()).toDF("s_suppkey", "s_name")
    }),

    // json_api metrics exporter (impl/io/metrics_json_api.go:14-72):
    // the registry served as one flat JSON object on /stats — counters
    // as numbers (label-suffixed keys), timers as percentile objects.
    // Same two-level shape as the prometheus gate: partition-level
    // pre-aggregation, driver-side registry, HTTP read-back
    "metric_json_api" -> ((s, dir) => {
      import s.implicits._
      val reg = new graft.conn.Observability.Prometheus.Registry
      val ep = new graft.conn.Observability.Prometheus.JsonApi.Endpoint(reg).start()
      t(s, dir, "events").filter(col("event_type").isNotNull)
        .groupBy(col("event_type")).count()
        .collect().foreach(r => reg.incCounter("events_total", r.getLong(1).toDouble,
          Map("type" -> r.getString(0))))
      val http = new graft.conn.Aws.Http
      val body = http.request("GET", ep.url, Nil, Array.emptyByteArray).bodyStr
      http.close(); ep.stop()
      val parsed = graft.conn.Aws.Json.asObj(graft.conn.Aws.Json.parse(body))
      val rows = parsed.toSeq.collect {
        case (k, v) if k.startsWith("events_total{") =>
          val tpe = k.stripPrefix("events_total{type=\"").stripSuffix("\"}")
          val n = v match { case d: Double => d.toLong; case l: Long => l; case _ => 0L }
          (tpe, n)
      }
      s.createDataset(rows.toVector).toDF("event_type", "cnt")
    }),

    // hdfs output → input roundtrip (impl/hdfs/output.go per-message
    // file writes at interpolated paths; input.go directory walk +
    // download) over the from-scratch WebHDFS REST protocol
    // (conn/Hdfs.scala — incl. the namenode→datanode two-step 307
    // redirect on every read and write; the reference wraps the native
    // RPC client library). Writers run one client per Spark partition;
    // LISTSTATUS runs once driver-side and OPENs are distributed — the
    // object-store listing shape on the HDFS surface
    "src_hdfs" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Hdfs.MiniHdfs().start()
      val endpoint = srv.endpoint
      val rows = t(s, dir, "nation")
        .select(col("n_nationkey").cast(LongType),
          concat_ws("|", col("n_nationkey"), col("n_name"), col("n_regionkey")).as("v"))
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Hdfs.Client(endpoint)
          try it.foreach(r => c.create(f"/data/n-${r.getLong(0)}%05d.txt",
            r.getString(1).getBytes("UTF-8")))
          finally c.close()
        }
      }
      val names = {
        val c = new graft.conn.Hdfs.Client(endpoint)
        try c.listStatus("/data").map(_.pathSuffix) finally c.close()
      }
      s.createDataset(names).repartition(
          math.min(Tables.connFanout(s, 8), math.max(1, names.size)))
        .mapPartitions { ks =>
          val c = new graft.conn.Hdfs.Client(endpoint)
          val out = ks.map(k => new String(c.open(s"/data/$k").get, "UTF-8"))
          new Iterator[String] {
            def hasNext: Boolean = { val h = out.hasNext; if (!h) c.close(); h }
            def next(): String = out.next()
          }
        }
        .toDF("line").select(
          split(col("line"), "\\|").getItem(0).cast(LongType).as("n_nationkey"),
          split(col("line"), "\\|").getItem(1).as("n_name"),
          split(col("line"), "\\|").getItem(2).cast(LongType).as("n_regionkey"))
    }),

    // zeromq push/pull (impl/zeromq/native_{input,output}_zmq4n.go) over
    // the from-scratch ZMTP 3.0 protocol (conn/Zmq.scala: 64-byte
    // greeting, READY metadata handshake with socket-type compatibility,
    // multipart frames). ZeroMQ is BROKERLESS — the driver BINDS the
    // PULL socket and every Spark partition PUSH-connects to it, the
    // exact fan-in topology the reference input binds for; two-part
    // [key, value] messages cross the gate
    "src_zmq" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Zmq.PullServer().start()
      val port = srv.port
      val rows = t(s, dir, "customer").filter(col("c_custkey") % 11 === 0)
        .select(col("c_custkey").cast(LongType), col("c_acctbal").cast(DoubleType))
      val expected = rows.count()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Zmq.PushClient("127.0.0.1", port)
          try it.foreach(r => c.send(
            r.getLong(0).toString.getBytes("UTF-8"),
            r.getDouble(1).toString.getBytes("UTF-8")))
          finally c.close()
        }
      }
      val got = Vector.newBuilder[(Long, Double)]
      var n = 0L
      while (n < expected) {
        val m = srv.receive(5000).getOrElse(sys.error(s"zmq drained early at $n/$expected"))
        got += ((new String(m(0), "UTF-8").toLong, new String(m(1), "UTF-8").toDouble))
        n += 1
      }
      srv.stop()
      s.createDataset(got.result()).toDF("c_custkey", "c_acctbal")
    }),

    // nanomsg push/pull (impl/nanomsg/input.go PULL bind, output.go PUSH
    // connect) over the from-scratch SP TCP mapping (conn/Nanomsg.scala:
    // validated connection header, 8-byte length-prefixed messages) —
    // the same brokerless driver-binds/executors-connect fan-in
    "src_nanomsg" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Nanomsg.PullServer().start()
      val port = srv.port
      val rows = t(s, dir, "events").filter(col("event_id") % 11 === 0 && col("value").isNotNull)
        .select(concat_ws("|", col("event_id"), col("value")).as("v"))
      val expected = rows.count()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Nanomsg.PushClient("127.0.0.1", port)
          try it.foreach(r => c.send(r.getString(0).getBytes("UTF-8")))
          finally c.close()
        }
      }
      val got = Vector.newBuilder[String]
      var n = 0L
      while (n < expected) {
        got += new String(srv.receive(5000)
          .getOrElse(sys.error(s"nanomsg drained early at $n/$expected")), "UTF-8")
        n += 1
      }
      srv.stop()
      s.createDataset(got.result()).toDF("line").select(
        split(col("line"), "\\|").getItem(0).cast(LongType).as("event_id"),
        split(col("line"), "\\|").getItem(1).cast(DoubleType).as("value"))
    }),

    // `couchbase` cache backend (impl/couchbase/cache.go; the processor's
    // get/insert/upsert/replace/remove op set is the same client) over
    // the from-scratch KV binary protocol with SASL PLAIN + bucket
    // select gating every op (conn/Couchbase.scala; the reference wraps
    // gocb): the external-backend wiring gate on the sixth cache wire
    // protocol, through AUTHENTICATED per-partition sessions
    "cache_couchbase" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Couchbase.MiniCouchbase("graft", "pw-123", "data").start()
      val addr = srv.address
      val reg = t(s, dir, "part").filter(col("p_partkey") % 2 === 1)
        .select(col("p_partkey").cast(LongType), col("p_name"))
      graft.operators.External.perPartitionLookup[graft.conn.Couchbase.Cache, Long](reg)(
        () => new graft.conn.Couchbase.Cache(addr, "graft", "pw-123", "data", prefix = "p_")) { (c, row) =>
        c.set(row.getLong(0).toString, row.getString(1).getBytes("UTF-8"))
        row.getLong(0)
      }(_.close()).count() // seed before lookups
      val li = t(s, dir, "lineitem").filter(col("l_linenumber") === 2 && col("l_partkey") % 2 === 1)
        .select(col("l_orderkey").cast(LongType), col("l_partkey").cast(LongType))
      graft.operators.External.perPartitionLookup[graft.conn.Couchbase.Cache, (Long, String)](li)(
        () => new graft.conn.Couchbase.Cache(addr, "graft", "pw-123", "data", prefix = "p_")) { (c, row) =>
        (row.getLong(0), c.get(row.getLong(1).toString)
          .map(new String(_, "UTF-8")).orNull)
      }(_.close()).toDF("l_orderkey", "part_name")
    }),

    // cockroachdb changefeed input (impl/cockroachdb/input_changefeed.go)
    // over the from-scratch postgres wire protocol v3 (conn/Pgwire.scala:
    // startup/cleartext-auth, Simple Query, streaming DataRows; the
    // reference wraps pgx). Executors INSERT through authenticated
    // pgwire clients; the driver consumes the NEVER-ENDING changefeed,
    // checkpoints the `updated` hlc mid-stream, DROPS the connection and
    // RESUMES with CURSOR=' ' — the reference's cursor_cache restart
    // contract, exercised inside the gate itself
    "src_crdb_changefeed" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Pgwire.MiniCrdb("graft", "pg-pass").start()
      val addr = srv.address
      val setup = new graft.conn.Pgwire.Client(addr, "graft", "pg-pass")
      setup.exec("SET CLUSTER SETTING kv.rangefeed.enabled = true")
      setup.close()
      val rows = t(s, dir, "orders").filter(col("o_orderkey") % 14 === 0)
        .select(col("o_orderkey").cast(LongType), col("o_orderpriority"))
      val expected = rows.count()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Pgwire.Client(addr, "graft", "pg-pass")
          try it.foreach { r =>
            val after = s"""{"okey": ${r.getLong(0)}, "priority": "${r.getString(1)}"}"""
            c.exec(s"INSERT INTO orders VALUES ('[${r.getLong(0)}]', '$after')")
          } finally c.close()
        }
      }
      val got = Vector.newBuilder[(Long, String)]
      def harvest(row: graft.conn.Pgwire.FeedRow): Unit = {
        val m = graft.conn.Aws.Json.asObj(graft.conn.Aws.Json.parse(row.valueJson))
        val after = graft.conn.Aws.Json.asObj(m("after"))
        got += ((graft.conn.Aws.Json.long(after, "okey"),
          graft.conn.Aws.Json.str(after, "priority")))
      }
      val firstHalf = expected / 2
      val c1 = new graft.conn.Pgwire.Client(addr, "graft", "pg-pass")
      c1.startChangefeed(Seq("orders"))
      var cursor = ""
      (1L to firstHalf).foreach { i =>
        val r = c1.nextRow(5000).getOrElse(sys.error(s"feed drained early at $i"))
        harvest(r); cursor = r.updated
      }
      c1.close() // simulated crash after checkpointing
      val c2 = new graft.conn.Pgwire.Client(addr, "graft", "pg-pass")
      c2.startChangefeed(Seq("orders"), cursor = Some(cursor))
      ((firstHalf + 1) to expected).foreach { i =>
        harvest(c2.nextRow(5000).getOrElse(sys.error(s"resumed feed drained early at $i")))
      }
      require(c2.nextRow(300).isEmpty, "changefeed produced extra rows after resume")
      c2.close(); srv.stop()
      s.createDataset(got.result()).toDF("o_orderkey", "priority")
    }),

    // etcd v3 watch input (impl/etcd/input.go) over the ENTIRE
    // from-scratch stack — etcdserverpb protos compiled by the in-repo
    // proto compiler, gRPC framing, HTTP/2 multiplexing, HPACK header
    // compression (conn/Etcd.scala, Grpc.scala, Http2.scala,
    // Hpack.scala; the reference wraps etcd/client/v3 + google.golang.org/
    // grpc). Executors Put through concurrent gRPC clients; the
    // driver's prefix watch replays the
    // MVCC history and the flattened event shape (util.go:10 — key,
    // value, type, version) crosses the gate
    "src_etcd_watch" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Etcd.MiniEtcd().start()
      val port = srv.port
      val rows = t(s, dir, "part").filter(col("p_partkey") % 9 === 0)
        .select(col("p_partkey").cast(LongType),
          concat_ws("|", col("p_name"), col("p_retailprice")).as("v"))
      val expected = rows.count()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val c = new graft.conn.Etcd.Client("127.0.0.1", port)
          try it.foreach { r =>
            require(c.put(f"part/${r.getLong(0)}%09d", r.getString(1)) > 0,
              "put did not return a revision")
          } finally c.close()
        }
      }
      // explicit startRevision=1 requests the historical replay; a
      // zero/absent start_revision means "live events from now" on the
      // public etcd contract and would see nothing here
      val watcher = new graft.conn.Etcd.Client("127.0.0.1", port)
      val w = watcher.watch("part/", rangeEnd = "part0", startRevision = 1)
      val got = Vector.newBuilder[(Long, String, Double, String, Long)]
      (1L to expected).foreach { i =>
        val e = w.next(5000).getOrElse(sys.error(s"watch drained early at $i/$expected"))
        val parts = e.value.split('|')
        got += ((e.key.stripPrefix("part/").toLong, parts(0), parts(1).toDouble,
          e.eventType, e.version))
      }
      watcher.close(); srv.stop()
      s.createDataset(got.result())
        .toDF("p_partkey", "p_name", "p_retailprice", "event_type", "version")
    }),

    // generic grpc client processor (impl/grpc/input_grpc_client.go,
    // output_grpc_client.go — per-message RPCs against a user service):
    // one gRPC connection per Spark partition MULTIPLEXES per-row unary
    // calls as h2 streams; the fixture service is a driver-defined
    // JSON transform and the oracle replays it (the proc_http/
    // proc_lambda pattern on the gRPC stack)
    "proc_grpc" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Grpc.GrpcServer(Map(
        "/graft.Score/Compute" -> graft.conn.Grpc.Unary { req =>
          val m = graft.conn.Aws.Json.asObj(graft.conn.Aws.Json.parse(new String(req, "UTF-8")))
          val id = graft.conn.Aws.Json.long(m, "event_id")
          val v = m("value") match { case d: Double => d; case l: Long => l.toDouble; case x => x.toString.toDouble }
          graft.conn.Aws.Json.render(graft.conn.Aws.Json.obj(
            "event_id" -> id, "score" -> (v * 1.5 + (id % 11).toDouble),
            "band" -> (if (v > 75.0) "high" else "low"))).getBytes("UTF-8")
        })).start()
      val port = srv.port
      val ev = t(s, dir, "events").filter(col("value").isNotNull && col("event_id") % 2 === 1)
        .select(to_json(struct(col("event_id"), col("value"))).as("payload")).repartition(Tables.connFanout(s, 16))
      graft.operators.External.perPartitionLookup[graft.conn.Grpc.Client, String](ev)(
        () => new graft.conn.Grpc.Client("127.0.0.1", port)) { (c, row) =>
        new String(c.unary("/graft.Score/Compute", row.getString(0).getBytes("UTF-8")), "UTF-8")
      }(_.close()).toDF("resp").select(
        get_json_object(col("resp"), "$.event_id").cast(LongType).as("event_id"),
        round(get_json_object(col("resp"), "$.score").cast(DoubleType), 6).as("score"),
        get_json_object(col("resp"), "$.band").as("band"))
    }),

    // amqp1 input/output (impl/amqp1/{input,output}.go — the OASIS 1.0
    // protocol, which shares only a name with 0-9-1) over the
    // from-scratch typed encoding + performative framing
    // (conn/Amqp1.scala; the reference wraps Azure/go-amqp). One sender
    // link per Spark partition transfers data sections; the driver-side
    // receiver link grants CREDIT in windows and settles every delivery
    // with an accepted DISPOSITION — the input's at-least-once ack path
    "src_amqp1" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Amqp1.MiniAmqp1().start()
      val addr = srv.address
      val rows = t(s, dir, "lineitem").filter(col("l_linenumber") === 6 && col("l_orderkey") % 4 === 0)
        .select(concat_ws("|", col("l_orderkey"), col("l_discount")).as("v"))
      val expected = rows.count()
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val snd = new graft.conn.Amqp1.Sender(addr, "li")
          try it.foreach(r => snd.send(r.getString(0).getBytes("UTF-8")))
          finally snd.close()
        }
      }
      val rcv = new graft.conn.Amqp1.Receiver(addr, "li")
      val got = Vector.newBuilder[String]
      rcv.flow(500)
      var sinceFlow = 0
      var n = 0L
      while (n < expected) {
        val d = rcv.receive(5000).getOrElse(sys.error(s"amqp1 drained early at $n/$expected"))
        got += new String(d.body, "UTF-8")
        rcv.accept(d)
        n += 1; sinceFlow += 1
        if (sinceFlow >= 250) { rcv.flow(250); sinceFlow = 0 }
      }
      rcv.close(); srv.stop()
      s.createDataset(got.result()).toDF("line").select(
        split(col("line"), "\\|").getItem(0).cast(LongType).as("l_orderkey"),
        split(col("line"), "\\|").getItem(1).cast(DoubleType).as("l_discount"))
    }),

    // otlp tracer (impl/otlp/tracer_otlp.go + the jaeger/cloudtrace
    // tracer family — bento wraps component processing in OTel spans):
    // each Spark partition runs a Tracer that opens a ROOT span, child
    // spans per event-type batch with typed count attributes, and
    // exports the protobuf TracesData batch to the /v1/traces collector
    // (conn/Otlp.scala — public opentelemetry-proto schema via the
    // in-repo proto compiler). The gate re-aggregates the collector's
    // span attributes and checks parent/child linkage before crossing
    // gcp_cloudtrace tracer (impl/gcp/tracer_cloudtrace.go:24-110): the
    // same engine-side span shape exported to the Cloud Trace v2 REST
    // surface — batchWrite per partition from EXECUTORS, Bearer-authed,
    // resource tags stamped on every span, ParentBased ratio sampling
    // (1.0 here; the arithmetic is spec-gated). Oracle replays the
    // per-type counts the child spans carry
    "trace_cloudtrace" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Cloudtrace.MiniCloudTrace("tok-gate").start()
      val endpoint = srv.endpoint
      val ev = t(s, dir, "events").filter(col("event_type").isNotNull)
        .select(col("event_type"))
      ev.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val counts = scala.collection.mutable.Map[String, Long]()
          it.foreach(r => counts(r.getString(0)) = counts.getOrElse(r.getString(0), 0L) + 1)
          val pid = org.apache.spark.TaskContext.getPartitionId()
          def id(n: Int, seed: String) = graft.conn.Aws.SigV4.hex(
            java.security.MessageDigest.getInstance("MD5")
              .digest(s"ct-$pid-$seed".getBytes("UTF-8"))).take(n * 2)
          val now = System.currentTimeMillis() * 1000000L
          val tid = id(16, "trace")
          val rootSid = id(8, "root")
          val root = graft.conn.Otlp.Span(tid, rootSid, "", "partition", now, now + 1000000L,
            Map("partition" -> (pid.toLong + 1)))
          val children = counts.toSeq.zipWithIndex.map { case ((tpe, n), i) =>
            graft.conn.Otlp.Span(tid, id(8, s"c$i"), rootSid, "type-batch",
              now, now + 500000L, Map("type" -> tpe, "n" -> n))
          }
          val exp = new graft.conn.Cloudtrace.Exporter(endpoint, "proj1", "tok-gate",
            samplingRatio = 1.0, tags = Map("service" -> "graft"))
          try { exp.export(root +: children); () } finally exp.close()
        }
      }
      val spans = srv.spans.map(_._2)
      srv.stop()
      val roots = spans.filter(_.displayName == "partition").map(_.spanId).toSet
      val batches = spans.filter(_.displayName == "type-batch")
      require(batches.forall(b => roots.contains(b.parentSpanId)),
        "every batch span links to a partition root")
      require(spans.forall(_.attributes.get("service").contains("graft")),
        "resource tags stamped on every span")
      s.createDataset(batches.map(b =>
        (b.attributes("type").asInstanceOf[String], b.attributes("n").asInstanceOf[Long])))
        .groupBy(col("_1").as("event_type")).agg(sum(col("_2")).as("cnt"))
    }),

    // jaeger tracer (impl/jaeger/tracer_jaeger.go:42-177): spans flow
    // over the thrift-compact agent UDP datagram surface (conn/Jaeger
    // .scala builds both agent and collector wire formats from the
    // public jaeger.thrift IDL); same executor-side span shape as the
    // other tracers — bounded per-partition aggregates become spans, no
    // driver funnel
    "trace_jaeger" -> ((s, dir) => {
      import s.implicits._
      val agent = new graft.conn.Jaeger.MiniJaegerAgent().start()
      val address = agent.address
      val ev = t(s, dir, "events").filter(col("event_type").isNotNull)
        .select(col("event_type"))
      // counts partitions that actually emit a trace, so the read-back
      // below has an expected-roots floor instead of a pure quiesce test
      val emitting = s.sparkContext.longAccumulator("jaeger_emitting_partitions")
      ev.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          emitting.add(1L)
          val counts = scala.collection.mutable.Map[String, Long]()
          it.foreach(r => counts(r.getString(0)) = counts.getOrElse(r.getString(0), 0L) + 1)
          val pid = org.apache.spark.TaskContext.getPartitionId()
          def id(n: Int, seed: String) = graft.conn.Aws.SigV4.hex(
            java.security.MessageDigest.getInstance("MD5")
              .digest(s"jg-$pid-$seed".getBytes("UTF-8"))).take(n * 2)
          val now = (System.currentTimeMillis() * 1000000L / 1000L) * 1000L // µs-aligned
          val tid = id(16, "trace")
          val rootSid = id(8, "root")
          val root = graft.conn.Otlp.Span(tid, rootSid, "", "partition", now, now + 1000000L,
            Map("partition" -> (pid.toLong + 1)))
          val children = counts.toSeq.zipWithIndex.map { case ((tpe, n), i) =>
            graft.conn.Otlp.Span(tid, id(8, s"c$i"), rootSid, "type-batch",
              now, now + 500000L, Map("type" -> tpe, "n" -> n))
          }
          val exp = new graft.conn.Jaeger.Exporter(agentAddress = address,
            serviceName = "graft", samplerParam = 1.0, tags = Map("env" -> "gate"))
          try { exp.export(root +: children); () } finally exp.close()
        }
      }
      // UDP datagrams race the gate's read-back. Two guards: (a) wait
      // until a root span from EVERY emitting partition has arrived
      // (accumulator floor — a delayed datagram can't silently truncate
      // the result), then (b) a stability window for the child-span
      // datagrams of the final batches. Received spans are deduped by
      // (traceId, spanId) — ids are deterministic per partition, so a
      // retried task's re-sent spans collapse instead of double-counting.
      def uniq = agent.spans.distinctBy(p => (p._2.traceId, p._2.spanId))
      val rootsDeadline = System.currentTimeMillis() + 10000
      val wantRoots = emitting.value
      while (uniq.count(_._2.name == "partition") < wantRoots) {
        // fail loudly: proceeding without every root would silently
        // truncate the result (missing batches pass the linkage forall)
        require(System.currentTimeMillis() < rootsDeadline,
          s"jaeger read-back: ${uniq.count(_._2.name == "partition")}/$wantRoots roots in 10s")
        Thread.sleep(50)
      }
      // the stability window has its OWN budget — sharing the roots
      // deadline would leave a zero-length window when roots arrive
      // late, dropping in-flight child datagrams
      val stabDeadline = System.currentTimeMillis() + 3000
      var last = -1
      while (System.currentTimeMillis() < stabDeadline &&
             { val n = agent.spans.size; val grew = n != last; last = n; grew })
        Thread.sleep(50)
      val spans = uniq
      agent.stop()
      require(spans.forall(_._1 == "graft"), "process service name on every batch")
      val roots = spans.map(_._2).filter(_.name == "partition").map(_.spanId).toSet
      val batches = spans.map(_._2).filter(_.name == "type-batch")
      require(batches.forall(b => roots.contains(b.parentSpanId)),
        "every batch span links to a partition root")
      s.createDataset(batches.map(b =>
        (b.attributes("type").asInstanceOf[String], b.attributes("n").asInstanceOf[Long])))
        .groupBy(col("_1").as("event_type")).agg(sum(col("_2")).as("cnt"))
        .select(col("event_type"), col("cnt").cast(LongType))
    }),

    "trace_otlp" -> ((s, dir) => {
      import s.implicits._
      val col2 = new graft.conn.Otlp.MiniCollector().start()
      val endpoint = col2.endpoint
      val ev = t(s, dir, "events").filter(col("event_type").isNotNull)
        .select(col("event_type"))
      ev.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.nonEmpty) {
          val counts = scala.collection.mutable.Map[String, Long]()
          it.foreach(r => counts(r.getString(0)) = counts.getOrElse(r.getString(0), 0L) + 1)
          val tracer = new graft.conn.Otlp.Tracer(endpoint, "graft-pipeline")
          try {
            val root = tracer.startTrace("partition", // +1: proto3 elides zero ints
              Map("partition" -> (org.apache.spark.TaskContext.getPartitionId().toLong + 1)))
            counts.foreach { case (tpe, n) =>
              val c = root.startChild("type-batch", Map("type" -> tpe, "n" -> n))
              c.end()
            }
            root.end()
          } finally tracer.close() // close flushes the batch
        }
      }
      val spans = col2.spans.map(_._2)
      col2.stop()
      val roots = spans.filter(_.name == "partition").map(_.spanId).toSet
      val batches = spans.filter(_.name == "type-batch")
      require(batches.forall(b => roots.contains(b.parentSpanId)),
        "every batch span links to a partition root")
      s.createDataset(batches.map(b =>
        (b.attributes("type").asInstanceOf[String], b.attributes("n").asInstanceOf[Long])))
        .groupBy(col("_1").as("event_type")).agg(sum(col("_2")).as("cnt"))
        .select(col("event_type"), col("cnt").cast(LongType))
    }),

    // kafka consumer-group input (impl/kafka/input.go — franz-go
    // consumer groups are THE reference consumption mode): the full
    // coordination protocol over the from-scratch wire (JoinGroup with
    // client-side range assignment by the generation leader, SyncGroup
    // distribution, OffsetCommit/Fetch). Producers route per partition;
    // TWO group members consume CONCURRENTLY with disjoint-and-complete
    // assignments and committed offsets — each message exactly once
    // across the group, with the owning member crossing the gate
    "src_kafka_group" -> ((s, dir) => {
      import s.implicits._
      val srv = new graft.conn.Kafka.MiniKafka(numPartitions = 4).start()
      val bootstrap = srv.bootstrap
      // the synthetic lineitem REPEATS (orderkey, linenumber) pairs, so a
      // synthesized unique row id rides the value purely as the
      // idempotent-sink key — duplicates of the business columns survive
      val rows = t(s, dir, "lineitem").filter(col("l_linenumber") === 4)
        .select(col("l_orderkey").cast(LongType),
          concat_ws("|", monotonically_increasing_id(),
            col("l_orderkey"), col("l_tax")).as("v"))
        .repartition(Tables.fanout(s)) // one-file input: concurrent producers
      val expected = rows.count()
      graft.conn.Kafka.output(rows, bootstrap, "li4",
        partitionOf = r => (r.getLong(0) % 4).toInt,
        keyOf = r => r.getLong(0).toString.getBytes("UTF-8"),
        valueOf = r => r.getString(1).getBytes("UTF-8"))
      // at-least-once group consumption + an idempotent sink keyed by the
      // unique message key — the documented pairing; commits bound the
      // overlap window during rebalances
      val got = new java.util.concurrent.ConcurrentHashMap[String, Int]()
      val members = Seq("m1", "m2").map { label =>
        new Thread(() => {
          val c = new graft.conn.Kafka.GroupConsumer(bootstrap, "graft-group", "li4")
          try {
            c.join()
            // run until the GROUP collectively drained the topic: an idle
            // member may be handed fresh partitions by a rebalance at any
            // time, so individual idleness is not a stop signal
            val deadline = System.currentTimeMillis() + 30000
            while (got.size < expected && System.currentTimeMillis() < deadline) {
              val batch = c.poll()
              if (batch.isEmpty) {
                c.heartbeatAndMaybeRejoin()
                Thread.sleep(25)
              } else {
                batch.foreach { case (p2, m) => got.put(new String(m.value, "UTF-8"), p2) }
                c.commitSync()
              }
            }
          } finally c.close()
        })
      }
      members.foreach(_.start()); members.foreach(_.join(60000))
      srv.stop()
      require(got.size == expected, s"group consumed ${got.size}/$expected")
      import scala.jdk.CollectionConverters._
      s.createDataset(got.asScala.toSeq).toDF("line", "kafka_partition").select(
        split(col("line"), "\\|").getItem(1).cast(LongType).as("l_orderkey"),
        split(col("line"), "\\|").getItem(2).cast(DoubleType).as("l_tax"),
        col("kafka_partition").cast(LongType))
    })
  )

  val oracle: Map[String, String] = Map(
    "src_aws_s3" ->
      """SELECT p_partkey, p_name, p_retailprice,
           'application/json' AS s3_content_type
         FROM part WHERE p_partkey % 3 = 0""",
    "cache_s3" ->
      """SELECT o_orderkey, c_mktsegment AS segment
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_orderkey % 7 = 0""",
    "src_aws_sqs" ->
      """SELECT c_custkey, c_name, c_mktsegment AS segment,
           1::BIGINT AS receive_count
         FROM customer WHERE c_custkey % 3 = 0""",
    "src_aws_kinesis" ->
      """SELECT ((strpos('0123456789abcdef',
             substr(md5(l_orderkey::VARCHAR), 1, 1)) - 1) // 4)::BIGINT AS shard,
           l_orderkey, l_quantity, l_returnflag
         FROM lineitem WHERE l_linenumber = 2 AND l_orderkey % 2 = 0""",
    "cache_dynamodb" ->
      """SELECT l_orderkey, s_name AS supplier_name
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         WHERE l_linenumber = 1 AND l_orderkey % 9 = 0""",
    "proc_lambda" ->
      """SELECT event_id, round(value * 3 + event_id % 5, 6) AS score,
           CASE WHEN value > 50 THEN 'hot' ELSE 'cold' END AS flag
         FROM events WHERE value IS NOT NULL""",
    "src_gcp_bigquery" ->
      """SELECT o_orderkey, o_orderpriority AS priority, o_totalprice
         FROM orders WHERE o_orderkey % 5 = 0 AND o_totalprice > 1000""",
    "src_gcp_pubsub" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority AS priority
         FROM orders WHERE o_orderkey % 4 = 0""",
    "cache_gcs" ->
      """SELECT c_custkey, n_name AS nation_name
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE c_custkey % 5 = 0""",
    "src_azure_blob" ->
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
         WHERE s_suppkey % 2 = 0""",
    "src_spanner_cdc" ->
      """SELECT o_orderkey, o_orderpriority AS priority, o_totalprice,
           'INSERT' AS mod_type
         FROM orders WHERE o_orderkey % 9 = 4""",
    "src_s2" ->
      """SELECT c_custkey, c_name, c_mktsegment
         FROM customer WHERE c_custkey % 4 = 3""",
    "out_snowflake_put" ->
      """SELECT o_orderkey, o_totalprice
         FROM orders WHERE o_orderkey % 8 = 5""",
    "src_cosmosdb" ->
      """SELECT o_orderkey, o_orderpriority AS priority, o_totalprice
         FROM orders WHERE o_orderkey % 7 = 2 AND o_totalprice > 0""",
    "src_fsevent" ->
      """SELECT p_partkey,
           CASE WHEN p_partkey % 5 = 0 THEN 'DELETED' ELSE 'CREATED' END AS state
         FROM part WHERE p_partkey % 8 = 0""",
    "src_cypher" ->
      """SELECT c_custkey, c_name, c_acctbal
         FROM customer WHERE c_custkey % 4 = 1 AND c_acctbal > 0""",
    "src_azure_service_bus" ->
      """SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 9 = 0 THEN 2 ELSE 1 END::BIGINT AS delivery_count
         FROM orders WHERE o_orderkey % 6 = 3""",
    "out_azure_table" ->
      """SELECT c_custkey, c_mktsegment, c_name,
           (c_custkey % 3 = 0) AS flagged
         FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 7 <> 0""",
    "src_azure_queue" ->
      """SELECT p_partkey, p_brand, 1::BIGINT AS dequeue_count
         FROM part WHERE p_partkey % 5 = 0""",
    "out_aws_sns" ->
      """SELECT o_orderkey, o_orderpriority AS priority, q.queue
         FROM orders, (SELECT 'q1' AS queue UNION ALL SELECT 'q2') q
         WHERE o_orderkey % 10 = 0""",
    "out_aws_firehose" ->
      """SELECT l_orderkey, l_extendedprice FROM lineitem
         WHERE l_linenumber = 3""",
    "src_mongodb" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
         WHERE p_partkey % 4 = 2""",
    "cache_mongodb" ->
      """SELECT o_orderkey, c_name AS customer_name
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_orderkey % 13 = 0""",
    "proc_mongodb" ->
      """SELECT l_orderkey, s_name AS supplier_name, s_acctbal AS supplier_bal
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         WHERE l_linenumber = 1 AND l_orderkey % 6 = 0""",
    "out_elasticsearch" ->
      """SELECT event_id, event_type, (event_id % 20 = 0) AS flagged
         FROM events WHERE event_type IS NOT NULL AND event_id % 4 = 0""",
    "out_aws_s3_stream" ->
      """SELECT l_orderkey, l_returnflag, l_quantity FROM lineitem
         WHERE l_linenumber = 1 AND l_orderkey % 2 = 0""",
    "out_aws_dynamodb" ->
      """SELECT 'e' || event_id AS id, event_type AS etype, event_id, value
         FROM events
         WHERE event_type IS NOT NULL AND value IS NOT NULL
           AND event_id % 2 = 0 AND event_id % 10 <> 0""",
    "out_datadog_logs" ->
      """SELECT event_id, 'graft' AS ddsource,
           'env:test,type:' || event_type AS ddtags,
           'h' || (user_id % 4) AS hostname, 'pipeline' AS service,
           CASE WHEN value > 100 THEN 'error' ELSE 'info' END AS status,
           1700000000000 + event_id AS ts_ms
         FROM events
         WHERE value IS NOT NULL AND event_type IS NOT NULL AND event_id % 3 = 0""",
    "src_socket_server" ->
      """SELECT p_partkey, p_brand FROM part WHERE p_partkey % 5 = 2""",
    "out_gcp_bq_write" ->
      """SELECT event_id, event_type, value, (value > 100) AS big
         FROM events
         WHERE value IS NOT NULL AND event_type IS NOT NULL AND event_id % 2 = 1""",
    "stream_out_s3" ->
      """SELECT event_id, event_type, value FROM events
         WHERE event_type IS NOT NULL AND value IS NOT NULL AND event_id % 5 = 0""",
    "stream_out_bq_write" ->
      """SELECT event_id, event_type, value, (value > 100) AS big
         FROM events
         WHERE value IS NOT NULL AND event_type IS NOT NULL AND event_id % 5 = 1""",
    "out_gcp_bigtable" ->
      """WITH base AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0)
         SELECT 'order#' || lpad(o_orderkey::VARCHAR, 12, '0') AS row_key,
           'cf1' AS family, 'priority' AS qualifier,
           (1700000000000 + o_orderkey) * 1000 AS ts_micros,
           o_orderpriority AS value
         FROM base
         UNION ALL
         SELECT 'order#' || lpad(o_orderkey::VARCHAR, 12, '0'),
           'cf1', 'status', (1700000000000 + o_orderkey) * 1000, o_orderstatus
         FROM base""",
    "out_cassandra" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE c_custkey % 3 = 1""",
    "src_nats_jetstream" ->
      """SELECT o_orderkey, o_totalprice, 1::BIGINT AS delivery
         FROM orders WHERE o_orderkey % 8 = 0""",
    "src_pulsar" ->
      """SELECT event_id, event_type FROM events
         WHERE event_id % 7 = 0 AND event_type IS NOT NULL""",
    "metric_statsd" ->
      """SELECT event_type, count(*)::BIGINT AS cnt FROM events
         WHERE event_type IS NOT NULL GROUP BY 1""",
    "out_influx_ilp" ->
      """SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem
         WHERE l_linenumber = 5""",
    "out_splunk" ->
      """SELECT event_id, event_type, 'graft:events' AS sourcetype
         FROM events WHERE event_id % 9 = 0 AND event_type IS NOT NULL""",
    "out_loki" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority AS priority
         FROM orders WHERE o_orderkey % 12 = 0""",
    "metric_prometheus" ->
      """SELECT o_orderpriority AS priority, count(*)::BIGINT AS cnt
         FROM orders GROUP BY 1""",
    "metric_json_api" ->
      """SELECT event_type, count(*)::BIGINT AS cnt FROM events
         WHERE event_type IS NOT NULL GROUP BY 1""",
    "rate_limit_redis" ->
      """SELECT s_suppkey, s_name FROM supplier""",
    "metric_cloudwatch" ->
      """SELECT 'orders_total' AS metric, o_orderpriority AS dim,
           count(*)::BIGINT AS cnt FROM orders GROUP BY 2
         UNION ALL
         SELECT 'cust_total', n_name, count(*)::BIGINT
         FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 2""",
    "src_hdfs" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation""",
    "src_zmq" ->
      """SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 11 = 0""",
    "src_nanomsg" ->
      """SELECT event_id, value FROM events
         WHERE event_id % 11 = 0 AND value IS NOT NULL""",
    "cache_couchbase" ->
      """SELECT l_orderkey, p_name AS part_name
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_linenumber = 2 AND l_partkey % 2 = 1""",
    "cache_nats_kv" ->
      """SELECT l_orderkey, p_name AS part_name
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_linenumber = 3 AND l_partkey % 2 = 1""",
    "src_nats_os" ->
      """SELECT o_orderkey, o_totalprice
         FROM orders WHERE o_orderkey % 3 = 0""",
    "src_kubernetes_watch" ->
      """SELECT p_partkey, 'ADDED' AS event_type, 'v1' AS image
         FROM part WHERE p_partkey % 7 = 0
         UNION ALL
         SELECT p_partkey, 'MODIFIED', 'v2'
         FROM part WHERE p_partkey % 7 = 0 AND p_partkey % 3 = 0
         UNION ALL
         SELECT p_partkey, 'DELETED',
           CASE WHEN p_partkey % 3 = 0 THEN 'v2' ELSE 'v1' END
         FROM part WHERE p_partkey % 7 = 0 AND p_partkey % 5 = 0""",
    "src_nats_kv" ->
      """SELECT p_partkey,
           CASE WHEN p_partkey % 4 = 2 THEN NULL
                WHEN p_partkey % 3 = 0 THEN 'v2' ELSE 'v1' END AS ver,
           CASE WHEN p_partkey % 4 = 2 THEN NULL ELSE p_name END AS p_name,
           CASE WHEN p_partkey % 4 = 2 THEN 0.0 ELSE p_retailprice END AS p_retailprice,
           CASE WHEN p_partkey % 4 = 2 THEN 'DEL' ELSE 'PUT' END AS operation
         FROM part WHERE p_partkey % 5 = 0""",
    "src_crdb_changefeed" ->
      """SELECT o_orderkey, o_orderpriority AS priority
         FROM orders WHERE o_orderkey % 14 = 0""",
    "src_etcd_watch" ->
      """SELECT p_partkey, p_name, p_retailprice,
           'PUT' AS event_type, 1::BIGINT AS version
         FROM part WHERE p_partkey % 9 = 0""",
    "proc_grpc" ->
      """SELECT event_id, round(value * 1.5 + event_id % 11, 6) AS score,
           CASE WHEN value > 75 THEN 'high' ELSE 'low' END AS band
         FROM events WHERE value IS NOT NULL AND event_id % 2 = 1""",
    "src_amqp1" ->
      """SELECT l_orderkey, l_discount FROM lineitem
         WHERE l_linenumber = 6 AND l_orderkey % 4 = 0""",
    "trace_otlp" ->
      """SELECT event_type, count(*)::BIGINT AS cnt FROM events
         WHERE event_type IS NOT NULL GROUP BY 1""",
    "trace_cloudtrace" ->
      """SELECT event_type, count(*)::BIGINT AS cnt FROM events
         WHERE event_type IS NOT NULL GROUP BY 1""",
    "trace_jaeger" ->
      """SELECT event_type, count(*)::BIGINT AS cnt FROM events
         WHERE event_type IS NOT NULL GROUP BY 1""",
    "src_kafka_group" ->
      """SELECT l_orderkey, l_tax, (l_orderkey % 4)::BIGINT AS kafka_partition
         FROM lineitem WHERE l_linenumber = 4""",
    "proc_java" ->
      """SELECT event_id,
           round(value * 2 + event_id % 7, 6) AS score,
           CASE WHEN value > 100 THEN 'hi' ELSE 'lo' END AS grade,
           'script' AS src
         FROM events WHERE value IS NOT NULL""",
    "proc_javascript" ->
      """SELECT event_id,
           round(value * 2 + event_id % 7, 6) AS score,
           CASE WHEN value > 100 THEN 'hi' ELSE 'lo' END AS grade,
           'js' AS src
         FROM events WHERE value IS NOT NULL AND event_id % 13 <> 0""",
    "proc_python" ->
      """SELECT event_id,
           round(value * 2 + event_id % 7, 6) AS score,
           CASE WHEN value > 100 THEN 'hi' ELSE 'lo' END AS grade
         FROM events WHERE value IS NOT NULL AND event_id % 11 <> 0""",
    "proc_awk" ->
      """SELECT event_id,
           CASE WHEN value > 100 THEN 'big' ELSE NULL END AS bucket,
           round(value * 2 + 1, 6) AS scaled,
           event_id * 3 AS eid3
         FROM events WHERE value IS NOT NULL""",
    "proc_parse_log" ->
      """SELECT event_id,
           'Feb ' || (event_id % 28 + 1) || ' 08:'
             || lpad((event_id % 60)::VARCHAR, 2, '0') || ':'
             || lpad((user_id % 60)::VARCHAR, 2, '0') AS log_ts,
           'h' || user_id AS log_host,
           'app' AS log_prog,
           event_id::VARCHAR AS log_pid,
           'type=' || event_type AS log_msg
         FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL""",
    "join_sharded_array" ->
      """WITH a AS (SELECT c_custkey AS id, c_acctbal AS bal FROM customer),
            b AS (SELECT o_custkey AS id,
                    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS bal
                  FROM orders GROUP BY 1)
         SELECT COALESCE(a.id, b.id)::VARCHAR AS id,
           ((a.bal IS NOT NULL)::INT + (b.bal IS NOT NULL)::INT)::BIGINT AS n_bal,
           round(COALESCE(a.bal, b.bal), 6) AS bal_first,
           round(COALESCE(b.bal, a.bal), 6) AS bal_last
         FROM a FULL OUTER JOIN b ON a.id = b.id""",
    "src_file_tail" ->
      """SELECT event_id, event_type FROM events""",
    "src_socket" ->
      """SELECT n_nationkey, n_name FROM nation""",
    "src_websocket" ->
      """SELECT s_suppkey, s_name, s_nationkey FROM supplier""",
    "src_http_server" ->
      """SELECT event_id, round(value * 2, 6) AS twice,
           'u' || (event_id % 7) AS tag,
           '/post/t' || (event_id % 3) AS req_path
         FROM events WHERE event_id % 10 = 0""",
    "proc_workflow" ->
      """SELECT o_orderkey, (o_totalprice * 0.9 + 10.0) * 2.0 AS final FROM orders""",
    "proc_while" ->
      """WITH RECURSIVE it AS (
           SELECT event_id, value AS v, 0 AS i FROM events
           UNION ALL
           SELECT event_id, v * 2.0, i + 1 FROM it WHERE v < 50.0 AND i < 16)
         SELECT event_id, max_by(v, i) AS value2 FROM it GROUP BY event_id""",
    "proc_insert_part" ->
      """SELECT r_regionkey, r_name FROM region
         UNION ALL SELECT 99, 'MARS'""",
    "proc_split" ->
      """SELECT n_nationkey, n_name FROM nation""",
    "proc_grok" ->
      """SELECT event_id, event_type AS etype, user_id AS uid, value AS val FROM events""",
    "proc_opensnowcat" ->
      """SELECT event_id,
           'app' || (user_id % 5) AS app_id,
           sha256('user' || user_id || 's3cr3t') AS user_hash,
           '10.' || (user_id % 200) || '.x.x' AS ip_anon,
           '[REDACTED]' AS net_uid,
           user_id % 100 AS sessionidx,
           CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END AS pdf,
           '2022-03-21T22:12:43.358Z' AS ct,
           CASE WHEN user_id % 3 = 0 THEN 'Chrome' ELSE 'Firefox' END AS ua_family,
           'wp' || event_id AS wp_id
         FROM events
         WHERE event_type IS NOT NULL AND user_id IS NOT NULL
           AND event_id % 17 <> 0 AND user_id % 3 <> 2""",
    "proc_cached" ->
      """SELECT o_orderkey, 'B' || CAST(floor(o_totalprice / 100000.0) AS BIGINT) AS label
         FROM orders""",
    "proc_cache_get" ->
      """SELECT e.event_id, n.n_name AS user_nation
         FROM events e LEFT JOIN nation n ON e.user_id % 25 = n.n_nationkey""",
    "proc_retry" ->
      """SELECT event_id, CASE WHEN value < 10.0 THEN value * 2 ELSE value END AS v2
         FROM events""",
    "proc_json_schema" ->
      """SELECT event_id, event_id % 5 <> 0 AS ok FROM events""",
    "codec_csv" ->
      """SELECT c_custkey, c_name AS name, c_acctbal AS bal, c_mktsegment AS seg
         FROM customer""",
    "codec_xml" ->
      """SELECT p_partkey, p_name AS name, p_size::BIGINT AS size FROM part""",
    "codec_yaml" ->
      """SELECT p_partkey, p_name AS name, p_size::BIGINT AS size FROM part""",
    "codec_msgpack" ->
      """SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k FROM events""",
    "scan_chunker" ->
      """SELECT doc_id, i - 1 AS chunk_idx, substr(text, (i - 1) * 100 + 1, 100) AS chunk
         FROM documents, unnest(generate_series(1, (length(text) + 99) // 100)) AS t(i)""",
    "win_sliding" ->
      """SELECT ws, event_type, COUNT(*) AS n FROM (
           SELECT unnest([(epoch_us(ts) // 1800000000) * 1800 - 1800,
                          (epoch_us(ts) // 1800000000) * 1800]) AS ws, event_type
           FROM events)
         GROUP BY ws, event_type""",
    "set_ops" ->
      """SELECT nk, 'both' AS op FROM (
           SELECT DISTINCT c_nationkey::BIGINT AS nk FROM customer
           INTERSECT SELECT DISTINCT s_nationkey::BIGINT FROM supplier)
         UNION ALL
         SELECT nk, 'cust_only' AS op FROM (
           SELECT DISTINCT c_nationkey::BIGINT AS nk FROM customer
           EXCEPT SELECT DISTINCT s_nationkey::BIGINT FROM supplier)""",
    "blob_text_mapping" ->
      """SELECT p_partkey AS id, upper(p_name) AS up,
           len(string_split(p_name, ' '))::BIGINT AS n_words,
           CASE WHEN p_size > 25 THEN 'L' ELSE 'S' END AS tier
         FROM part""",
    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "src_redis_list" ->
      "SELECT s_suppkey, s_acctbal FROM supplier",
    "proc_redis" ->
      """SELECT c_mktsegment, COUNT(DISTINCT c_custkey)::BIGINT AS distinct_customers
         FROM customer GROUP BY c_mktsegment""",
    "cache_redis" ->
      """SELECT s_suppkey, n_name AS nation_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey""",
    "out_redis_hash" ->
      """SELECT c_custkey, c_name, c_acctbal, c_nationkey
         FROM customer WHERE c_custkey % 3 = 1""",
    "src_redis_scan" ->
      "SELECT r_regionkey, r_name FROM region",
    "src_redis_streams" ->
      """SELECT event_id, event_type FROM events
         WHERE value IS NOT NULL AND event_id % 20 = 0""",
    "src_redis_pubsub" ->
      "SELECT n_nationkey, n_name FROM nation",
    "src_nsq" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE c_custkey % 3 = 0""",
    "src_beanstalkd" ->
      """SELECT p_partkey, p_brand FROM part
         WHERE p_partkey % 4 = 0""",
    "src_kafka" ->
      """SELECT (l_orderkey % 4)::BIGINT AS kafka_partition, l_orderkey,
           l_quantity, l_returnflag
         FROM lineitem WHERE l_linenumber = 1""",
    "src_amqp" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
         WHERE o_orderkey % 5 = 0""",
    "cache_memcached" ->
      """SELECT o_orderkey, c_mktsegment AS segment
         FROM orders JOIN customer ON o_custkey = c_custkey""",
    "cache_file" ->
      """SELECT n_nationkey::BIGINT AS n_nationkey, r_name AS region_name
         FROM nation JOIN region ON n_regionkey = r_regionkey""",
    "src_nats" ->
      "SELECT s_suppkey, s_name, s_nationkey::BIGINT AS s_nationkey FROM supplier",
    "proc_nats_rr" ->
      """SELECT event_id, event_id * 7 + 3 AS score FROM events
         WHERE event_id % 10 = 0""",
    "src_mqtt" ->
      """SELECT p_partkey, p_size::BIGINT AS p_size,
           (p_partkey % 7)::BIGINT AS bucket FROM part""",
    "src_sftp" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
         WHERE o_orderkey % 6 = 0""",
    "proc_redis_script" ->
      """SELECT event_type, SUM(event_id % 1000)::BIGINT AS total
         FROM events WHERE value IS NOT NULL GROUP BY event_type""",
    "proc_wasm" ->
      """SELECT p_partkey, upper(p_name) AS up_name, 'wasm' AS processor
         FROM part"""
  )
}
