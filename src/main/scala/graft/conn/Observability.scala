package graft.conn

import java.net.{DatagramPacket, DatagramSocket, InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.concurrent.{TrieMap => CTrieMap}
import scala.collection.immutable.VectorMap

import graft.conn.Aws.Json

/** Observability sinks re-expressed from their PUBLIC text/REST
  * protocols — the reference wraps client libraries for each:
  *
  *  - statsd metrics target (internal/impl/statsd/metrics.go): the
  *    dogstatsd-compatible UDP datagram format `name:value|type[|@rate]
  *    [|#tag:v,…]`, counters/gauges/timers, newline-batched datagrams
  *    (the client-side flush aggregation real statsd clients do).
  *  - InfluxDB line protocol (impl/influxdb/metrics.go; also QuestDB's
  *    ILP output impl/questdb/output.go): `measurement[,tag=v…]
  *    field=value[,…] [timestamp]` over TCP, `i` suffix for integers,
  *    escaped spaces/commas in tags.
  *  - Splunk HEC (impl/splunk/output.go): POST /services/collector/event
  *    with `Authorization: Splunk <token>`, JSON event envelopes.
  *  - Loki push (impl/loki — output_loki in the docs surface): POST
  *    /loki/api/v1/push with streams of [ns-timestamp, line] pairs.
  */
object Observability {

  // ============================================================== statsd
  object Statsd {
    final case class Metric(name: String, value: Double, kind: String, tags: Map[String, String])

    /** UDP statsd collector: parses datagrams (possibly newline-batched)
      * and accumulates counters (sum), gauges (last), timers (all). */
    final class MiniStatsd {
      private val counterMap = new CTrieMap[String, Double]()
      private val gaugeMap = new CTrieMap[String, Double]()
      private val timerMap = new CTrieMap[String, Vector[Double]]()
      @volatile private var sock: DatagramSocket = _
      def port: Int = sock.getLocalPort
      def counters: Map[String, Double] = counterMap.readOnlySnapshot().toMap
      def gauges: Map[String, Double] = gaugeMap.readOnlySnapshot().toMap
      def timers: Map[String, Vector[Double]] = timerMap.readOnlySnapshot().toMap

      def start(): this.type = {
        sock = new DatagramSocket(new InetSocketAddress(InetAddress.getLoopbackAddress, 0))
        sock.setReceiveBufferSize(4 * 1024 * 1024)
        val t = new Thread(() => {
          val buf = new Array[Byte](65535)
          try while (true) {
            val p = new DatagramPacket(buf, buf.length)
            sock.receive(p)
            new String(p.getData, p.getOffset, p.getLength, UTF_8).split('\n')
              .filter(_.nonEmpty).foreach(ingest)
          } catch { case _: Throwable => () }
        })
        t.setDaemon(true); t.start()
        this
      }
      def stop(): Unit = if (sock != null) sock.close()

      private def ingest(line: String): Unit = {
        // name:value|type[|@rate][|#tags] — tags kept in the key for assert simplicity
        val Array(name, rest) = line.split(":", 2)
        val parts = rest.split('|')
        val value = parts(0).toDouble
        val key = name + parts.drop(2).find(_.startsWith("#")).map("|" + _).getOrElse("")
        parts(1) match {
          case "c" => counterMap.updateWith(key) { case Some(x) => Some(x + value); case None => Some(value) }
          case "g" => gaugeMap.put(key, value)
          case "ms" | "h" => timerMap.updateWith(key) {
            case Some(v) => Some(v :+ value); case None => Some(Vector(value))
          }
          case other => throw new IllegalArgumentException(s"statsd: unknown type $other")
        }
      }
    }

    /** newline-batches metrics into datagrams ≤1400 bytes (the mtu-safe
      * flush real clients use) */
    final class Client(host: String, port: Int) extends AutoCloseable {
      private val sock = new DatagramSocket()
      private val addr = new InetSocketAddress(host, port)
      private val pending = new StringBuilder

      private def fmt(m: Metric): String = {
        val tags = if (m.tags.isEmpty) ""
          else "|#" + m.tags.toSeq.sortBy(_._1).map { case (k, v) => s"$k:$v" }.mkString(",")
        val v = if (m.value == math.rint(m.value) && math.abs(m.value) < 1e15) m.value.toLong.toString
          else m.value.toString
        s"${m.name}:$v|${m.kind}$tags"
      }
      def counter(name: String, value: Double = 1, tags: Map[String, String] = Map.empty): Unit =
        add(Metric(name, value, "c", tags))
      def gauge(name: String, value: Double, tags: Map[String, String] = Map.empty): Unit =
        add(Metric(name, value, "g", tags))
      def timing(name: String, ms: Double, tags: Map[String, String] = Map.empty): Unit =
        add(Metric(name, ms, "ms", tags))

      private def add(m: Metric): Unit = synchronized {
        val line = fmt(m)
        if (pending.length + line.length + 1 > 1400) flush()
        if (pending.nonEmpty) pending.append('\n')
        pending.append(line)
      }
      def flush(): Unit = synchronized {
        if (pending.nonEmpty) {
          val b = pending.toString.getBytes(UTF_8)
          sock.send(new DatagramPacket(b, b.length, addr))
          pending.clear()
        }
      }
      override def close(): Unit = { flush(); sock.close() }
    }
  }

  // ======================================================= line protocol
  object Ilp {
    final case class Point(measurement: String, tags: Map[String, String],
                           fields: Map[String, Any], timestampNs: Long)

    private def escape(s: String): String =
      s.replace("\\", "\\\\").replace(",", "\\,").replace(" ", "\\ ").replace("=", "\\=")
    private def unescape(s: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '\\' && i + 1 < s.length) { sb.append(s.charAt(i + 1)); i += 2 }
        else { sb.append(s.charAt(i)); i += 1 }
      }
      sb.toString
    }

    def render(p: Point): String = {
      val tags = p.tags.toSeq.sortBy(_._1).map { case (k, v) => s",${escape(k)}=${escape(v)}" }.mkString
      val fields = p.fields.toSeq.sortBy(_._1).map {
        case (k, l: Long) => s"${escape(k)}=${l}i"
        case (k, i: Int) => s"${escape(k)}=${i}i"
        case (k, d: Double) => s"${escape(k)}=$d"
        case (k, s: String) => s"${escape(k)}=" + "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        case (k, b: Boolean) => s"${escape(k)}=$b"
        case (k, other) => throw new IllegalArgumentException(s"ilp: bad field $k=$other")
      }.mkString(",")
      s"${escape(p.measurement)}$tags $fields ${p.timestampNs}"
    }

    /** split on unescaped separators */
    private def splitUnescaped(s: String, sep: Char): Vector[String] = {
      val out = Vector.newBuilder[String]
      val cur = new StringBuilder
      var i = 0
      var inQuote = false
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) { cur.append(c).append(s.charAt(i + 1)); i += 2 }
        else if (c == '"') { inQuote = !inQuote; cur.append(c); i += 1 }
        else if (c == sep && !inQuote) { out += cur.toString; cur.clear(); i += 1 }
        else { cur.append(c); i += 1 }
      }
      out += cur.toString
      out.result()
    }

    def parse(line: String): Point = {
      val sections = splitUnescaped(line, ' ').filter(_.nonEmpty)
      val head = splitUnescaped(sections(0), ',')
      val tags = head.drop(1).map { t =>
        val kv = splitUnescaped(t, '='); unescape(kv(0)) -> unescape(kv(1))
      }.toMap
      val fields = splitUnescaped(sections(1), ',').map { f =>
        val kv = splitUnescaped(f, '=')
        val raw = kv(1)
        val v: Any =
          if (raw.startsWith("\"")) raw.substring(1, raw.length - 1).replace("\\\"", "\"").replace("\\\\", "\\")
          else if (raw.endsWith("i")) raw.dropRight(1).toLong
          else if (raw == "true" || raw == "false") raw.toBoolean
          else raw.toDouble
        unescape(kv(0)) -> v
      }.toMap
      Point(unescape(head(0)), tags, fields,
        if (sections.size > 2) sections(2).toLong else 0L)
    }

    /** TCP ILP collector (the QuestDB ingest socket shape) */
    final class MiniIlp {
      private val pointBuf = new java.util.concurrent.ConcurrentLinkedQueue[Point]()
      @volatile private var listener: Wire.Listener = _
      def port: Int = listener.port
      def points: Vector[Point] = {
        import scala.jdk.CollectionConverters._
        pointBuf.iterator().asScala.toVector
      }
      def start(): this.type = {
        listener = Wire.listen("mini-ilp") { c =>
          val br = new java.io.BufferedReader(new java.io.InputStreamReader(c.in, UTF_8))
          var line = br.readLine()
          while (line != null) {
            if (line.nonEmpty) pointBuf.add(parse(line))
            line = br.readLine()
          }
        }
        this
      }
      def stop(): Unit = if (listener != null) listener.close()
    }

    final class Client(host: String, port: Int) extends AutoCloseable {
      private val conn = Wire.connect("ilp", host, port)
      private val out = conn.out
      def write(p: Point): Unit = { out.write((render(p) + "\n").getBytes(UTF_8)) }
      def flush(): Unit = out.flush()
      override def close(): Unit = { out.flush(); conn.close() }
    }
  }

  // ========================================================== splunk HEC
  object Splunk {
    final case class HecEvent(event: Any, sourcetype: String, index: String, time: Double)

    final class MiniHec(token: String) {
      private val eventBuf = new java.util.concurrent.ConcurrentLinkedQueue[HecEvent]()
      @volatile private var server: com.sun.net.httpserver.HttpServer = _
      def port: Int = server.getAddress.getPort
      def endpoint: String = s"http://127.0.0.1:$port"
      def events: Vector[HecEvent] = {
        import scala.jdk.CollectionConverters._
        eventBuf.iterator().asScala.toVector
      }
      def start(): this.type = {
        graft.conn.Aws.serverNoDelay()
        server = com.sun.net.httpserver.HttpServer.create(
          new InetSocketAddress("127.0.0.1", 0), 0)
        server.createContext("/services/collector/event",
          (x: com.sun.net.httpserver.HttpExchange) => {
            val body = new String(x.getRequestBody.readAllBytes(), UTF_8)
            val auth = Option(x.getRequestHeaders.getFirst("Authorization")).getOrElse("")
            val (status, resp) =
              if (auth != s"Splunk $token")
                (403, """{"text":"Invalid token","code":4}""")
              else try {
                // HEC accepts CONCATENATED JSON objects in one body
                var rest = body.trim
                while (rest.nonEmpty) {
                  val (obj, remaining) = firstJson(rest)
                  val m = Json.asObj(Json.parse(obj))
                  eventBuf.add(HecEvent(m("event"),
                    Json.strOpt(m, "sourcetype").getOrElse(""),
                    Json.strOpt(m, "index").getOrElse(""),
                    m.get("time").map { case d: Double => d; case l: Long => l.toDouble; case _ => 0.0 }.getOrElse(0.0)))
                  rest = remaining.trim
                }
                (200, """{"text":"Success","code":0}""")
              } catch { case e: Throwable => (400, s"""{"text":"${e.getMessage}","code":6}""") }
            val rb = resp.getBytes(UTF_8)
            x.getResponseHeaders.add("Content-Type", "application/json")
            x.sendResponseHeaders(status, rb.length)
            x.getResponseBody.write(rb); x.close()
          })
        server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
          (r: Runnable) => { val th = new Thread(r); th.setDaemon(true); th }))
        val starter = new Thread(() => server.start())
        starter.setDaemon(true); starter.start(); starter.join()
        this
      }
      def stop(): Unit = if (server != null) server.stop(0)

      /** split one JSON object off the front of a concatenated stream */
      private def firstJson(s: String): (String, String) = {
        var depth = 0; var i = 0; var inStr = false
        while (i < s.length) {
          val c = s.charAt(i)
          if (inStr) { if (c == '\\') i += 1 else if (c == '"') inStr = false }
          else c match {
            case '"' => inStr = true
            case '{' => depth += 1
            case '}' => depth -= 1; if (depth == 0) return (s.substring(0, i + 1), s.substring(i + 1))
            case _ => ()
          }
          i += 1
        }
        throw new IllegalArgumentException("unterminated JSON")
      }
    }

    final class Client(endpoint: String, token: String) extends AutoCloseable {
      private val http = new Aws.Http
      /** batch of events in one POST — output_splunk's batching shape */
      def send(events: Seq[VectorMap[String, Any]]): Unit = {
        val body = events.map(Json.render).mkString
        val r = http.request("POST", s"$endpoint/services/collector/event",
          Seq("authorization" -> s"Splunk $token", "content-type" -> "application/json"),
          body.getBytes(UTF_8))
        require(r.status == 200, s"HEC: ${r.status} ${r.bodyStr}")
      }
      override def close(): Unit = http.close()
    }
  }

  // ======================================================= datadog logs
  /** datadog_logs output (impl/datadog/output_datadog_logs.go:34-415 —
    * the reference wraps the datadog-api-client SubmitLog call): the
    * PUBLIC HTTP logs-intake v2 surface — POST /api/v2/logs with a
    * DD-API-KEY header, a JSON array of HTTPLogItem objects ({message,
    * ddsource, ddtags, hostname, service} plus additional `status` and
    * epoch-ms `timestamp` properties), Content-Encoding gzip (default)
    * / deflate / identity, 202 on accept. Batch limits documented by
    * the API (≤1000 logs, ≤5 MB payload) are enforced by the fixture. */
  object Datadog {
    final case class LogItem(message: String, ddsource: String, ddtags: String,
                             hostname: String, service: String, status: String,
                             timestampMs: Long)

    private def gzip(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(b); gz.close(); bos.toByteArray
    }
    private def gunzip(b: Array[Byte]): Array[Byte] =
      new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b)).readAllBytes()
    private def inflate(b: Array[Byte]): Array[Byte] =
      new java.util.zip.InflaterInputStream(new java.io.ByteArrayInputStream(b)).readAllBytes()

    final class MiniDatadogLogs(apiKey: String) {
      private val logBuf = new java.util.concurrent.ConcurrentLinkedQueue[LogItem]()
      @volatile private var server: com.sun.net.httpserver.HttpServer = _
      def port: Int = server.getAddress.getPort
      def endpoint: String = s"http://127.0.0.1:$port"
      def logs: Vector[LogItem] = {
        import scala.jdk.CollectionConverters._
        logBuf.iterator().asScala.toVector
      }
      def start(): this.type = {
        graft.conn.Aws.serverNoDelay()
        server = com.sun.net.httpserver.HttpServer.create(
          new InetSocketAddress("127.0.0.1", 0), 0)
        server.createContext("/api/v2/logs",
          (x: com.sun.net.httpserver.HttpExchange) => {
            val raw = x.getRequestBody.readAllBytes()
            val key = Option(x.getRequestHeaders.getFirst("DD-API-KEY")).getOrElse("")
            val enc = Option(x.getRequestHeaders.getFirst("Content-Encoding")).getOrElse("identity")
            val (status, resp) =
              if (key != apiKey) (403, """{"errors":[{"status":"403","title":"Forbidden"}]}""")
              else if (raw.length > 5 * 1024 * 1024)
                (413, """{"errors":[{"status":"413","title":"Payload Too Large"}]}""")
              else try {
                val body = enc match {
                  case "gzip" => gunzip(raw)
                  case "deflate" => inflate(raw)
                  case _ => raw
                }
                val arr = Json.asArr(Json.parse(new String(body, UTF_8)))
                require(arr.size <= 1000, "too many logs in batch")
                arr.foreach { ix =>
                  val m = Json.asObj(ix)
                  logBuf.add(LogItem(
                    Json.strOpt(m, "message").getOrElse(""),
                    Json.strOpt(m, "ddsource").getOrElse(""),
                    Json.strOpt(m, "ddtags").getOrElse(""),
                    Json.strOpt(m, "hostname").getOrElse(""),
                    Json.strOpt(m, "service").getOrElse(""),
                    Json.strOpt(m, "status").getOrElse(""),
                    m.get("timestamp") match {
                      case Some(l: Long) => l
                      case Some(d: Double) => d.toLong
                      case _ => 0L
                    }))
                }
                (202, "{}")
              } catch { case e: Throwable =>
                (400, s"""{"errors":[{"status":"400","title":"${e.getMessage}"}]}""")
              }
            val rb = resp.getBytes(UTF_8)
            x.getResponseHeaders.add("Content-Type", "application/json")
            x.sendResponseHeaders(status, rb.length)
            x.getResponseBody.write(rb); x.close()
          })
        server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
          (r: Runnable) => { val th = new Thread(r); th.setDaemon(true); th }))
        val starter = new Thread(() => server.start())
        starter.setDaemon(true); starter.start(); starter.join()
        this
      }
      def stop(): Unit = if (server != null) server.stop(0)
    }

    final class Client(endpoint: String, apiKey: String,
                       contentEncoding: String = "gzip") extends AutoCloseable {
      private val http = new Aws.Http
      /** one SubmitLog call per batch (WriteBatch ships the whole batch
        * as a single JSON array) */
      def submit(items: Seq[LogItem]): Unit = {
        val arr: Vector[Any] = items.toVector.map { it =>
          var m = Json.obj("message" -> it.message)
          if (it.ddsource.nonEmpty) m = m.updated("ddsource", it.ddsource)
          if (it.ddtags.nonEmpty) m = m.updated("ddtags", it.ddtags)
          if (it.hostname.nonEmpty) m = m.updated("hostname", it.hostname)
          if (it.service.nonEmpty) m = m.updated("service", it.service)
          if (it.status.nonEmpty) m = m.updated("status", it.status)
          if (it.timestampMs != 0) m = m.updated("timestamp", it.timestampMs)
          m: Any
        }
        val plain = Json.render(arr).getBytes(UTF_8)
        val (body, encHeaders) = contentEncoding match {
          case "gzip" => (gzip(plain), Seq("content-encoding" -> "gzip"))
          case "deflate" =>
            val d = new java.util.zip.Deflater()
            val bos = new java.io.ByteArrayOutputStream()
            val ds = new java.util.zip.DeflaterOutputStream(bos, d)
            ds.write(plain); ds.close()
            (bos.toByteArray, Seq("content-encoding" -> "deflate"))
          case _ => (plain, Nil)
        }
        val r = http.request("POST", s"$endpoint/api/v2/logs",
          Seq("dd-api-key" -> apiKey, "content-type" -> "application/json") ++ encHeaders, body)
        require(r.status == 202, s"datadog_logs: ${r.status} ${r.bodyStr}")
      }
      override def close(): Unit = http.close()
    }
  }

  // ========================================================== prometheus
  /** prometheus metrics target (impl/prometheus/metrics.go): the engine
    * EXPOSES the text exposition format on /metrics and a scraper pulls
    * it — the inverse flow of the push sinks. Registry semantics follow
    * the public client-library contract: counters monotone, gauges
    * set-or-add, labeled children keyed by sorted label pairs; the
    * exposition renderer emits `# TYPE` headers and escaped label
    * values, and the scraper parses them back. */
  object Prometheus {
    final case class Sample(name: String, labels: Map[String, String], value: Double)

    final class Registry {
      private val counterMap = new CTrieMap[(String, Seq[(String, String)]), Double]()
      private val gaugeMap = new CTrieMap[(String, Seq[(String, String)]), Double]()

      private def key(name: String, labels: Map[String, String]) =
        (name, labels.toSeq.sortBy(_._1))
      def incCounter(name: String, by: Double = 1, labels: Map[String, String] = Map.empty): Unit =
        counterMap.updateWith(key(name, labels)) { case Some(v) => Some(v + by); case None => Some(by) }
      def setGauge(name: String, v: Double, labels: Map[String, String] = Map.empty): Unit =
        gaugeMap.put(key(name, labels), v)

      private def escapeLabel(v: String): String =
        v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
      private def fmtValue(v: Double): String =
        if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

      /** the text exposition format (# TYPE headers, sorted families) */
      def exposition: String = {
        val sb = new StringBuilder
        def render(m: CTrieMap[(String, Seq[(String, String)]), Double], tpe: String): Unit =
          m.readOnlySnapshot().toSeq.groupBy(_._1._1).toSeq.sortBy(_._1).foreach {
            case (name, series) =>
              sb.append(s"# TYPE $name $tpe\n")
              series.sortBy(_._1._2.toString).foreach { case ((_, labels), v) =>
                val ls = if (labels.isEmpty) ""
                  else labels.map { case (k, lv) => s"""$k="${escapeLabel(lv)}"""" }.mkString("{", ",", "}")
                sb.append(s"$name$ls ${fmtValue(v)}\n")
              }
          }
        render(counterMap, "counter")
        render(gaugeMap, "gauge")
        sb.toString
      }

      // ---- timing metrics (metrics_json_api.go timers; statsd "ms")
      private val timerMap = new CTrieMap[(String, Seq[(String, String)]), Vector[Double]]()
      def observeTiming(name: String, seconds: Double,
                        labels: Map[String, String] = Map.empty): Unit =
        timerMap.updateWith(key(name, labels)) {
          case Some(v) => Some(v :+ seconds); case None => Some(Vector(seconds))
        }

      private def labelSuffix(labels: Seq[(String, String)]): String =
        if (labels.isEmpty) ""
        else labels.map { case (k, v) => s"""$k="${escapeLabel(v)}"""" }.mkString("{", ",", "}")

      /** flat snapshot keyed `name{labels}`: counters/gauges → value,
        * timers → sorted sample vector */
      def snapshot: (Map[String, Double], Map[String, Vector[Double]]) = {
        val scalars = (counterMap.readOnlySnapshot() ++ gaugeMap.readOnlySnapshot())
          .map { case ((n, ls), v) => s"$n${labelSuffix(ls)}" -> v }.toMap
        val timers = timerMap.readOnlySnapshot()
          .map { case ((n, ls), v) => s"$n${labelSuffix(ls)}" -> v.sorted }.toMap
        (scalars, timers)
      }

      /** `flush_metrics: true` semantics (metrics_logger.go) */
      def reset(): Unit = { counterMap.clear(); timerMap.clear() }
    }

    /** json_api metrics exporter (impl/io/metrics_json_api.go:14-72):
      * serves the registry as ONE flat JSON object on both `/stats` and
      * `/metrics` — counters and gauges as numbers, timers as
      * {p50,p90,p99} percentile objects (nearest-rank on the sorted
      * samples, the go-metrics convention). */
    object JsonApi {
      def render(reg: Registry): String = {
        val (scalars, timers) = reg.snapshot
        // nearest-rank: the smallest sample with cumulative frequency
        // >= q, i.e. index ceil(q*n) - 1 (NOT (q*n).toInt, which is off
        // by one whenever q*n is whole — p99 of 100 samples is the 99th
        // sample, not the max)
        def pct(sorted: Vector[Double], q: Double): Double =
          if (sorted.isEmpty) 0.0
          else sorted(math.max(0, math.ceil(q * sorted.size).toInt - 1))
        val entries: Seq[(String, Any)] =
          scalars.toSeq.map { case (k, v) => k -> (v: Any) } ++
          timers.toSeq.map { case (k, v) =>
            k -> (Json.obj("p50" -> pct(v, 0.5), "p90" -> pct(v, 0.9),
              "p99" -> pct(v, 0.99)): Any)
          }
        Json.render(VectorMap(entries.sortBy(_._1): _*))
      }

      final class Endpoint(registry: Registry) {
        @volatile private var server: com.sun.net.httpserver.HttpServer = _
        def port: Int = server.getAddress.getPort
        def url: String = s"http://127.0.0.1:$port/stats"
        def start(): this.type = {
          graft.conn.Aws.serverNoDelay()
          server = com.sun.net.httpserver.HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
          val handler = (x: com.sun.net.httpserver.HttpExchange) => {
            val b = render(registry).getBytes(UTF_8)
            x.getResponseHeaders.add("Content-Type", "application/json")
            x.sendResponseHeaders(200, b.length)
            x.getResponseBody.write(b); x.close()
          }
          server.createContext("/stats", handler(_))
          server.createContext("/metrics", handler(_))
          server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4,
            (r: Runnable) => { val th = new Thread(r); th.setDaemon(true); th }))
          val starter = new Thread(() => server.start())
          starter.setDaemon(true); starter.start(); starter.join()
          this
        }
        def stop(): Unit = if (server != null) server.stop(0)
      }
    }

    /** logger metrics exporter (impl/pure/metrics_logger.go:22-60):
      * each metric becomes one log line, printed on shutdown and
      * optionally on an interval; `flush_metrics` resets counters and
      * timers after each print. Here the log sink is injectable (the
      * engine's logger in production, a buffer in specs). */
    object LoggerMetrics {
      def lines(reg: Registry): Seq[String] = {
        val (scalars, timers) = reg.snapshot
        val fmt = (v: Double) =>
          if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
        (scalars.toSeq.map { case (k, v) => s"metric=$k value=${fmt(v)}" } ++
          timers.toSeq.map { case (k, v) => s"metric=$k samples=${v.size}" }).sorted
      }
      def flush(reg: Registry, sink: String => Unit, flushMetrics: Boolean = false): Unit = {
        lines(reg).foreach(sink)
        if (flushMetrics) reg.reset()
      }
    }

    /** serve /metrics for scrapes */
    final class Endpoint(registry: Registry) {
      @volatile private var server: com.sun.net.httpserver.HttpServer = _
      def port: Int = server.getAddress.getPort
      def url: String = s"http://127.0.0.1:$port/metrics"
      def start(): this.type = {
        graft.conn.Aws.serverNoDelay()
        server = com.sun.net.httpserver.HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
        server.createContext("/metrics", (x: com.sun.net.httpserver.HttpExchange) => {
          val b = registry.exposition.getBytes(UTF_8)
          x.getResponseHeaders.add("Content-Type", "text/plain; version=0.0.4")
          x.sendResponseHeaders(200, b.length)
          x.getResponseBody.write(b); x.close()
        })
        server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4,
          (r: Runnable) => { val th = new Thread(r); th.setDaemon(true); th }))
        val starter = new Thread(() => server.start())
        starter.setDaemon(true); starter.start(); starter.join()
        this
      }
      def stop(): Unit = if (server != null) server.stop(0)
    }

    /** scrape + parse the exposition text back into samples */
    def scrape(url: String): Seq[Sample] = {
      val http = new Aws.Http
      try {
        val r = http.request("GET", url, Nil, Array.emptyByteArray)
        require(r.status == 200, s"scrape: ${r.status}")
        r.bodyStr.split('\n').toSeq.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
          val sp = l.lastIndexOf(' ')
          val (id, v) = (l.substring(0, sp), l.substring(sp + 1).toDouble)
          val brace = id.indexOf('{')
          if (brace < 0) Sample(id, Map.empty, v)
          else {
            val labelRe = """(\w+)="((?:\\.|[^"\\])*)"""".r
            val labels = labelRe.findAllMatchIn(id.substring(brace + 1, id.length - 1)).map { m =>
              m.group(1) -> m.group(2)
                .replace("\\n", "\n").replace("\\\"", "\"").replace("\\\\", "\\")
            }.toMap
            Sample(id.substring(0, brace), labels, v)
          }
        }
      } finally http.close()
    }
  }

  // ================================================================ loki
  object Loki {
    final case class Entry(labels: Map[String, String], tsNs: Long, line: String)

    final class MiniLoki {
      private val entryBuf = new java.util.concurrent.ConcurrentLinkedQueue[Entry]()
      @volatile private var server: com.sun.net.httpserver.HttpServer = _
      def port: Int = server.getAddress.getPort
      def endpoint: String = s"http://127.0.0.1:$port"
      def entries: Vector[Entry] = {
        import scala.jdk.CollectionConverters._
        entryBuf.iterator().asScala.toVector
      }
      def start(): this.type = {
        graft.conn.Aws.serverNoDelay()
        server = com.sun.net.httpserver.HttpServer.create(
          new InetSocketAddress("127.0.0.1", 0), 0)
        server.createContext("/loki/api/v1/push",
          (x: com.sun.net.httpserver.HttpExchange) => {
            val (status, resp) = try {
              val m = Json.asObj(Json.parse(new String(x.getRequestBody.readAllBytes(), UTF_8)))
              Json.asArr(m("streams")).foreach { sRaw =>
                val s = Json.asObj(sRaw)
                // labels arrive as {"stream": {k: v}} (the JSON push shape)
                val labels = Json.asObj(s("stream")).map { case (k, v) => k -> v.toString }.toMap
                Json.asArr(s("values")).foreach { vRaw =>
                  val pair = Json.asArr(vRaw)
                  entryBuf.add(Entry(labels, pair(0).asInstanceOf[String].toLong,
                    pair(1).asInstanceOf[String]))
                }
              }
              (204, "")
            } catch { case e: Throwable => (400, String.valueOf(e.getMessage)) }
            val rb = resp.getBytes(UTF_8)
            x.sendResponseHeaders(status, if (rb.isEmpty) -1 else rb.length)
            if (rb.nonEmpty) x.getResponseBody.write(rb)
            x.close()
          })
        server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
          (r: Runnable) => { val th = new Thread(r); th.setDaemon(true); th }))
        val starter = new Thread(() => server.start())
        starter.setDaemon(true); starter.start(); starter.join()
        this
      }
      def stop(): Unit = if (server != null) server.stop(0)
    }

    final class Client(endpoint: String) extends AutoCloseable {
      private val http = new Aws.Http
      /** one stream per distinct label set, values [[ns, line]] */
      def push(entries: Seq[Entry]): Unit = {
        val streams = entries.groupBy(_.labels).toVector.map { case (labels, es) =>
          Json.obj(
            "stream" -> VectorMap(labels.toSeq.sortBy(_._1).map { case (k, v) => k -> (v: Any) }: _*),
            "values" -> es.toVector.map(e => Vector[Any](e.tsNs.toString, e.line): Any)): Any
        }
        val r = http.request("POST", s"$endpoint/loki/api/v1/push",
          Seq("content-type" -> "application/json"),
          Json.render(Json.obj("streams" -> streams)).getBytes(UTF_8))
        require(r.status == 204, s"loki push: ${r.status} ${r.bodyStr}")
      }
      override def close(): Unit = http.close()
    }
  }
}
