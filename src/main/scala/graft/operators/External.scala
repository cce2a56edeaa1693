package graft.operators

import graft.conn.Outputs
import graft.core.Processor
import org.apache.spark.sql.{DataFrame, Encoder, Observation, Row}
import org.apache.spark.sql.functions._

/** Observability + external-call operator patterns (SURVEY §2.4: `log`,
  * `metric`, `http`, `command`, `sql_select` per-message lookups).
  */
object External {

  /** `metric` processor (processor_metric.go:32): emit aggregate metrics
    * from the flowing data WITHOUT a second scan — Spark's `observe` API
    * attaches accumulator-backed metrics to the existing plan; read them
    * from the Observation after the action completes. */
  def metric(obs: Observation, exprs: org.apache.spark.sql.Column*): Processor =
    Processor("metric")(df => df.observe(obs, exprs.head, exprs.tail: _*))

  /** `log` processor (processor_log.go:28): sampled row logging via
    * foreachPartition side-channel would break plan purity; instead count
    * matches observably and log the aggregate driver-side. `sample` rows
    * are tagged for downstream sinks to log. */
  def logSample(markCol: String, cond: org.apache.spark.sql.Column, sampleRate: Double = 0.001): Processor =
    Processor("log")(df => df.withColumn(markCol, cond && rand(7L) < sampleRate))

  /** The generic per-message external-call pattern behind `http`,
    * `command`, `sql_select`, redis/mongo lookups (impl/io/processor_http.
    * go:16, impl/sql/processor_sql_select.go:25): mapPartitions with a
    * per-partition client lifecycle — ONE client per partition, not per
    * row; rows stream through the open client; close on exhaustion.
    * At 100 TB this is the only viable shape for side-effectful
    * enrichment: connection count scales with partitions, not rows.
    *
    * `init` runs executor-side per partition; `call` maps one row;
    * `close` releases the client even when downstream aborts early.
    */
  def perPartitionLookup[C, T: Encoder](df: DataFrame)(
      init: () => C)(call: (C, Row) => T)(close: C => Unit): org.apache.spark.sql.Dataset[T] =
    df.mapPartitions { rows =>
      val client = init()
      var closed = false
      def closeOnce(): Unit = if (!closed) { closed = true; close(client) }
      new Iterator[T] {
        def hasNext: Boolean = {
          val h = rows.hasNext
          if (!h) closeOnce()
          h
        }
        def next(): T =
          try call(client, rows.next())
          catch { case e: Throwable => closeOnce(); throw e }
      }
    }

  /** `sql_select` input / lookup (impl/sql/input_sql_select.go:25-49):
    * scan+projection+filter pushdown config over JDBC — the reference's
    * table/columns/where options map directly onto Spark's JDBC source
    * options (predicate pushdown is free). Requires the JDBC driver jar
    * on the cluster classpath. */
  def jdbcSelect(spark: org.apache.spark.sql.SparkSession, url: String, table: String,
                 columns: Seq[String] = Nil, where: Option[String] = None,
                 partitionColumn: Option[(String, Long, Long, Int)] = None,
                 driver: Option[String] = None): DataFrame = {
    val dbtable = {
      val cols = if (columns.isEmpty) "*" else columns.mkString(", ")
      val w = where.map(" WHERE " + _).getOrElse("")
      s"(SELECT $cols FROM $table$w) AS t"
    }
    val r0 = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", dbtable)
    val r = driver.fold(r0)(d => r0.option("driver", d))
    partitionColumn.fold(r) { case (c, lo, hi, n) =>
      r.option("partitionColumn", c).option("lowerBound", lo)
        .option("upperBound", hi).option("numPartitions", n)
    }.load()
  }

  /** `sql_raw` processor (impl/sql/processor_sql_raw.go:251-318): run an
    * arbitrary parameterized statement per message. `exec_only = true`
    * executes and passes the message through unchanged; otherwise the
    * message content is REPLACED by the result rows as a JSON array of
    * objects (sqlRowsToArray). Args bind `?` placeholders in row order.
    *
    * Spark shape: one JDBC connection + ONE prepared statement per
    * partition (prepare once, bind per row) via perPartitionLookup — the
    * same connections-scale-with-partitions contract as `http`/`redis`.
    */
  def sqlRaw(df: DataFrame, url: String, query: String,
             args: Row => Seq[Any], execOnly: Boolean = false)(
             implicit enc: Encoder[String]): org.apache.spark.sql.Dataset[String] =
    perPartitionLookup(df) { () =>
      val conn = java.sql.DriverManager.getConnection(url)
      (conn, conn.prepareStatement(query))
    } { case ((_, ps), row) =>
      val as = args(row)
      as.iterator.zipWithIndex.foreach { case (a, i) => ps.setObject(i + 1, a) }
      if (execOnly) {
        // exec-and-pass-through (processor_sql_raw.go exec path): the statement
        // runs for its side effect and the message continues UNCHANGED — emit the
        // row as the same JSON-object shape the query path uses, not a lossy join.
        ps.executeUpdate()
        var m = scala.collection.immutable.VectorMap.empty[String, Any]
        row.schema.fieldNames.zipWithIndex.foreach { case (n, i) =>
          m = m.updated(n, row.get(i))
        }
        graft.blob.Interp.marshalJson(m)
      }
      else {
        val rs = ps.executeQuery()
        try {
          val md = rs.getMetaData
          val names = (1 to md.getColumnCount)
            .map(i => md.getColumnLabel(i).toLowerCase)
          val out = Vector.newBuilder[Any]
          while (rs.next()) {
            var m = scala.collection.immutable.VectorMap.empty[String, Any]
            names.zipWithIndex.foreach { case (n, i) =>
              m = m.updated(n, rs.getObject(i + 1) match {
                case null => null
                case x: java.math.BigDecimal => x.doubleValue()
                case x: Number if x.isInstanceOf[java.lang.Integer] ||
                  x.isInstanceOf[java.lang.Short] || x.isInstanceOf[java.lang.Byte] ||
                  x.isInstanceOf[java.lang.Long] => x.longValue()
                case x: java.lang.Number if x.isInstanceOf[java.lang.Float] ||
                  x.isInstanceOf[java.lang.Double] => x.doubleValue()
                case x: String => x
                case x: java.sql.Clob => x.getSubString(1, x.length().toInt)
                case x => x.toString
              })
            }
            out += m
          }
          graft.blob.Interp.marshalJson(out.result())
        } finally rs.close()
      }
    } { case (conn, ps) => ps.close(); conn.close() }

  /** `sql_insert` output: idempotent-append JDBC write per micro-batch. */
  def jdbcInsertSink(url: String, table: String): Outputs.Sink =
    df => df.write.format("jdbc").option("url", url).option("dbtable", table)
      .mode("append").save()

  /** `rate_limit` (processor_rate_limit.go:24) / `sleep` (processor_sleep.
    * go:25). Per-row blocking on executors is only legitimate for pacing
    * EXTERNAL calls (the reference's primary use of both). Two mappings:
    *
    *  1. Ingestion throttling — the scale-correct form for "slow the
    *     pipeline down": `maxOffsetsPerTrigger`/`maxFilesPerTrigger` on
    *     the source + a `ProcessingTime` trigger. See
    *     Sources.kafkaReader/fileStream, and graft.streaming.Run.start
    *     (which Outputs.start calls) for the trigger.
    *  2. A token bucket for client-side API caps inside
    *     `perPartitionLookup` — state is per partition, so divide the
    *     global budget by concurrent partitions (executors × cores /
    *     partition size), exactly how the reference divides a shared
    *     rate-limit resource across pipeline threads.
    */
  final class RateLimiter(permitsPerSec: Double) extends Serializable {
    private val intervalNanos = (1e9 / permitsPerSec).toLong
    @transient private var nextFree = 0L
    /** Block until a permit is available (monotonic clock; first call is
      * free after deserialization on the executor). */
    def acquire(): Unit = {
      val now = System.nanoTime()
      if (nextFree == 0L || now >= nextFree) nextFree = now + intervalNanos
      else {
        val waitNanos = nextFree - now
        nextFree += intervalNanos
        Thread.sleep(waitNanos / 1000000, (waitNanos % 1000000).toInt)
      }
    }
  }

  /** `sleep` processor (processor_sleep.go:25): pause per message, content
    * untouched. Pure pacing — the per-partition RateLimiter at
    * 1000/durationMs permits/sec, so the pause composes with partition
    * parallelism exactly like the reference's pipeline threads (N threads
    * sleep independently). For pipeline-level throttling prefer source
    * triggers (mapping 1 above); this exists for parity with configs that
    * pace mid-pipeline. */
  def sleepRows(df: DataFrame, durationMs: Long): DataFrame = {
    require(durationMs > 0, "sleep: duration must be positive")
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(df.schema)
    val perSec = 1000.0 / durationMs
    df.mapPartitions { rows =>
      val limiter = new RateLimiter(perSec)
      rows.map { r => limiter.acquire(); r }
    }(enc)
  }

  /** External lookup with a per-partition rate cap: the token bucket rides
    * inside the client lifecycle, so throttling composes with connection
    * pooling (one client AND one bucket per partition, not per row). */
  def rateLimitedLookup[C, T: Encoder](df: DataFrame, permitsPerSecPerPartition: Double)(
      init: () => C)(call: (C, Row) => T)(close: C => Unit): org.apache.spark.sql.Dataset[T] =
    perPartitionLookup(df)(() => (init(), new RateLimiter(permitsPerSecPerPartition))) {
      case ((client, limiter), row) => limiter.acquire(); call(client, row)
    } { case (client, _) => close(client) }
}
