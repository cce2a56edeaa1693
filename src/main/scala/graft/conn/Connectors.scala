package graft.conn

import graft.core.Msg
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, StreamingQuery, Trigger}

/** Source connectors (SURVEY §2.5). Files/object stores map 1:1 onto
  * Spark's file sources (batch + streaming share the same code path);
  * message buses map onto `readStream.format(...)` connectors.
  */
object Sources {

  /** `file` input with a scanner (SURVEY §2.7): each scanner is a read
    * option set / post-transform over Spark's text/csv/json sources —
    * byte-stream framing is the data source's job in Spark, not a
    * hand-rolled reader loop. */
  def lines(spark: SparkSession, path: String): DataFrame =
    spark.read.textFile(path).toDF("content")

  /** `csv` scanner (scanner_csv.go): header + typed columns. */
  def csv(spark: SparkSession, path: String, header: Boolean = true,
          delimiter: String = ","): DataFrame =
    spark.read.option("header", header).option("delimiter", delimiter)
      .option("inferSchema", true).csv(path)

  /** `json_documents` scanner (scanner_json.go): one JSON doc per message,
    * including multi-line documents. */
  def jsonDocuments(spark: SparkSession, path: String, multiLine: Boolean = false): DataFrame =
    spark.read.option("multiLine", multiLine).json(path)

  /** `chunker` scanner (scanner_chunker.go): fixed-size chunks of the raw
    * file bytes. wholetext=true frames the file, the split is columnar.
    * DOTALL so chunk boundaries cross newlines; note textFile UTF-8-decodes,
    * so byte-exact chunking of binary files needs binaryFile instead. */
  def chunker(spark: SparkSession, path: String, size: Int): DataFrame =
    spark.read.option("wholetext", true).textFile(path).toDF("whole")
      .select(posexplode(split(col("whole"), s"(?s)(?<=\\G.{$size})")).as(Seq("chunk_idx", "content")))
      .filter(length(col("content")) > 0)

  /** Byte-exact `chunker` (scanner_chunker.go slices raw bytes, not decoded
    * characters): binaryFile frame + a columnar byte-slice explode. Route
    * binary / non-ASCII workloads here; the text variant above stays for
    * ASCII logs where downstream ops want strings. */
  def chunkerBytes(spark: SparkSession, path: String, size: Int): DataFrame =
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .select(col("path"),
        posexplode(expr(
          s"transform(sequence(0, int(ceil(length(content) / $size.0)) - 1), " +
          s"i -> substring(content, i * $size + 1, $size))")).as(Seq("chunk_idx", "content")))
      .filter(length(col("content")) > 0)

  /** `file_tail` input (tail -f shape): a text file-stream source that
    * picks up files appearing under `path`, paced by maxFilesPerTrigger
    * (the streaming analogue of following a growing log directory). */
  def fileTail(spark: SparkSession, path: String, maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(path).withColumnRenamed("value", "content")

  /** `skip_bom` scanner (scanner_skip_bom.go). */
  def skipBom(df: DataFrame, col_ : String = "content"): DataFrame =
    df.withColumn(col_, regexp_replace(col(col_), "^\\uFEFF", ""))

  /** `to_the_end` scanner (scanner_to_the_end.go): the whole byte stream
    * as one message per file. */
  def toTheEnd(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", true).textFile(path).toDF("content")

  /** `re_match` scanner (scanner_regexp.go): a new message starts at every
    * match of the pattern (the match belongs to the message it opens).
    * Framing via zero-width lookahead split keeps the delimiters. */
  def reMatch(spark: SparkSession, path: String, pattern: String): DataFrame =
    spark.read.option("wholetext", true).textFile(path).toDF("whole")
      .select(posexplode(split(col("whole"), s"(?=$pattern)")).as(Seq("msg_idx", "content")))
      .filter(length(col("content")) > 0)

  /** `decompress` scanner (scanner_decompress.go): binaryFile frame +
    * codec UDF, then downstream scanners split the inflated text. */
  def decompress(spark: SparkSession, path: String, codec: String = "gzip"): DataFrame = {
    val inflate = codec match {
      case "gzip" => udf(graft.functions.Udfs.gzipDecompress)
      case "zstd" => udf(graft.functions.Codecs.zstdDecompress)
      case "lz4" => udf(graft.functions.Codecs.lz4Decompress)
      case "snappy" => udf(graft.functions.Codecs.snappyDecompress)
      case "flate" => udf(graft.functions.Codecs.flateDecompress)
      case other => throw new IllegalArgumentException(s"decompress scanner: $other")
    }
    spark.read.format("binaryFile").load(path)
      .select(col("path"), inflate(col("content")).cast("string").as("content"))
  }

  /** `xml_documents` scanner (scanner_xml_documents.go flavor): one row per
    * top-level `<tag>` element. */
  def xmlDocuments(spark: SparkSession, path: String, tag: String): DataFrame =
    spark.read.option("wholetext", true).textFile(path).toDF("whole")
      .select(explode(expr(
        s"""regexp_extract_all(whole, '(?s)<$tag[\\\\s>].*?</$tag>', 0)""")).as("content"))

  /** `avro` scanner (scanner_avro.go): Avro Object Container Files →
    * one JSON document per record. binaryFile frames the file; the OCF
    * blocks (header, codec, sync markers) are decoded per partition with
    * the file's own embedded writer schema. */
  def avroScanner(spark: SparkSession, path: String): DataFrame = {
    val read = udf { (bytes: Array[Byte]) =>
      val in = new org.apache.avro.file.SeekableByteArrayInput(bytes)
      val reader = new org.apache.avro.file.DataFileReader(
        in, new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
      try {
        val out = Vector.newBuilder[String]
        while (reader.hasNext) out += reader.next().toString // Avro JSON encoding
        out.result()
      } finally reader.close()
    }
    spark.read.format("binaryFile").load(path)
      .select(explode(read(col("content"))).as("content"))
  }

  /** `switch` scanner (scanner_switch.go): route each FILE to a scanner by
    * a predicate over its path — resolved at plan time per glob, unioned. */
  def switchScanner(spark: SparkSession,
                    cases: Seq[(String, SparkSession => DataFrame)]): DataFrame =
    cases.map { case (_, build) => build(spark) }.reduce(_ unionByName _)

  /** `file` streaming input (file_tail flavor): new files under `path`
    * stream through the same transforms as the batch read. */
  def fileStream(spark: SparkSession, path: String, schemaDdl: String,
                 format: String = "json", maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream.schema(schemaDdl)
      .option("maxFilesPerTrigger", maxFilesPerTrigger) // batch-policy knob (SURVEY §2.8)
      .format(format).load(path)

  /** `generate` input (input_generate.go:28): rate source + mapping. */
  def generate(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond).load()

  /** `kafka`/`kafka_franz` input (impl/kafka/): full option wiring for
    * Spark's kafka connector. NOTE: requires the spark-sql-kafka connector
    * jar on the cluster classpath (not bundled in this build environment —
    * the reader is configured here, `.load()` resolves the provider at
    * runtime). Value lands in the Msg envelope: content=CAST(value AS
    * STRING), meta carries topic/partition/offset — the reference's
    * metadata contract for kafka inputs. */
  def kafkaReader(spark: SparkSession, bootstrapServers: String, topics: String,
                  startingOffsets: String = "latest",
                  maxOffsetsPerTrigger: Option[Long] = None): DataStreamReader = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topics)
      .option("startingOffsets", startingOffsets)
    maxOffsetsPerTrigger.fold(r)(n => r.option("maxOffsetsPerTrigger", n))
  }

  /** `sequence.sharded_join` (impl/pure/input_sequence.go:27-60,193-239):
    * merge N datasets on an id with a collision strategy for overlapping
    * columns — the reference shards to bound memory; Spark's sort-merge
    * join + spill makes sharding implicit. Strategies on a column present
    * in several inputs: "replace" (last input wins), "keep" (first input
    * wins), "array" (collect all non-null values). */
  def sequenceShardedJoin(inputs: Seq[DataFrame], key: String,
                          strategy: String = "replace"): DataFrame = {
    require(inputs.nonEmpty, "sharded_join: no inputs")
    val tagged = inputs.zipWithIndex.map { case (df, i) =>
      df.select(col(key).cast("string").as("_sj_key") +:
        df.columns.filter(_ != key).map(c => col(c).as(s"${c}__$i")): _*)
    }
    val joined = tagged.reduce((a, b) => a.join(b, Seq("_sj_key"), "full_outer"))
    val byBase = inputs.zipWithIndex
      .flatMap { case (df, i) => df.columns.filter(_ != key).map(c => (c, s"${c}__$i")) }
      .groupBy(_._1)
    val merged = byBase.toSeq.sortBy(_._1).map { case (base, variants) =>
      val cols = variants.map(v => col(v._2))
      strategy match {
        case "replace" => coalesce(cols.reverse: _*).as(base)
        case "keep" => coalesce(cols: _*).as(base)
        case "array" =>
          filter(array(cols: _*), c => c.isNotNull).as(base)
        case other => throw new IllegalArgumentException(s"sharded_join: strategy $other")
      }
    }
    joined.select(col("_sj_key").as(key) +: merged: _*)
  }

  /** `read_until` (input_read_until.go:35): consume rows in `orderCol`
    * order until the predicate first fires. The triggering row IS delivered
    * (the reference sends the message that tripped the check before
    * closing) — inclusive bound. Batch form: one scalar min over the
    * matching rows — no global sort of the data. */
  def readUntil(df: DataFrame, orderCol: String, stop: org.apache.spark.sql.Column): DataFrame = {
    val bound = df.filter(stop).agg(min(col(orderCol))).head()
    if (bound.isNullAt(0)) df else df.filter(col(orderCol) <= bound.get(0))
  }

  /** Kafka record frame → Msg envelope columns (apply after .load()). */
  def kafkaToEnvelope(df: DataFrame): DataFrame =
    df.select(
      col("value").cast("string").as(Msg.ContentCol),
      map(
        lit("kafka_topic"), col("topic").cast("string"),
        lit("kafka_partition"), col("partition").cast("string"),
        lit("kafka_offset"), col("offset").cast("string")).as(Msg.MetaCol),
      lit(null).cast("string").as(Msg.ErrorCol),
      col("offset").as(Msg.SeqCol))
}

/** Output routing combinators (SURVEY §2.6; reference: internal/impl/pure/
  * output_broker.go:24, output_switch.go:36, output_fallback.go:22,
  * output_retry.go:30). All are `foreachBatch` strategies: the micro-batch
  * DataFrame fans into N writes, each write itself a full Spark job — the
  * parallel/sequential/conditional semantics live in the driver-side
  * routing, the data movement stays distributed.
  */
object Outputs {

  type Sink = DataFrame => Unit

  /** `broker` fan_out: every sink gets every batch. The batch is persisted
    * once so N sinks don't recompute the upstream plan N times. */
  def fanOut(sinks: Seq[Sink]): (DataFrame, Long) => Unit = { (df, _) =>
    val cached = df.persist()
    try { cached.count(); sinks.foreach(_(cached)) }
    finally cached.unpersist(false)
  }

  /** `broker` fan_out_sequential: stop at the first failing sink. */
  def fanOutSequential(sinks: Seq[Sink]): (DataFrame, Long) => Unit = fanOut(sinks)

  /** `broker` round_robin: batch i goes to sink i % N. */
  def roundRobin(sinks: Seq[Sink]): (DataFrame, Long) => Unit =
    (df, batchId) => sinks((batchId % sinks.length).toInt)(df)

  /** output `switch`: first matching case takes the row; strict=false
    * drops unmatched rows, else they go to `default`. One persist, N
    * filtered writes — rows are routed, not duplicated. */
  def switch(cases: Seq[(org.apache.spark.sql.Column, Sink)],
             default: Option[Sink] = None): (DataFrame, Long) => Unit = { (df, _) =>
    val cached = df.persist()
    try {
      cached.count()
      val (_, anyPrev) = cases.foldLeft((0, lit(false))) { case ((i, prev), (cond, sink)) =>
        sink(cached.filter(coalesce(cond, lit(false)) && !prev))
        (i + 1, prev || coalesce(cond, lit(false)))
      }
      default.foreach(_(cached.filter(!anyPrev)))
    } finally cached.unpersist(false)
  }

  /** output `fallback`: try sinks in order until one succeeds. */
  def fallback(sinks: Seq[Sink]): (DataFrame, Long) => Unit = { (df, _) =>
    val errors = Seq.newBuilder[Throwable]
    val ok = sinks.exists { sink =>
      try { sink(df); true }
      catch { case scala.util.control.NonFatal(e) => errors += e; false }
    }
    if (!ok) {
      val e = new RuntimeException(s"fallback: all ${sinks.length} sinks failed")
      errors.result().foreach(e.addSuppressed)
      throw e
    }
  }

  /** output `retry` with bounded exponential backoff. */
  def retrySink(sink: Sink, maxAttempts: Int = 3, backoffMs: Long = 100): Sink = { df =>
    var attempt = 1
    var done = false
    while (!done) {
      try { sink(df); done = true }
      catch {
        case scala.util.control.NonFatal(e) =>
          if (attempt >= maxAttempts) throw e
          Thread.sleep(backoffMs * (1L << (attempt - 1)))
          attempt += 1
      }
    }
  }

  /** `reject_errored` DLQ route: ok rows to `main`, errored rows to `dlq`
    * (output_reject_errored.go). */
  def withDlq(main: Sink, dlq: Sink): (DataFrame, Long) => Unit = { (df, _) =>
    val cached = df.persist()
    try { cached.count(); main(cached.filter(Msg.ok)); dlq(cached.filter(Msg.errored)) }
    finally cached.unpersist(false)
  }

  /** Start a streaming query writing through a foreachBatch router with a
    * checkpoint — the at-least-once/exactly-once seam (SURVEY §2.8:
    * Transaction/acks → checkpointing), on [[graft.streaming.Run.start]]. */
  def start(df: DataFrame, router: (DataFrame, Long) => Unit, checkpoint: String,
            trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    graft.streaming.Run.start("outputs", df, graft.streaming.Run.Sink.Batches(router),
      trigger, checkpoint)
}
