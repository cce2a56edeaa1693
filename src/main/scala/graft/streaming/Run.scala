package graft.streaming

import java.nio.file.{Files, Path}

import graft.core.{Tables, TempDir}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one place a checkpointed stream starts and stops — bento's
  * ack/transaction contract (transaction.go:20-38) as Spark checkpoints.
  * It owns the decisions every streaming gate used to copy:
  *
  *  - the split fixture: [[writeSplitDir]] writes it, [[readSplits]]
  *    reads it one logical split per micro-batch, and [[splitCount]]
  *    counts those batches from the SAME per-trigger width, so the
  *    reader's `maxFilesPerTrigger` and the drain rule cannot disagree;
  *  - the checkpoint and split-input dirs, all on [[graft.core.TempDir]]'s
  *    single tree-deleting exit hook (a split's staging dir lives inside
  *    it and goes as soon as its files have moved);
  *  - the sink ([[Sink]]), started under a unique query name;
  *  - the trigger-and-stop rule ([[run]]).
  *
  * A stream's state width is a property of its own session
  * ([[session]]), never of the caller's. */
object Run {

  /** Where a stream's rows go. */
  sealed trait Sink
  object Sink {
    /** Rows collect on the driver; read them back with
      * `session.table(query.name)`. */
    final case class Memory(outputMode: String = "append") extends Sink
    /** `f(batch, batchId)` runs once per micro-batch on the driver. */
    final case class Batches(f: (DataFrame, Long) => Unit) extends Sink
    /** A data-source sink by format: `parquet` into `path`, or `noop`
      * (rows are dropped, but still counted in the sink progress). */
    final case class Files(format: String, path: Option[String] = None,
                           partitionBy: Seq[String] = Nil) extends Sink
  }

  private val queryIds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A fresh session for one stream, its stateful exchange `stateWidth`
    * partitions wide. Streaming state is sized to the STATE volume: a
    * few keys get 8 partitions (each one costs a task and a state commit
    * per micro-batch), a per-digest or per-bucket state gets the full
    * scheduler width. The width is fixed into the checkpoint at the first
    * batch, so it is set before the query starts and never on the
    * caller's session. */
  def session(s: SparkSession, stateWidth: Int): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", stateWidth.toString)
    ss
  }

  /** Write each (df, name) as `filesPerPart` parquet files in a fresh dir
    * with strictly increasing modTimes — the file source orders by
    * modTime, so the Seq order IS the micro-batch order. Names carry the
    * logical split as the prefix before the first `_` (`0_docs.parquet`).
    *
    * filesPerPart > 1 is the scan-parallelism lever for heavy-payload
    * fixtures: one file per micro-batch means ONE scan split, so the
    * whole batch's parquet decode runs on a single core and the payload
    * bytes must then be repartition-shuffled just to spread the per-row
    * decode work. Sharding the part lets the scan itself fan out and the
    * payload never shuffles. */
  def writeSplitDir(prefix: String, parts: Seq[(DataFrame, String)],
                    filesPerPart: Int = 1): Path = {
    val d = TempDir(prefix)
    parts.zipWithIndex.foreach { case ((part, name), i) =>
      val staging = Files.createDirectory(d.resolve(s"_stage$i"))
      (if (filesPerPart == 1) part.coalesce(1) else part.repartition(filesPerPart))
        .write.mode("overwrite").parquet(staging.toString)
      val fs = staging.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      require(fs.nonEmpty, "no parquet part written")
      fs.zipWithIndex.foreach { case (f, j) =>
        val destName =
          if (filesPerPart == 1) name
          else name.stripSuffix(".parquet") + f"_p$j%03d.parquet"
        val dest = d.resolve(destName).toFile
        Files.move(f.toPath, dest.toPath)
        // file source orders by modTime — this IS the micro-batch order, so
        // a silently-failed setLastModified (fs-dependent) would reorder
        // batches and produce wrong-but-plausible streaming results; files
        // of one part get distinct ascending stamps so listings stay stable
        require(dest.setLastModified((i + 1) * 1000000000L + j * 1000L),
          s"setLastModified failed for $destName — micro-batch ordering would break")
      }
      TempDir.deleteTree(staging)
    }
    d
  }

  private def dataFiles(inDir: Path): Array[String] =
    inDir.toFile.list().filter(_.endsWith(".parquet")).sorted

  /** Files in one logical split (those sharing the first file's split
    * prefix): the reader's `maxFilesPerTrigger`. */
  private def splitWidth(inDir: Path): Int = {
    val files = dataFiles(inDir)
    val split = files.head.takeWhile(_ != '_') + "_"
    files.count(_.startsWith(split))
  }

  /** Data micro-batches [[readSplits]] yields over `inDir`, the
    * `expectBatches` of [[drainAndStop]]. Counted from the ACTUAL listing
    * (ceil(files / width)), not the split prefixes: if a logical split
    * ever shards into fewer files than the first one (empty partitions at
    * tiny scale), the file source needs an extra batch for the remainder,
    * and a prefix count would stop the drain early and silently drop that
    * batch's rows. The file source hands out up to width files per batch
    * in modTime order regardless of prefix, so this count is exact. */
  def splitCount(inDir: Path): Int = {
    val width = splitWidth(inDir)
    (dataFiles(inDir).length + width - 1) / width
  }

  /** The split fixture as a stream, one logical split per micro-batch.
    * A one-file split is one scan split, so with `spread` its rows are
    * round-robined over the scheduler before the per-row work (the
    * one-file-input lesson). A plan whose first step is already an
    * exchange (a keyed aggregate or dedupe, a sink that repartitions by
    * key) passes `spread = false`: a second exchange only adds a stage
    * per batch. A sharded split already scans in parallel, and its
    * payload bytes are decoded in place instead of crossing an exchange. */
  def readSplits(ss: SparkSession, inDir: Path, spread: Boolean = true): DataFrame = {
    val width = splitWidth(inDir)
    val schema = ss.read.parquet(inDir.resolve(dataFiles(inDir).head).toString).schema
    val stream = ss.readStream.schema(schema).option("maxFilesPerTrigger", width)
      .parquet(inDir.toString)
    if (spread && width == 1) stream.repartition(Tables.fanout(ss)) else stream
  }

  /** Start `df` into `sink` under `trigger`, checkpointed at
    * `checkpoint`. The one `writeStream` in `src/main`. */
  def start(name: String, df: DataFrame, sink: Sink, trigger: Trigger,
            checkpoint: String): StreamingQuery = {
    val w = df.writeStream.queryName(s"${name}_${queryIds.incrementAndGet()}")
      .option("checkpointLocation", checkpoint).trigger(trigger)
    sink match {
      case Sink.Memory(mode) => w.format("memory").outputMode(mode).start()
      case Sink.Batches(f) => w.foreachBatch(f).start()
      case Sink.Files(format, path, by) =>
        path.fold(w)(p => w.option("path", p)).format(format).partitionBy(by: _*).start()
    }
  }

  /** Run `df` into `sink` on a fresh checkpoint until every input row is
    * processed; returns the stopped query.
    *
    * The default is `AvailableNow` + `awaitTermination`. A plan whose
    * state times out on processing time (an eviction horizon) passes its
    * split fixture as `paced`: under `ProcessingTimeTimeout` the engine
    * schedules no-data batches forever (`shouldRunAnotherBatch` is
    * unconditionally true, so `noNewData` is never set), so `AvailableNow`
    * never ends and `processAllAvailable` never returns. That plan runs a
    * paced 250 ms trigger — the deployment shape anyway, timeouts fire in
    * the no-data batches between arrivals — and stops once the fixture's
    * last data batch commits. 250 ms, not 10: after the last data batch
    * the interval leaves [[drainAndStop]]'s 25 ms poll a window to stop
    * the query before a no-data batch launches (each one replays the whole
    * plan against the state store for nothing new); data batches run
    * longer than the interval, so pacing adds no latency. */
  def run(name: String, df: DataFrame, sink: Sink,
          paced: Option[Path] = None): StreamingQuery = {
    val ckpt = TempDir(s"${name}_ckpt").toString
    paced match {
      case None =>
        val q = start(name, df, sink, Trigger.AvailableNow(), ckpt)
        q.awaitTermination()
        q
      case Some(inDir) =>
        val q = start(name, df, sink, Trigger.ProcessingTime(250L), ckpt)
        drainAndStop(q, expectBatches = Some(splitCount(inDir)))
        q
    }
  }

  /** Stop a continuously-triggered file-stream query once its input is
    * drained. A file source hands out every available file before ever
    * running an empty batch, so "a no-data micro-batch ran after at
    * least one data batch" == "all input processed".
    *
    * With `expectBatches` the caller knows how many micro-batches the
    * file fixture yields, so the drain is detectable the moment the last
    * DATA batch commits (its endOffset logOffset == n-1) — no trailing
    * no-data batch needs to run or be waited for. Every hasTimedOut
    * branch in the repo's stateful ops emits nothing (eviction only
    * removes state), so stopping there is output-identical. Specs that
    * need a timeout to actually FIRE keep the progress-based rule. */
  def drainAndStop(q: StreamingQuery, stopAfterDrain: Boolean = true,
                   expectBatches: Option[Int] = None): Unit = {
    val timeoutMs = 300000L
    val t0 = System.nanoTime()
    def lastLogOffset: Option[Long] = for {
      p <- q.recentProgress.lastOption
      s <- p.sources.headOption
      e <- Option(s.endOffset)
    } yield "\"?logOffset\"?\\s*:\\s*(\\d+)".r.findFirstMatchIn(e) match {
      case Some(m) => m.group(1).toLong
      // fail fast: an endOffset whose format the regex can't read
      // (non-file source, serialization change) would otherwise leave
      // the drain rule spinning to a silent timeout failure
      case None => q.stop(); throw new IllegalStateException(
        s"drainAndStop: cannot parse logOffset from endOffset '$e' of query " +
          s"${q.name} — expectBatches only supports the file source's offset format")
    }
    def drained: Boolean = expectBatches match {
      case Some(n) => lastLogOffset.exists(_ >= n - 1L)
      case None =>
        val ps = q.recentProgress
        ps.exists(_.numInputRows > 0) && ps.nonEmpty && ps.last.numInputRows == 0
    }
    while (!drained) {
      if (q.exception.isDefined) { q.stop(); throw q.exception.get }
      require((System.nanoTime() - t0) / 1e6 < timeoutMs,
        s"drainAndStop: query ${q.name} not drained after $timeoutMs ms")
      Thread.sleep(25)
    }
    if (stopAfterDrain) {
      q.stop()
      q.awaitTermination()
    }
  }
}
