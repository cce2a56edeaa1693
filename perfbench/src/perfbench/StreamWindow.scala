package perfbench

import graft.streaming.{Stateful, Windows}
import java.io.File
import java.time.Instant
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import StreamWindow.{Batch, Ev}

/** `stream_window`: keyed event-time state through the micro-batch
  * lifecycle.
  *
  * file source → `Stateful.dedupeWithinWatermark(event_id)` →
  * `Windows.windowedAgg` (update mode, `max(created_ms)` carried as an
  * aggregate) → `foreachBatch` sink, default trigger.
  *
  * Two phases. Paced (open loop): files are written on a fixed schedule
  * at a constant offered rate whatever the engine does, and every emitted
  * window row yields one latency sample, sink receive time minus the due
  * time of the newest event in it; it lasts `--seconds`. Drain (closed
  * loop): the same query over a fixed backlog, run three times back to back;
  * its throughput is `records_per_s`.
  * Final aggregates of both phases are recomputed in plain Scala.
  *
  * Input placement makes the checks independent of batch timing:
  *  - disorder (< 2 s) plus redelivery lag (< 1 s) stays under the 5 s
  *    watermark delay, so no on-time event or duplicate is ever late and
  *    dedupe state outlives every redelivery;
  *  - too-late events sit 10 minutes behind and never land in a query's
  *    first two batches: a batch drops late rows by the watermark of the
  *    batch before it, and that one is set only once a batch has run. */
final class StreamWindow extends Workload {
  def name = "stream_window"

  /** Offered rate of the paced phase, events/s: about half the drain
    * throughput (8k–11k events/s) measured at local[4]. */
  private val OfferedRate = 4500
  /** Fewer latency samples than this make the paced phase a failure. */
  private val MinLatencySamples = 1000
  private val PeriodMs = 100 // one input file per period
  private val DrainFiles = 16
  private val DrainEventsPerFile = 2500
  private val DrainMaxFiles = 4 // files per drain micro-batch
  // Traffic mix: unsourced assumptions (README, "Traffic parameters and
  // their sources"), chosen to exercise each case the checks plant.
  private val Keys = 400
  private val Zipf = 1.1
  private val DisorderShare = 0.2
  private val DisorderMaxMs = 2000
  private val LateShare = 0.002
  private val LateMs = 600000L
  private val DupShare = 0.05
  private val DelayStr = "5 seconds"
  private val WindowMs = 2000L

  private val schema = "event_id STRING, key STRING, value LONG, event_ms LONG, created_ms LONG"

  private var seed = 0L
  private var inDir: File = _
  private var drainEvents: Seq[Ev] = Nil
  private var drainRef: Map[(Long, String), (Long, Long)] = Map.empty
  private var drainLate = 0L
  private var realized: Seq[(String, Double)] = Nil

  private lazy val zipfCdf: Array[Double] = {
    val w = (1 to Keys).map(k => 1.0 / math.pow(k, Zipf))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** Events of one file: `n` fresh events (some out of order, a few far
    * too late) due at `created`, plus redeliveries of earlier events. */
  private final class EventSource(rnd: scala.util.Random, prefix: String) {
    private var next = 0L
    private val pending = mutable.PriorityQueue.empty[(Int, Ev)](Ordering.by[(Int, Ev), Int](-_._1))
    var fresh, late, disordered, dups = 0L
    def file(k: Int, n: Int, created: Long, lateAllowed: Boolean, lagFiles: Int): Seq[Ev] = {
      val out = mutable.ArrayBuffer.empty[Ev]
      while (pending.nonEmpty && pending.head._1 <= k) { out += pending.dequeue()._2; dups += 1 }
      for (_ <- 0 until n) {
        next += 1
        val u = rnd.nextDouble()
        val hit = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
        val key = "k" + (if (hit >= 0) hit else -hit - 1)
        val isLate = lateAllowed && u < LateShare
        val eventMs =
          if (isLate) created - LateMs - rnd.nextInt(1000)
          else if (u < LateShare + DisorderShare) { disordered += 1; created - 1 - rnd.nextInt(DisorderMaxMs - 1) }
          else created
        val e = Ev(s"$prefix$next", key, 1 + rnd.nextInt(100), eventMs, created, isLate)
        out += e
        fresh += 1
        if (isLate) late += 1
        else if (rnd.nextDouble() < DupShare) pending.enqueue((k + 1 + rnd.nextInt(lagFiles), e))
      }
      out.toSeq
    }
    /** Every redelivery still pending. */
    def drain(): Seq[Ev] = {
      val out = mutable.ArrayBuffer.empty[Ev]
      while (pending.nonEmpty) { out += pending.dequeue()._2; dups += 1 }
      out.toSeq
    }
  }

  /** Final window aggregates the sink must end with: dedupe by id, drop the
    * too-late events, count and sum per (window start, key). */
  private def reference(evs: Seq[Ev]): Map[(Long, String), (Long, Long)] = {
    val seen = mutable.HashSet.empty[String]
    val agg = mutable.HashMap.empty[(Long, String), (Long, Long)]
    for (e <- evs if !e.late && seen.add(e.id)) {
      val w = Math.floorDiv(e.eventMs, WindowMs) * WindowMs
      val (n, s) = agg.getOrElse((w, e.key), (0L, 0L))
      agg((w, e.key)) = (n + 1, s + e.value)
    }
    agg.toMap
  }

  def generate(dir: File, seed: Long): Unit = {
    this.seed = seed
    inDir = dir
    val rnd = new scala.util.Random(seed)
    val src = new EventSource(rnd, "d")
    val base = 1600000000000L + rnd.nextInt(1000000) * 1000L
    val drainDir = new File(dir, "drain")
    drainDir.mkdirs()
    val mtime0 = System.currentTimeMillis() - 3600000L
    val all = mutable.ArrayBuffer.empty[Ev]
    for (k <- 0 until DrainFiles) {
      // event time advances 250 ms per file; redeliveries lag <= 2 files
      val evs = src.file(k, DrainEventsPerFile, base + k * 250L, lateAllowed = k >= 2 * DrainMaxFiles, 2) ++
        (if (k == DrainFiles - 1) src.drain() else Nil)
      all ++= evs
      Fs.writeAtomic(drainDir, f"f$k%04d.json", evs.map(_.line).mkString("", "\n", "\n"), mtime0 + k * 1000L)
    }
    drainEvents = all.toSeq
    drainRef = reference(drainEvents)
    drainLate = src.late
    realized = Seq(
      "offered_rate_per_s" -> OfferedRate.toDouble, "keys" -> Keys.toDouble, "key_zipf_s" -> Zipf,
      "top_key_share" -> all.count(_.key == "k0") / all.size.toDouble,
      "out_of_order_share" -> src.disordered / src.fresh.toDouble,
      "too_late_share" -> src.late / src.fresh.toDouble,
      "dup_share" -> src.dups / all.size.toDouble,
      "drain_records" -> all.size.toDouble)
  }

  def dims: Seq[(String, Double)] = realized

  // ---- the query ------------------------------------------------------------

  /** Rows received by the sink: (window start, key) → (n, total,
    * max created), with the receive time of each row. */
  private final class Sink {
    val last = mutable.HashMap.empty[(Long, String), (Long, Long)]
    val latencies = mutable.ArrayBuffer.empty[Double]
    /** Rows whose newest event is due before this are not sampled. */
    @volatile var sampleFrom = Long.MaxValue
    def apply(df: DataFrame): Unit = {
      val rows = df.select(unix_millis(col("win.start")), col("key"), col("n"), col("total"),
        col("max_created")).collect()
      val recv = System.currentTimeMillis()
      synchronized {
        rows.foreach { r =>
          last((r.getLong(0), r.getString(1))) = (r.getLong(2), r.getLong(3))
          if (r.getLong(4) >= sampleFrom) latencies += (recv - r.getLong(4)).toDouble
        }
      }
    }
  }

  private def start(spark: SparkSession, dir: File, ck: File, sink: Sink, maxFiles: Option[Int],
                    trigger: Trigger): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    val src = maxFiles.fold(reader)(m => reader.option("maxFilesPerTrigger", m.toLong)).json(dir.getPath)
      .withColumn("event_ts", timestamp_millis(col("event_ms")))
    val deduped = Stateful.dedupeWithinWatermark(src, "event_ts", DelayStr, Seq("event_id"))
    val agg = Windows.windowedAgg(deduped, "event_ts", s"$WindowMs milliseconds", Seq(col("key")),
      Seq(count(lit(1)).as("n"), sum("value").as("total"), max("created_ms").as("max_created")))
    agg.writeStream.outputMode("update").trigger(trigger)
      .option("checkpointLocation", ck.getPath)
      .foreachBatch((df: DataFrame, _: Long) => sink(df))
      .start()
  }

  /** Check the sink against the reference and the dropped-late count
    * against the planted one. */
  private def check(sink: Sink, ref: Map[(Long, String), (Long, Long)], late: Long,
                    progress: Seq[StreamingQueryProgress]): Option[String] = {
    val dropped = progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    if (dropped != late) return Some(s"watermark dropped $dropped rows, planted $late")
    if (sink.last.size != ref.size) return Some(s"${sink.last.size} window rows, expected ${ref.size}")
    ref.find { case (k, v) => !sink.last.get(k).contains(v) }.map { case (k, v) =>
      s"window $k: ${sink.last.get(k)} != $v"
    }
  }

  private var lastSink: Sink = _
  private var lastRef: Map[(Long, String), (Long, Long)] = Map.empty
  private var lastLate = 0L
  private var lastProgress: Seq[StreamingQueryProgress] = Nil

  /** Run a query until `body` decides it is done, recording its micro-
    * batches as spans when traced. */
  private def runQuery(env: Env, dir: File, maxFiles: Option[Int], trigger: Trigger)
                      (body: (StreamingQuery, Sink) => Unit): (Sink, Seq[StreamingQueryProgress]) = {
    val tr = env.tracer
    val sink = new Sink
    var progress: Seq[StreamingQueryProgress] = Nil
    tr.span("streaming.query") {
      val holder = tr.current
      val q = tr.span("streaming.query_start")(start(env.spark, dir, env.scratch("ck"), sink, maxFiles, trigger))
      try body(q, sink)
      finally {
        tr.span("streaming.query_stop")(q.stop())
        progress = q.recentProgress.toSeq
      }
      q.exception.foreach(e => throw e)
      if (tr.active) recordBatches(tr, holder, progress)
    }
    (sink, progress)
  }

  def iteration(env: Env): Iter = {
    val t0 = System.nanoTime()
    val (sink, progress) = runQuery(env, new File(inDir, "drain"), Some(DrainMaxFiles), Trigger.AvailableNow()) {
      (q, _) => q.awaitTermination()
    }
    val verdict = env.tracer.span("bench.check")(check(sink, drainRef, drainLate, progress))
    val wall = (System.nanoTime() - t0) / 1e6
    remember(sink, drainRef, drainLate, progress)
    verdict.foreach(v => System.err.println(s"perfbench: stream_window drain check failed: $v"))
    Iter(drainEvents.size, wall, verdict.isEmpty)
  }

  private def remember(s: Sink, r: Map[(Long, String), (Long, Long)], late: Long,
                       p: Seq[StreamingQueryProgress]): Unit = {
    lastSink = s; lastRef = r; lastLate = late; lastProgress = p
  }

  /** Paced (open-loop) phase; returns the iteration and its latencies. */
  private def paced(env: Env, seconds: Double): (Iter, Seq[Double]) = {
    val dir = env.scratch("paced")
    val rnd = new scala.util.Random(seed * 31 + 7)
    val src = new EventSource(rnd, "p")
    val perFile = (OfferedRate * PeriodMs / 1000.0).round.toInt
    val nFiles = (seconds * 1000 / PeriodMs).toInt
    val all = mutable.ArrayBuffer.empty[Ev]
    val writeLag = mutable.ArrayBuffer.empty[Double]
    val written = mutable.ArrayBuffer.empty[(Long, Long)] // (written at, cumulative events)
    // two prime files, each taken by its own batch, before the schedule
    // starts: from then on every batch drops rows behind the watermark
    def prime(k: Int): Unit = {
      val evs = src.file(k, perFile, System.currentTimeMillis(), lateAllowed = false, 1)
      all ++= evs
      Fs.writeAtomic(dir, s"p$k.json", evs.map(_.line).mkString("", "\n", "\n"))
    }
    def awaitBatches(q: StreamingQuery, n: Int): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (q.recentProgress.count(_.numInputRows > 0) < n && q.exception.isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
    }
    prime(-2)
    val t0 = System.nanoTime()
    val (sink, progress) = runQuery(env, dir, None, Trigger.ProcessingTime(0)) { (q, sink) =>
      awaitBatches(q, 1)
      prime(-1)
      awaitBatches(q, 2)
      val start = System.currentTimeMillis() + PeriodMs
      sink.sampleFrom = start
      for (k <- 0 until nFiles) {
        val due = start + k * PeriodMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val evs = src.file(k, perFile, due, lateAllowed = true, 1000 / PeriodMs) ++
          (if (k == nFiles - 1) src.drain() else Nil)
        all ++= evs
        Fs.writeAtomic(dir, f"f$k%05d.json", evs.map(_.line).mkString("", "\n", "\n"))
        val now = System.currentTimeMillis()
        writeLag += (now - due).toDouble
        written += ((now, all.size.toLong))
      }
      q.processAllAvailable()
    }
    val ref = reference(all.toSeq)
    val verdict = env.tracer.span("bench.check")(check(sink, ref, src.late, progress)).orElse(
      Option.when(sink.latencies.size < MinLatencySamples)(s"only ${sink.latencies.size} latency samples"))
    val wall = (System.nanoTime() - t0) / 1e6
    remember(sink, ref, src.late, progress)
    genLate = writeLag.toSeq
    genRecords = all.size
    backlogMax = backlog(progress, written.toSeq)
    verdict.foreach(v => System.err.println(s"perfbench: stream_window paced check failed: $v"))
    (Iter(all.size, wall, verdict.isEmpty), sink.latencies.toSeq)
  }

  private var genLate: Seq[Double] = Nil
  private var genRecords = 0L
  private var backlogMax = 0.0

  /** Most files written but not yet taken by a batch, at any batch start. */
  private def backlog(progress: Seq[StreamingQueryProgress], written: Seq[(Long, Long)]): Double = {
    var processed = 0L
    var worst = 0
    for (p <- progress) {
      val t = Instant.parse(p.timestamp).toEpochMilli
      val filesWritten = written.count(_._1 <= t)
      val filesDone = written.count(_._2 <= processed)
      worst = math.max(worst, filesWritten - filesDone)
      processed += p.numInputRows
    }
    worst.toDouble
  }

  override def measure(env: Env, seconds: Int, traced: Int => Boolean, minIters: Int): Measured = {
    var lat: Seq[Double] = Nil
    // the paced phase is traced whenever the run is; drains follow the
    // caller's order
    val pacedIter = Runner.iterate(env, 0, (0 until minIters).exists(traced)) {
      val (it, l) = paced(env, seconds)
      lat = l
      it
    }
    val cpu0 = Proc.cpuMs
    val drains = mutable.ArrayBuffer.empty[(Iter, Boolean)]
    for (j <- 0 until minIters) {
      val t = traced(j)
      drains += ((Runner.iterate(env, j + 1, t)(iteration(env)), t))
    }
    val cpuMs = Proc.cpuMs - cpu0
    Measured(drains.toSeq, lat, "emitted window rows", Seq(pacedIter), cpuMs,
      drains.map(_._1.records).sum.toDouble)
  }

  /** The drain backlog as a batch read, with the stream's schema. */
  def scanInput(env: Env): DataFrame = env.spark.read.schema(schema).json(new File(inDir, "drain").getPath)

  override def negativeControlFlagged(): Boolean = {
    val bad = new Sink
    bad.last ++= lastSink.last
    val (k, (n, s)) = bad.last.head
    bad.last(k) = (n + 1, s)
    check(bad, lastRef, lastLate, lastProgress).isDefined
  }

  // ---- traced run -------------------------------------------------------------

  private val batches = mutable.ArrayBuffer.empty[Batch]
  private val PhaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** One span per micro-batch under the query span; its `durationMs`
    * phases are laid out as children in execution order. */
  private def recordBatches(tr: Tracer, holder: Int, progress: Seq[StreamingQueryProgress]): Unit =
    for (p <- progress) {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      val s = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val trig = d.getOrElse("triggerExecution", 0.0)
      val id = tr.record("streaming.batch", s, s + trig, holder)
      var at = s
      for (ph <- PhaseOrder; ms <- d.get(ph)) {
        tr.record(s"streaming.$ph", at, at + ms, id)
        at += ms
      }
      batches += Batch(s, trig, d, p)
    }

  override def layerMetrics(env: Env): Seq[(String, Double)] = {
    val l = Main.listener.get
    val n = env.tracer.iterations.size.toDouble
    val tasks = l.tasks.filter(_.iter >= 0)
    def mean(f: Batch => Double) = if (batches.isEmpty) 0.0 else batches.map(f).sum / batches.size
    def ph(k: String)(b: Batch) = b.phases.getOrElse(k, 0.0)
    def ops(b: Batch) = b.p.stateOperators.toSeq
    // share of each trigger with no task running, over all traced batches
    val covered = batches.map { b =>
      val iv = tasks.map(t => (math.max(t.launch, b.start), math.min(t.finish, b.start + b.trigger)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var (sum, end) = (0.0, Double.MinValue)
      for ((a, z) <- iv) { val lo = math.max(a, end); if (z > lo) sum += z - lo; end = math.max(end, z) }
      sum
    }.sum
    val trig = batches.map(_.trigger)
    Seq(
      "streaming.batches" -> batches.size / n,
      "streaming.trigger_ms_p50" -> (if (trig.isEmpty) 0.0 else Stats.quantile(trig.toSeq, 0.5)),
      "streaming.trigger_ms_p99" -> (if (trig.isEmpty) 0.0 else Stats.quantile(trig.toSeq, 0.99)),
      "streaming.add_batch_ms" -> mean(ph("addBatch")),
      "streaming.query_planning_ms" -> mean(ph("queryPlanning")),
      "streaming.wal_commit_ms" -> mean(ph("walCommit")),
      "streaming.commit_offsets_ms" -> mean(ph("commitOffsets")),
      "streaming.latest_offset_ms" -> mean(ph("latestOffset")),
      "streaming.get_batch_ms" -> mean(ph("getBatch")),
      "streaming.nontask_frac" -> (if (trig.sum > 0) 1 - covered / trig.sum else 0.0),
      "streaming.state_rows" -> batches.map(b => ops(b).map(_.numRowsTotal).sum.toDouble).maxOption.getOrElse(0.0),
      "streaming.state_mem_bytes" -> batches.map(b => ops(b).map(_.memoryUsedBytes).sum.toDouble).maxOption.getOrElse(0.0),
      "streaming.state_commit_ms" -> mean(b => ops(b).map(_.commitTimeMs).sum.toDouble),
      "streaming.state_update_ms" -> mean(b => ops(b).map(_.allUpdatesTimeMs).sum.toDouble),
      "streaming.state_removal_ms" -> mean(b => ops(b).map(_.allRemovalsTimeMs).sum.toDouble),
      "streaming.watermark_dropped_rows" -> batches.map(b => ops(b).map(_.numRowsDroppedByWatermark).sum).sum / n,
      "streaming.dup_dropped_rows" -> batches.map(b => ops(b).map(o =>
        Option(o.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum).sum / n,
      "streaming.backlog_files_max" -> backlogMax,
      "gen.records" -> genRecords.toDouble,
      "gen.late_ms_p99" -> (if (genLate.isEmpty) 0.0 else Stats.quantile(genLate, 0.99)),
      "gen.late_ms_max" -> genLate.maxOption.getOrElse(0.0))
  }
}

object StreamWindow {
  /** One generated event; `created` is the due time of its file. */
  final case class Ev(id: String, key: String, value: Long, eventMs: Long, created: Long, late: Boolean) {
    def line: String =
      s"""{"event_id":"$id","key":"$key","value":$value,"event_ms":$eventMs,"created_ms":$created}"""
  }

  /** One traced micro-batch: start, trigger time and `durationMs` phases. */
  final case class Batch(start: Double, trigger: Double, phases: Map[String, Double],
                         p: StreamingQueryProgress)
}
