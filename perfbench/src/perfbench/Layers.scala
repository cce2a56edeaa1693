package perfbench

import java.io.File
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Turns the traced run's spans and listener records into per-layer
  * metrics, the span file and the per-layer table. */
object Layers {
  /** Module layers of the program, plus the engine and the benchmark. */
  val Names = Seq("conn", "blob", "operators", "streaming", "ml", "engine", "bench")

  /** Every per-layer metric of the result line, in order (BENCHMARK.json
    * lists the same names). A layer that does no work on a workload
    * reports 0 there. */
  val Reported: Seq[String] = Names.map(n => s"self.${n}_ms") ++ Seq(
    "bench.span_sum_frac", "bench.span_clipped_ms", "bench.trace_overhead_frac",
    "conn.config_load_ms", "conn.scan_ms", "conn.scan_bytes", "conn.write_ms",
    "conn.write_bytes", "conn.write_records",
    "blob.parse_ms", "blob.frame_ms", "blob.stages_compiled", "blob.stages_interpreted",
    "blob.interp_ns_per_msg",
    "operators.rows_in", "operators.mapping_rows_out", "operators.switch_rows_out",
    "operators.rows_out", "operators.dedupe_kept_frac", "operators.errored_rows",
    "streaming.batches", "streaming.trigger_ms_p50", "streaming.trigger_ms_p99",
    "streaming.add_batch_ms", "streaming.query_planning_ms", "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms", "streaming.latest_offset_ms", "streaming.get_batch_ms",
    "streaming.nontask_frac", "streaming.state_rows", "streaming.state_mem_bytes",
    "streaming.state_commit_ms", "streaming.state_update_ms", "streaming.state_removal_ms",
    "streaming.watermark_dropped_rows", "streaming.dup_dropped_rows",
    "streaming.backlog_files_max", "streaming.query_start_ms", "streaming.query_stop_ms",
    "ml.pairs_ms", "ml.candidate_pairs", "ml.verified_pairs", "ml.verify_yield", "ml.cc_ms",
    "ml.cc_rounds", "ml.quality_ms", "ml.planted_recall",
    "engine.analysis_ms", "engine.optimizer_ms", "engine.planning_ms",
    "engine.codegen_compile_ms", "engine.jobs", "engine.stages", "engine.tasks",
    "engine.task_wait_ms", "engine.task_run_ms", "engine.task_cpu_ms", "engine.gc_ms",
    "engine.busy_frac", "engine.shuffle_write_bytes", "engine.shuffle_read_bytes",
    "engine.shuffle_write_ms", "engine.shuffle_fetch_wait_ms", "engine.spill_bytes",
    "engine.task_skew", "engine.failed_tasks", "engine.parallel_speedup",
    "gen.records", "gen.late_ms_p99", "gen.late_ms_max")

  /** Attach listener jobs and stages as spans of the traced iterations:
    * a job under the innermost span that contains its start, a stage under
    * its job. */
  private def attach(tr: Tracer, l: EngineListener): Unit = {
    for (iter <- tr.iterations.keys) {
      val own = tr.spans.filter(_.iter == iter).toSeq
      val depth = depths(own)
      for (j <- l.jobs if j.iter == iter && j.end >= 0) {
        val holder = own.filter(s => s.start <= j.start && s.end >= j.start)
          .maxByOption(s => depth(s.id)).map(_.id).getOrElse(-1)
        val jid = tr.record("engine.job", j.start, j.end, holder, iter)
        val ids = j.stageIds.toSet
        for (st <- l.stages if ids(st.stageId) && st.iter == iter)
          tr.record("engine.stage", st.submit, st.end, jid, iter)
      }
    }
  }

  private def depths(sp: Seq[Span]): Map[Int, Int] = {
    val byId = sp.map(s => s.id -> s).toMap
    def d(id: Int): Int = byId.get(id).map(s => 1 + d(s.parent)).getOrElse(0)
    sp.map(s => s.id -> d(s.id)).toMap
  }

  /** Self time of every span of one iteration: at each instant the time
    * goes to the innermost spans open then (a span minus what its children
    * cover; children running at once share the instant). Children are
    * clipped to their parent, so the self times add up to the root's wall
    * time; the clipped part is returned separately as a named gap. */
  def selfTimes(sp: Seq[Span]): (Map[Int, Double], Double) = {
    val kids = sp.groupBy(_.parent)
    val root = sp.find(_.name == "bench.iteration").get
    val clipped = mutable.LinkedHashMap.empty[Int, (Double, Double)]
    var lost = 0.0
    def clip(s: Span, lo: Double, hi: Double): Unit = {
      val a = math.max(s.start, lo)
      val b = math.max(a, math.min(s.end, hi))
      lost += s.dur - (b - a)
      clipped(s.id) = (a, b)
      kids.getOrElse(s.id, Nil).foreach(clip(_, a, b))
    }
    clip(root, root.start, root.end)
    val kidIds = kids.map { case (p, ks) => p -> ks.map(_.id) }
    val bounds = clipped.values.flatMap(p => Seq(p._1, p._2)).toSeq.distinct.sorted
    val self = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    for ((a, b) <- bounds.zip(bounds.tail)) {
      val open = clipped.collect { case (id, (s, e)) if s <= a && e >= b => id }.toSet
      val leaves = open.filterNot(id => kidIds.getOrElse(id, Nil).exists(open))
      leaves.foreach(id => self(id) += (b - a) / leaves.size)
    }
    (self.toMap, lost)
  }

  def compute(tr: Tracer, l: EngineListener, cores: Int): Seq[(String, Double)] = l.synchronized {
    attach(tr, l)
    val n = tr.iterations.size.toDouble
    val wall = tr.iterations.values.map { case (s, e) => e - s }.sum
    val out = mutable.LinkedHashMap.empty[String, Double]

    // self time per layer, per traced iteration
    val selfByLayer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var clippedMs = 0.0
    var worstSum = 1.0
    for (iter <- tr.iterations.keys) {
      val sp = tr.spans.filter(_.iter == iter).toSeq
      val (self, lost) = selfTimes(sp)
      val byId = sp.map(s => s.id -> s).toMap
      self.foreach { case (id, t) => selfByLayer(byId(id).layer) += t }
      clippedMs += lost
      val (s, e) = tr.iterations(iter)
      val sum = self.values.sum / (e - s)
      if (math.abs(sum - 1) > math.abs(worstSum - 1)) worstSum = sum
    }
    Names.foreach(k => out(s"self.${k}_ms") = selfByLayer(k) / n)
    out("bench.span_sum_frac") = worstSum
    out("bench.span_clipped_ms") = clippedMs / n

    // engine: jobs, stages, tasks and SQL actions of the traced iterations
    val jobs = l.jobs.filter(_.iter >= 0)
    val stages = l.stages.filter(_.iter >= 0)
    val tasks = l.tasks.filter(_.iter >= 0)
    val submit = l.stages.map(s => s.stageId -> s.submit).toMap
    val qes = l.qes.filter(_.iter >= 0)
    def per(x: Double) = x / n
    out("engine.analysis_ms") = per(qes.map(_.analysisMs).sum)
    out("engine.optimizer_ms") = per(qes.map(_.optimizerMs).sum)
    out("engine.planning_ms") = per(qes.map(_.planningMs).sum)
    out("engine.codegen_compile_ms") = per(tr.counts.getOrElse("engine.codegen_compile_ms", 0.0))
    out("engine.jobs") = per(jobs.size)
    out("engine.stages") = per(stages.size)
    out("engine.tasks") = per(tasks.size)
    out("engine.task_wait_ms") = per(tasks.map(t =>
      math.max(0.0, t.launch - submit.getOrElse(t.stageId, t.launch))).sum)
    out("engine.task_run_ms") = per(tasks.map(_.runMs).sum)
    out("engine.task_cpu_ms") = per(tasks.map(_.cpuMs).sum)
    out("engine.gc_ms") = per(tasks.map(_.gcMs).sum)
    out("engine.busy_frac") = tasks.map(_.runMs).sum / (wall * cores)
    out("engine.shuffle_write_bytes") = per(tasks.map(_.shWriteBytes).sum)
    out("engine.shuffle_read_bytes") = per(tasks.map(_.shReadBytes).sum)
    out("engine.shuffle_write_ms") = per(tasks.map(_.shWriteMs).sum)
    out("engine.shuffle_fetch_wait_ms") = per(tasks.map(_.fetchWaitMs).sum)
    out("engine.spill_bytes") = per(tasks.map(_.spillBytes).sum)
    val slowest = stages.maxByOption(s => s.end - s.submit)
    out("engine.task_skew") = slowest.map { s =>
      val d = tasks.filter(_.stageId == s.stageId).map(t => t.finish - t.launch).toSeq
      if (d.isEmpty || Stats.median(d) <= 0) 1.0 else d.max / Stats.median(d)
    }.getOrElse(1.0)
    out("engine.failed_tasks") = per(tasks.count(_.failed))

    // conn: write-node SQL metrics, task input bytes and the call spans
    // (conn.scan_ms is a separate scan-only job, see Main)
    def spanMs(name: String) = per(tr.spans.filter(_.name == name).map(_.dur).sum)
    out("conn.config_load_ms") = spanMs("conn.config_load")
    // bytes read from files by tasks: also covers streaming micro-batches,
    // whose sink plans hide the scan node behind an RDD
    out("conn.scan_bytes") = per(tasks.map(_.inputBytes).sum)
    out("conn.write_ms") = spanMs("conn.write")
    out("conn.write_bytes") = per(qes.map(_.writeBytes).sum)
    out("conn.write_records") = per(qes.map(_.writeRecords).sum)
    out("blob.frame_ms") = spanMs("blob.frame")
    out("ml.pairs_ms") = spanMs("ml.pairs")
    out("ml.cc_ms") = spanMs("ml.cc")
    out("ml.quality_ms") = spanMs("ml.quality")
    out("streaming.query_start_ms") = spanMs("streaming.query_start")
    out("streaming.query_stop_ms") = spanMs("streaming.query_stop")
    tr.counts.foreach { case (k, v) => if (!out.contains(k)) out(k) = per(v) }
    out.toSeq
  }

  def unit(name: String): String =
    if (name.endsWith("_ms") || name.contains("_ms_")) "ms"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("_frac") || name.endsWith("_yield") || name.endsWith("_recall") ||
      name.endsWith("speedup") || name.endsWith("_skew")) "ratio"
    else if (name.endsWith("_ns_per_msg")) "ns"
    else "count"

  /** Span file (JSON, one object per span) and the per-layer table. */
  def write(dir: File, tag: String, tr: Tracer, metrics: Seq[(String, Double)]): Unit = {
    val spans = tr.spans.map(s => ListMap("id" -> s.id, "name" -> s.name, "start_ms" -> s.start,
      "end_ms" -> s.end, "parent" -> s.parent, "iter" -> s.iter))
    Fs.write(new File(dir, s"$tag.spans.json"), Json.write(spans) + "\n")
    val rows = metrics.map { case (k, v) => f"$k%-36s ${v.toString}%22s  ${unit(k)}" }
    Fs.write(new File(dir, s"$tag.layers.txt"), rows.mkString("", "\n", "\n"))
  }
}
