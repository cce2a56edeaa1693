package perfbench

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** A benchmark workload: seeded inputs, one closed-loop iteration that
  * ends in a verified result, and a negative control for its check. */
trait Workload {
  def name: String
  /** Write the seeded inputs under `dir`; keep what the checks need. */
  def generate(dir: File, seed: Long): Unit
  /** Traffic dimensions of the generated input, as realized by the seed. */
  def dims: Seq[(String, Double)]
  /** Run one iteration through the program's public entry points and check
    * its output against the independent reference. */
  def iteration(env: Env): Iter
  /** Perturb the last output and return whether the check flags it. */
  def negativeControlFlagged(): Boolean
  /** The measured phase. Closed loop by default: iterations back to back
    * until the time is up, and at least `minIters` of them. */
  def measure(env: Env, seconds: Int, traced: Int => Boolean, minIters: Int): Measured = {
    val out = mutable.ArrayBuffer.empty[(Iter, Boolean)]
    val cpu0 = Proc.cpuMs
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 0
    while (i < minIters || System.nanoTime() < deadline) {
      val t = traced(i)
      out += ((Runner.iterate(env, i, t)(iteration(env)), t))
      i += 1
    }
    Measured(out.toSeq, Nil, "iteration", Nil, Proc.cpuMs - cpu0, out.map(_._1.records).sum.toDouble)
  }
  /** Measured iterations at least, untraced (a traced run makes 4). */
  def minIters: Int = 3
  /** Workload-specific per-layer metrics of the traced run. */
  def layerMetrics(env: Env): Seq[(String, Double)] = Nil
  /** One-off traced measurements outside the iterations. */
  def traceExtras(env: Env): Unit = ()
  /** The workload's input, read as its iteration reads it. */
  def scanInput(env: Env): DataFrame
}

/** The measured phase: the iterations that give `records_per_s` (with
  * whether each was traced); per-result latencies where the workload
  * measures them (else the iteration walls serve); other checked
  * operations; process CPU time over `cpuRecords` input records. */
final case class Measured(iters: Seq[(Iter, Boolean)], latencies: Seq[Double],
                          latencySource: String, other: Seq[Iter],
                          cpuMs: Double, cpuRecords: Double)

object Runner {
  /** Run one iteration; with tracing, under a root span and flushed. A
    * throw is a failed iteration, never a silent pass. */
  def iterate(env: Env, i: Int, traced: Boolean)(body: => Iter): Iter = {
    val tr = env.tracer
    val l = if (traced) Main.listener else None
    l.foreach { x => x.flush(env.spark); x.currentIter = i }
    val t0 = System.nanoTime()
    val cg0 = WholeStageCodegenExec.codeGenTime
    val it = try {
      if (traced) tr.iteration(i)(body) else body
    } catch {
      case e: Exception =>
        System.err.println(s"perfbench: iteration $i failed: $e")
        e.printStackTrace(System.err)
        Iter(0, (System.nanoTime() - t0) / 1e6, ok = false)
    }
    if (traced) {
      tr.counts("engine.codegen_compile_ms") =
        tr.counts.getOrElse("engine.codegen_compile_ms", 0.0) +
          (WholeStageCodegenExec.codeGenTime - cg0) / 1e6
      l.foreach { x => x.flush(env.spark); x.currentIter = -1 }
    }
    it
  }
}

object Main {
  /** Set when the run is traced; read by the iteration runner. */
  var listener: Option[EngineListener] = None

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl: Workload = a("workload") match {
      case "etl_config" => new EtlConfig
      case "stream_window" => new StreamWindow
      case "corpus_dedup" => new CorpusDedup
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val launchMs = a("launch-ms").toLong
    val work = new File(a("work"))
    val traceOut = new File(a("trace-out"))
    val cores = Runtime.getRuntime.availableProcessors

    val g0 = System.nanoTime()
    wl.generate(new File(work, "in"), seed)
    val genMs = (System.nanoTime() - g0) / 1e6

    var attempted = 0L
    var failed = 0L
    def tally(it: Iter): Unit = { attempted += 1; if (!it.ok) failed += 1 }

    // set-up: from process launch (input generation excluded) to a built
    // session with UDFs registered and one warm-up iteration done
    val tracer = new Tracer(traced)
    var env = new Env(Session.build(cores, work), cores, work, tracer)
    tally(Runner.iterate(env, -1, traced = false)(wl.iteration(env)))
    val setupS = (System.currentTimeMillis() - launchMs - genMs) / 1000.0

    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "cores" -> cores, "gen_s" -> genMs / 1000,
      "dims" -> ListMap(wl.dims: _*))

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val m = wl.measure(env, seconds, _ => false, wl.minIters)
        m.iters.foreach(x => tally(x._1))
        m.other.foreach(tally)
        val its = m.iters.map(_._1)
        val records = its.map(_.records).sum.toDouble
        val lat = if (m.latencies.nonEmpty) m.latencies else its.map(_.wallMs)
        val okFrac = 1.0 - failed.toDouble / attempted
        detail ++= Seq(
          "iterations" -> its.size,
          "iteration_ms" -> its.map(_.wallMs),
          "records" -> records,
          "latency_samples" -> lat.size,
          "latency_source" -> m.latencySource,
          "failed_frac" -> failed.toDouble / attempted)
        Seq(
          ("setup_s", setupS, "s"),
          ("records_per_s", Stats.median(its.map(i => i.records / (i.wallMs / 1000))), "rec/s"),
          ("cpu_ms_per_krecord", m.cpuMs / m.cpuRecords * 1000, "ms"),
          ("latency_p50_ms", Stats.quantile(lat, 0.5), "ms"),
          ("latency_p99_ms", Stats.quantile(lat, 0.99), "ms"),
          ("peak_rss_mb", Proc.peakRssMb, "MB"),
          ("success_frac", okFrac, "ratio"))
      } else {
        val l = new EngineListener
        l.register(env.spark)
        listener = Some(l)
        // untraced and traced iterations interleave in one loop, in ABBA
        // order against warm-up drift, so the tracing overhead is a
        // same-JVM comparison
        val m = wl.measure(env, seconds, i => i % 4 == 1 || i % 4 == 2, minIters = 4)
        m.iters.foreach(x => tally(x._1))
        m.other.foreach(tally)
        wl.traceExtras(env)
        // conn.scan_ms: the input alone, read and decoded as the iteration
        // reads it, by a job that writes nowhere (median of three)
        val scanMs = Stats.median(Seq.fill(3) {
          val t0 = System.nanoTime()
          wl.scanInput(env).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e6
        })
        val wlLayer = wl.layerMetrics(env)
        l.flush(env.spark)
        l.unregister(env.spark)
        listener = None
        val tracedRps = m.iters.collect { case (i, true) => i.records / i.wallMs }
        val plainRps = m.iters.collect { case (i, false) => i.records / i.wallMs }
        val plainWall = Stats.median(m.iters.collect { case (i, false) => i.wallMs })
        // single-threaded baseline: the same iteration at local[1]
        env.spark.stop()
        val one = new Env(Session.build(1, work), 1, work, new Tracer(false))
        val it1 = Runner.iterate(one, -1, traced = false)(wl.iteration(one))
        tally(it1)
        env = one
        val layers = Layers.compute(tracer, l, cores)
        val all = layers ++ wlLayer ++ Seq(
          "conn.scan_ms" -> scanMs,
          "engine.parallel_speedup" -> it1.wallMs / plainWall,
          "bench.trace_overhead_frac" -> (1.0 - Stats.median(tracedRps) / Stats.median(plainRps)))
        Layers.write(traceOut, s"${wl.name}-$seed", tracer, all)
        val byName = all.toMap
        detail ++= Seq("iterations" -> m.iters.size,
          "iteration_ms" -> m.iters.map(_._1.wallMs),
          "traced" -> m.iters.map(_._2),
          "local1_ms" -> it1.wallMs)
        Layers.Reported.map(k => (k, byName.getOrElse(k, 0.0), Layers.unit(k)))
      }

    env.spark.stop()
    // a check that passes a perturbed output proves nothing: fail the run
    val flagged = wl.negativeControlFlagged()
    detail("neg_control_flagged") = flagged
    val correct = failed == 0 && flagged
    println(Json.write(ListMap("perfbench" -> detail)))
    println(Json.write(ListMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }: _*))))
  }
}
