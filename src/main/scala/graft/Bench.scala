package graft

import graft.core.Json
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}

/** Benchmark main: times the headline queries at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (driver contract → BENCH_r{N}.json).
  *
  * Each query is forced to FULL evaluation with [[evalFold]] — a
  * `.count()` would let Catalyst prune projection-only work and time just
  * the scan. Failures are recorded in a `failed` list and printed to
  * stderr, never silently swallowed. The fold and the between-runs
  * [[cleanState]] are shared with PlanDump and the probe mains.
  */
object Bench {
  /** The full-evaluation fold: hash every output column of every row and
    * xor the hashes (bit_xor, not sum: ANSI mode overflows on summed
    * hashes). Lazy; `collect()` runs it. */
  def evalFold(df: DataFrame): DataFrame =
    df.agg(bit_xor(xxhash64(struct(df.columns.map(col): _*))))

  /** Run query `name` at `dir` to completion through [[evalFold]]. The
    * returned fold has executed: its `executedPlan` is the final
    * post-AQE plan. */
  def forceEval(spark: SparkSession, name: String, dir: String): DataFrame = {
    val agg = evalFold(SparkEntry.queries(name)(spark, dir))
    agg.collect()
    agg
  }

  /** Reclaim lazily-cleaned state between timed runs: localCheckpoint RDDs
    * and broadcasts are released by the ContextCleaner only when GC
    * collects their weak refs — without this, back-to-back runs
    * accumulate block-manager state and later runs measure memory
    * pressure, not the plan (observed: cosine_topk 0.9 s → 3.6 s). */
  def cleanState(spark: SparkSession): Unit = {
    // getPersistentRDDs + blocking unpersist removes checkpoint blocks
    // SYNCHRONOUSLY — the async cleaner path still left gigabytes of
    // earlier queries' blocks in flight when the next timing started
    // (observed: cosine_topk 1.1 s isolated vs 3.4 s after minhash).
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    // streaming runs leave their state-store providers (and their
    // in-memory version maps) loaded after query.stop(); across
    // repeated runs that heap pressure bleeds into whatever query
    // times next (observed: codec_parquet 2.4 s isolated vs 4.4 s
    // after the stream_win_* triples)
    org.apache.spark.sql.graftshim.StateStoreReset.unloadAll()
    spark.catalog.clearCache()
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkEntry.localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Udfs.register(spark)

    // JVM+codegen warmup on the smallest SF so timings measure the plan,
    // not first-query classloading.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.benchQueries.filter(SparkEntry.queries.contains)
      .filter(n => only.forall(_.contains(n)))
    names.foreach { n =>
      try forceEval(spark, n, "/root/testdata/sf0.001")
      catch { case e: Throwable => System.err.println(s"[bench/warmup] $n: ${e.getMessage}") }
    }

    // CPU calibration: a fixed, I/O-free, deterministic workload
    // (xxhash64 over an in-memory 1B-row range, all cores) timed before
    // and after the query sweep. Round-over-round comparisons divide by
    // this number to cancel host-speed drift — the round-13 "1.58×
    // regression" was a slow sandbox window, not code, and cost a full
    // adjudication pass (round-13 verdict task 2). min-of-runs: noise
    // only ever adds time.
    def calibrationRun(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1000000000L, 1L, cpus)
        .agg(bit_xor(xxhash64(col("id")))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    calibrationRun() // codegen warmup for the calibration plan itself

    // PRE-FLIGHT CONTENTION GATE (r19 — r18 verdict, What's wrong #2):
    // the shipped artifact is the arbiter of record, and r18's ran on a
    // decaying host (min_total 123 s vs the same tree's 90 s idle
    // rerun). Waiting out a transient spike costs minutes; shipping a
    // 20%-inflated artifact costs an adjudication pass. Signal: the CPU
    // share OUR calibration job achieves — external load steals cores
    // from the 32-way xxhash range scan, so achieved-concurrency / cpus
    // is an absolute, self-referential idleness meter (calibration time
    // alone cannot distinguish "host busy" from "host slow": a loaded
    // box measures slow against itself too). Wait (bounded by
    // SPARK_GRAFT_CAL_WAIT_SECS, default 300) until the share clears
    // SPARK_GRAFT_CAL_MIN_SHARE (default 0.8) or the budget runs out —
    // then proceed and ship the numbers honestly either way.
    val osBean = try {
      Some(java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean])
    } catch { case _: Throwable => None }
    // pure-JVM spin probe, NOT the Spark calibration job: `cpus` plain
    // threads busy-looping for ~0.8 s achieve ~1.0 share on an idle
    // host (no scheduler phases, no driver time diluting the window —
    // the Spark job measures ~0.5 even idle), and proportionally less
    // when external load steals cores. Returns achieved-CPU / cpus.
    def cpuShareProbe(ms: Long = 800L): Double = osBean.map { b =>
      val cpu0 = b.getProcessCpuTime
      val t0 = System.nanoTime()
      val sink = new java.util.concurrent.atomic.AtomicLong()
      val threads = (1 to cpus).map { _ =>
        new Thread(() => {
          var x = 1234567L
          while (System.nanoTime() - t0 < ms * 1000000L) {
            var i = 0
            while (i < 10000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
          }
          sink.addAndGet(x): Unit
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val wall = (System.nanoTime() - t0) / 1e9
      ((b.getProcessCpuTime - cpu0) / 1e9) / wall / cpus
    }.getOrElse(1.0)
    val calWaitBudgetMs =
      sys.env.getOrElse("SPARK_GRAFT_CAL_WAIT_SECS", "300").toLong * 1000L
    val calMinShare =
      sys.env.getOrElse("SPARK_GRAFT_CAL_MIN_SHARE", "0.85").toDouble
    val gateStart = System.currentTimeMillis()
    var gateWaits = 0
    var calShare = cpuShareProbe()
    while (calShare < calMinShare &&
           System.currentTimeMillis() - gateStart < calWaitBudgetMs) {
      gateWaits += 1
      System.err.println(f"[bench] pre-flight: spin-probe CPU share $calShare%.2f " +
        f"< $calMinShare%.2f (host contended) — waiting 20 s (wait #$gateWaits)")
      Thread.sleep(20000)
      calShare = cpuShareProbe()
    }

    // SECOND gate: the spin probe catches CPU contention, but a
    // co-tenant/VM-level slowdown throttles the memory-touching Spark
    // calibration while register-bound spinning still reads ~1.0
    // (observed: share 0.97 with calibration 20% off the same host's
    // best minutes earlier). Persist the host's best observed
    // calibration across runs (/tmp — host-local, not repo state) and
    // wait, within the SAME bounded budget, while the current sample
    // is >15% worse than that best. A genuinely slower host exhausts
    // the budget once and proceeds; the artifact ships
    // norm_min_total either way.
    val calFile = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_CAL_HISTORY", "/tmp/graft_bench_cal.txt"))
    val histBest: Option[Double] = try {
      Some(new String(java.nio.file.Files.readAllBytes(calFile), "UTF-8").trim.toDouble)
    } catch { case _: Throwable => None }
    var calibrationPre = (1 to 3).map(_ => calibrationRun()).min
    while (histBest.exists(h => calibrationPre > h * 1.15) &&
           System.currentTimeMillis() - gateStart < calWaitBudgetMs) {
      gateWaits += 1
      System.err.println(f"[bench] pre-flight: calibration $calibrationPre%.3f > " +
        f"1.15x host best ${histBest.get}%.3f — waiting 20 s (wait #$gateWaits)")
      Thread.sleep(20000)
      calibrationPre = math.min(calibrationPre, calibrationRun())
    }

    // Min-of-3 per query on stdout, median + all runs in the FULL record
    // (round-4 verdict: a single shot let one contention spike misbrand
    // agg_q1 as a 5x regression; r19 verdict #1: the stdout line with 98×3
    // `runs` arrays overflowed the driver's capture, leaving PERF with no
    // per-query ground truth two rounds running — the driver-consumable
    // line now carries ONLY the per-query mins + summary scalars, and the
    // full record (runs, medians, note) goes to BENCH_FULL.json on disk).
    val runsPer = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val runsMap = scala.collection.mutable.LinkedHashMap.empty[
      String, scala.collection.mutable.ArrayBuffer[Double]]
    def timeOne(name: String): Double = {
      cleanState(spark)
      val t0 = System.nanoTime()
      try forceEval(spark, name, sfDir)
      catch { case e: Throwable =>
        if (!failed.contains(name)) failed += name
        System.err.println(s"[bench] FAILED $name: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }

    // MID-RUN CALIBRATION GUARD (r19 verdict #2): the pre-flight gates
    // cannot see decay that starts AFTER the run begins (BENCH_r19's 32c
    // window decayed 0.233→0.282 mid-run and untouched sink rows read
    // ×2.5-7). Interleave a calibration sample every `segmentSize` rows;
    // a segment whose bounding samples are >15% off the run's best ran in
    // a contaminated window — re-run its rows once at the end (min-of-runs
    // absorbs the extra sample: contention only ever adds time). Ship the
    // per-segment samples and the re-run list so the artifact is auditable.
    val segmentSize = sys.env.getOrElse("SPARK_GRAFT_CAL_SEGMENT", "15").toInt
    val calSamples = scala.collection.mutable.ArrayBuffer[Double](calibrationPre)
    val segments = names.grouped(segmentSize).toVector
    segments.foreach { seg =>
      seg.foreach { n =>
        val rs = runsMap.getOrElseUpdate(n, scala.collection.mutable.ArrayBuffer.empty)
        (1 to runsPer).foreach(_ => rs += timeOne(n))
      }
      // clean state BEFORE sampling: a sample taken right after a heavy
      // streaming segment reads the JVM's leftover state-store providers
      // and pending GC, not the host (observed at sf0.01: samples 0.25 →
      // 0.37 in a window where the host itself was steady)
      cleanState(spark)
      calSamples += (1 to 2).map(_ => calibrationRun()).min
    }
    val calibrationPost = math.min(calSamples.last, calibrationRun())
    val calBest = math.min(calSamples.min, calibrationPost)
    val dirtySegs = segments.indices.filter { k =>
      math.max(calSamples(k), calSamples(k + 1)) > calBest * 1.15
    }
    if (dirtySegs.nonEmpty) {
      // the re-run only helps if ITS window is clean — wait (bounded by
      // half the pre-flight budget) for the host to return to within 15%
      // of the run's best before re-timing the dirty rows
      val reDeadline = System.currentTimeMillis() + calWaitBudgetMs / 2
      var c = calibrationRun()
      while (c > calBest * 1.15 && System.currentTimeMillis() < reDeadline) {
        System.err.println(f"[bench] re-run window still contaminated " +
          f"(cal $c%.3f vs best $calBest%.3f) — waiting 20 s")
        Thread.sleep(20000)
        c = calibrationRun()
      }
    }
    dirtySegs.foreach { k =>
      System.err.println(f"[bench] segment $k ran in a contaminated window " +
        f"(cal ${calSamples(k)}%.3f/${calSamples(k + 1)}%.3f vs best $calBest%.3f) " +
        "— re-running its rows once")
      segments(k).foreach(n => runsMap(n) += timeOne(n))
      calSamples += calibrationRun() // record the re-run window's speed too
    }
    val calibration = math.min(calBest, calSamples.min)

    val results = names.map { name =>
      val rs = runsMap(name).sorted
      name -> (rs(rs.length / 2), rs.toVector)
    }
    val qsMed = results.map { case (k, (med, _)) => "\"" + k + "\":" + f"$med%.3f" }
      .mkString("{", ",", "}")
    val allRuns = results.map { case (k, (_, rs)) =>
      "\"" + k + "\":" + rs.map(r => f"$r%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Sandbox contention windows can outlast all runsPer runs of one query
    // (observed: the same plan timed 2 s and 19 s minutes apart with zero
    // code change) — the per-query MIN is the noise-floor-robust cost of
    // the plan, since contention only ever adds time. The stdout `queries`
    // map carries the mins (the basis every round-over-round comparison
    // has actually used); medians stay in the full record.
    val mins = results.map { case (k, (_, rs)) =>
      "\"" + k + "\":" + f"${rs.min}%.3f"
    }.mkString("{", ",", "}")
    val fl = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2._1).sum
    val minTotal = results.map(_._2._2.min).sum
    // update the host-best record for the next run's gate
    try {
      val newBest = math.min(calibration, histBest.getOrElse(Double.MaxValue))
      java.nio.file.Files.write(calFile, f"$newBest%.4f".getBytes("UTF-8")): Unit
    } catch { case _: Throwable => () }
    val calSegJson = calSamples.map(c => f"$c%.3f").mkString("[", ",", "]")
    val dirtyJson = dirtySegs.mkString("[", ",", "]")
    val note = "full-eval bit_xor(xxhash64(struct(*))) per query; stdout `queries` " +
      s"is the per-query MIN of $runsPer+ runs (medians in `medians`, all runs in " +
      "`runs`); `calibration` = min xxhash64-over-range(1e9) wall (CPU-only, " +
      "sampled pre/post and every segment) — divide totals by it before comparing " +
      "rounds; `cal_segments` are the interleaved samples, `reran_segments` the " +
      "15-row segments re-run once because their window was >15% off the run best"
    val fullJson = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$mins,"medians":$qsMed,"runs":$allRuns,"min_total":$minTotal%.3f,"calibration":$calibration%.3f,"calibration_pre":$calibrationPre%.3f,"calibration_post":$calibrationPost%.3f,"norm_min_total":${minTotal / calibration}%.2f,"cal_segments":$calSegJson,"reran_segments":$dirtyJson,"cal_gate_waits":$gateWaits,"cal_gate_share":$calShare%.2f,"stat":"min","failed":$fl,"note":${Json.quote(note)},"sf":${Json.quote(sfDir)}}"""
    val fullPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json"))
    try {
      java.nio.file.Files.write(fullPath, (fullJson + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full record: ${fullPath.toAbsolutePath}")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}")
    }
    // the COMPACT driver-consumable line: per-query mins + summary scalars
    // only (no runs/medians/note — those live in the full record above)
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$mins,"min_total":$minTotal%.3f,"calibration":$calibration%.3f,"calibration_pre":$calibrationPre%.3f,"calibration_post":$calibrationPost%.3f,"norm_min_total":${minTotal / calibration}%.2f,"cal_segments":$calSegJson,"reran_segments":$dirtyJson,"cal_gate_waits":$gateWaits,"cal_gate_share":$calShare%.2f,"stat":"min","failed":$fl,"sf":${Json.quote(sfDir)}}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
