package graft

import org.apache.spark.sql.functions._
import graft.core.{Json, TempDir}
import graft.ml.Dedup
import graft.streaming.Run

/** State-store retention probe for streaming span dedup (SCALING.md).
  *
  * Measures terminal state-store size for
  * [[graft.streaming.StreamDedup.dupOccurrences]] with and without the
  * singleton-eviction horizon: the NoTimeout run holds one state row per
  * distinct window digest forever (the r12 verdict's scale seam); the
  * horizon run keeps viral markers and evicts singletons that go
  * `horizonMs` without a second occurrence. A SHORT horizon plus a
  * post-drain linger (timeouts fire in the no-data batches a
  * ProcessingTime trigger keeps scheduling) shows the steady-state
  * difference a continuous deployment would see.
  *
  * Output-equality of the two modes within a not-yet-reached horizon is
  * pinned in MlSpec; this probe is about STATE VOLUME, not results.
  *
  * Usage: runMain graft.StateProbe <docsDir> <nSplits> <horizonMs|0> [lingerMs] [mem|rocksdb]
  * Prints {"stateprobe":...,"rows_total":...,"rows_removed":...,...}.
  *
  * The 5th arg picks the state-store provider: `mem` (default) is
  * Spark's HDFSBackedStateStoreProvider — every micro-batch copies the
  * full version map, so per-batch cost grows with TOTAL state and the
  * operator goes super-linear once state outgrows the heap's comfort;
  * `rocksdb` is the deployment provider the operator docs prescribe
  * (disk-resident state, per-batch cost tracks the DELTA). The probe
  * exists to measure that difference, not just assert it. */
object StateProbe {
  def main(args: Array[String]): Unit = {
    val docsDir = args(0)
    val nSplits = args(1).toInt
    val horizonMs = args(2).toLong
    val lingerMs = args.lift(3).map(_.toLong).getOrElse(6000L)
    val provider = args.lift(4).getOrElse("mem")
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // timeout-eviction happens in NO-DATA batches, whose progress updates
    // are throttled to every 10 s by default — longer than the probe's
    // 6 s linger, so eviction batches could go entirely unreported.
    // Report them promptly; the progress fold below then counts every one.
    spark.conf.set("spark.sql.streaming.noDataProgressEventInterval", "200")
    if (provider == "rocksdb") {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Spark wires a Java org.rocksdb.Logger into every RocksDB instance
      // and picks its native InfoLogLevel from this class's slf4j level
      // (WARN session level → WARN_LEVEL → a JNI Logv callback per native
      // warning). That callback (rocksdb::LoggerJniCallback::Logv) has
      // SIGSEGV'd probe JVMs twice (round-13 verdict #3); at ERROR_LEVEL
      // it practically never fires. The logger cannot be removed — Spark
      // installs it unconditionally — so starve it instead.
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming.state.RocksDB",
        org.apache.logging.log4j.Level.ERROR)
    }
    // the query's progress buffer keeps every batch (default: the last
    // 100, which a 10 ms trigger burns in a second). ProgressReporter
    // adds each batch's progress before posting its event, so once the
    // query has stopped the buffer holds its final batch too.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", Int.MaxValue.toString)
    import spark.implicits._

    val w = 15
    // nSplits doc_id-striped parquet files = nSplits micro-batches, over
    // the SAME planted corpus the stream_dup_spans gate streams (docs ∪
    // truncated twins) so the singleton/viral state mix is the gate's
    val docs = QueriesLlm.plantedCorpus(spark, docsDir)
    val inDir = Run.writeSplitDir("stateprobe_in",
      (0 until nSplits).map(i =>
        (docs.filter(pmod(col("doc_id"), lit(nSplits)) === i), f"$i%02d_docs.parquet")))
    val occStream = Run.readSplits(spark, inDir)
      .select(col("doc_id"), Dedup.tokens(col("text")).as("_t"))
      .filter(size(col("_t")) >= w)
      .select(col("doc_id"), posexplode(Dedup.windowDigests(col("_t"), w)).as(Seq("pos", "h")))
      .toDF("_1", "_2", "_3").as[(Long, Int, Long)]
    val horizon = if (horizonMs > 0) Some(horizonMs) else None
    val dupOcc = graft.streaming.StreamDedup.dupOccurrences(occStream, horizon)

    // noop sink: the memory sink accumulates every emitted occurrence on
    // the DRIVER — at 100× that is tens of millions of rows and the sink
    // itself becomes the bottleneck being mismeasured; emitted counts
    // come from the progress stream instead
    val sink = Run.Sink.Files("noop")
    val t0 = System.nanoTime()
    val q =
      if (horizon.isDefined) {
        // deployment shape: paced trigger; timeouts fire in no-data batches
        val q0 = Run.start("stateprobe", dupOcc, sink,
          org.apache.spark.sql.streaming.Trigger.ProcessingTime(10L),
          TempDir("stateprobe_ckpt").toString)
        // drain the input, then LINGER so the horizon actually elapses for
        // the last batches' singletons (drainAndStop would stop at the
        // first empty batch, before any timeout fires)
        Run.drainAndStop(q0, stopAfterDrain = false)
        Thread.sleep(lingerMs)
        q0.stop(); q0.awaitTermination()
        q0
      } else Run.run("stateprobe", dupOcc, sink)
    val wall = (System.nanoTime() - t0) / 1e9

    // per-batch durationMs decomposition (addBatch vs state commit vs
    // offset bookkeeping) as PROGRESS lines, so the stream_dup_spans cost
    // has an attributable breakdown; they print first because the result
    // record is the last stdout line
    val progress = q.recentProgress
    progress.foreach(p => println(s"PROGRESS ${p.json}"))
    val stateOps = progress.map(p => Option(p.stateOperators).toSeq.flatten)
    val last = stateOps.reverseIterator.find(_.nonEmpty).flatMap(_.lastOption)
    val removed = stateOps.flatten.map(_.numRowsRemoved).sum
    val emitted = progress.flatMap(p => Option(p.sink)).map(_.numOutputRows).filter(_ > 0).sum
    println(f"""{"stateprobe":${Json.quote(docsDir)},"splits":$nSplits,"horizon_ms":$horizonMs,"provider":${Json.quote(provider)},"rows_total":${last.map(_.numRowsTotal).getOrElse(0L)},"rows_removed":$removed,"state_bytes":${last.map(_.memoryUsedBytes).getOrElse(0L)},"emitted":$emitted,"wall":$wall%.3f}""")
    spark.stop()
  }
}
