package graft

import org.apache.spark.sql.functions._
import graft.core.Json
import graft.ml.Dedup

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
    // timeout-eviction happens in NO-DATA batches, whose progress events
    // are throttled to every 10 s by default — longer than the probe's
    // 6 s linger, so eviction batches could go entirely unreported.
    // Report them promptly; the listener below then counts every one.
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
    val pm = new ProbeMetrics(spark) // listener-accumulated, final-batch-polled
    // per-batch durationMs decomposition (r19 verdict #3): addBatch vs
    // state commit vs offset bookkeeping, printed as PROGRESS lines so the
    // stream_dup_spans cost has an attributable breakdown, not a guess
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.add(e.progress.json)
    })
    import spark.implicits._

    val w = 15
    // nSplits doc_id-striped parquet files = nSplits micro-batches, over
    // the SAME planted corpus the stream_dup_spans gate streams (docs ∪
    // truncated twins) so the singleton/viral state mix is the gate's
    val docs = QueriesLlm.plantedCorpus(spark, docsDir)
    val inDir = QueriesCore.writeSplitDir("stateprobe_in",
      (0 until nSplits).map(i =>
        (docs.filter(pmod(col("doc_id"), lit(nSplits)) === i), f"$i%02d_docs.parquet")))
    val schema = spark.read.parquet(inDir.resolve("00_docs.parquet").toString).schema

    val occStream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString)
      .repartition(core.Tables.fanout(spark))
      .select(col("doc_id"), Dedup.tokens(col("text")).as("_t"))
      .filter(size(col("_t")) >= w)
      .select(col("doc_id"), posexplode(Dedup.windowDigests(col("_t"), w)).as(Seq("pos", "h")))
      .toDF("_1", "_2", "_3").as[(Long, Int, Long)]
    val horizon = if (horizonMs > 0) Some(horizonMs) else None
    val dupOcc = graft.streaming.StreamDedup.dupOccurrences(occStream, horizon)

    val ckpt = java.nio.file.Files.createTempDirectory("stateprobe_ckpt").toFile
    ckpt.deleteOnExit()
    // noop sink: the memory sink accumulates every emitted occurrence on
    // the DRIVER — at 100× that is tens of millions of rows and the sink
    // itself becomes the bottleneck being mismeasured; emitted counts
    // come from the progress stream instead
    val writer = dupOcc.writeStream.format("noop").queryName("stateprobe_sink")
      .outputMode("append").option("checkpointLocation", ckpt.getPath)

    val t0 = System.nanoTime()
    val q =
      if (horizon.isDefined) {
        // deployment shape: paced trigger; timeouts fire in no-data batches
        val q0 = writer
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(10L))
          .start()
        pm.bind(q0) // pin the session-wide listener to this query (r15 advice)
        // drain the input, then LINGER so the horizon actually elapses for
        // the last batches' singletons (drainAndStop would stop at the
        // first empty batch, before any timeout fires)
        QueriesLlm.drainAndStop(q0, stopAfterDrain = false)
        Thread.sleep(lingerMs)
        q0.stop(); q0.awaitTermination()
        q0
      } else {
        val q0 = writer
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        pm.bind(q0) // pin the session-wide listener to this query (r15 advice)
        q0.awaitTermination()
        q0
      }
    val wall = (System.nanoTime() - t0) / 1e9

    pm.finish(q)
    // PROGRESS lines first: the result record is the last stdout line
    progress.forEach(j => println(s"PROGRESS $j"))
    println(f"""{"stateprobe":${Json.quote(docsDir)},"splits":$nSplits,"horizon_ms":$horizonMs,"provider":${Json.quote(provider)},"rows_total":${pm.stateRows},"rows_removed":${pm.removed.get()},"state_bytes":${pm.stateBytes},"emitted":${pm.emitted.get()},"wall":$wall%.3f}""")
    spark.stop()
  }
}
