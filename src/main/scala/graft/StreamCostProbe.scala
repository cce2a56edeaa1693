package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** r19 optimization-round decomposition probe for the streaming
  * fingerprint-pair twins: where do stream_{v,a,p}hash_pairs' seconds go?
  * Times, in one JVM over the gate's own cached fixture:
  *   1. batch decode only      — fixture scan + fused decode UDF, noop-style
  *   2. decode + block explode — catches duplicated UDF evaluation
  *   3. the full streaming twin (the gate body verbatim), with a listener
  *      printing each micro-batch's durationMs map (triggerExecution /
  *      addBatch / stateCommit...) so the fixed streaming premium is
  *      attributable instead of guessed.
  *
  * Usage: runMain graft.StreamCostProbe <sfDir> <vhash|ahash|dhash> [planOut]
  *
  * With `planOut`, also writes the executed micro-batch plans of BOTH
  * fixture layouts — `mono` (one file per logical split: the pre-r19
  * shape, single-task scan + payload repartition) and `sharded` (the
  * r19 deploy shape) — to `<planOut>_{mono,sharded}.txt`, the
  * before/after plan evidence for plans/r19.
  */
object StreamCostProbe {
  def main(args: Array[String]): Unit = {
    val Array(dir, mode) = args.take(2)
    val planOut = args.lift(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (inDir, fp, sig) = mode match {
      case "vhash" => (QueriesLlm.aviSplitDir(spark, dir),
        graft.ml.Multimodal.vhashAvi _, "vhash")
      case "ahash" => (QueriesLlm.wavSplitDir(spark, dir),
        graft.ml.Multimodal.ahashWav _, "ahash")
      case _ => (QueriesLlm.phashSplitDir(spark, dir),
        graft.ml.Multimodal.dhashBmp _, "dhash")
    }

    def wall(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // warmup (classload + codegen)
    val batch0 = spark.read.parquet(inDir.toString).repartition(core.Tables.fanout(spark))
    fp(batch0, "media_id", "data").agg(max(col(sig))).collect()

    val wDecode = (1 to 3).map(_ => wall {
      fp(batch0, "media_id", "data").agg(max(col(sig))).collect()
    }).min
    val wExplode = (1 to 3).map(_ => wall {
      graft.streaming.StreamPhash.blockOccurrences(
          fp(batch0, "media_id", "data"), "media_id", sig, 8)
        .toDF("id", "s", "b", "k").agg(max("k"), max("s")).collect()
    }).min

    // the full streaming twin (gate body inlined so the progress listener
    // sits on the query's own session), with per-batch progress
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", core.Tables.fanout(ss).toString)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        events.add(e.progress.json)
    }
    ss.streams.addListener(listener)
    var si = 0
    val wStream = (1 to 2).map(_ => wall {
      val pairs = QueriesLlm.fingerprintPairStream(ss, inDir, fp, sig,
        evictBucketAfterMs = Some(3600L * 1000))
      val ckpt = java.nio.file.Files.createTempDirectory("scp_ckpt").toFile
      ckpt.deleteOnExit()
      si += 1
      val q = pairs.writeStream.format("memory").queryName(s"scp_sink_$si")
        .outputMode("append").option("checkpointLocation", ckpt.getPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(250L)).start()
      QueriesLlm.drainAndStop(q,
        expectBatches = Some(QueriesLlm.splitCount(inDir, QueriesLlm.splitWidth(inDir))))
      ss.table(s"scp_sink_$si").agg(count(lit(1))).collect()
    }).min
    ss.streams.removeListener(listener)

    // executed micro-batch plans for both layouts (before/after evidence)
    planOut.foreach { out =>
      // Deterministic capture (r19 advice): stop the query the moment the
      // drain is detected (expectBatches — before the 250 ms trigger can
      // schedule a no-data batch), explain the STOPPED query's
      // lastExecution, and verify the captured plan is a data batch (a
      // no-data batch's empty-source plan has no file scan); retry with a
      // fresh query if a no-data batch ever won the race.
      def runAndExplain(layoutDir: java.nio.file.Path, tag: String): Unit = {
        val text = (1 to 3).iterator.map { _ =>
          val pairs = QueriesLlm.fingerprintPairStream(ss, layoutDir, fp, sig,
            evictBucketAfterMs = Some(3600L * 1000))
          val ckpt = java.nio.file.Files.createTempDirectory("scp_ckpt").toFile
          ckpt.deleteOnExit()
          si += 1
          val q = pairs.writeStream.format("memory").queryName(s"scp_plan_$si")
            .outputMode("append").option("checkpointLocation", ckpt.getPath)
            .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(250L)).start()
          QueriesLlm.drainAndStop(q,
            expectBatches = Some(QueriesLlm.splitCount(layoutDir, QueriesLlm.splitWidth(layoutDir))))
          val buf = new java.io.ByteArrayOutputStream()
          Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) { q.explain(true) }
          buf.toString("UTF-8")
        }.find(_.contains("FileScan"))
          .getOrElse(sys.error(s"no data-batch plan captured for $tag after 3 runs"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"${out}_$tag.txt"),
          s"=== executed micro-batch plan: stream ${mode} pairs, $tag fixture layout ===\n" +
            text)
      }
      // mono = the pre-r19 layout: rebuild the same fixture as ONE file
      // per logical split; fingerprintPairStream then takes its
      // perTrigger == 1 branch (single-task scan + payload repartition)
      val names = new java.io.File(inDir.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted
      val mono = QueriesCore.writeSplitDir(s"scp_mono_$mode", Seq(
        (ss.read.parquet(names.filter(_.startsWith("0_"))
          .map(n => inDir.resolve(n).toString): _*), "0_media.parquet"),
        (ss.read.parquet(names.filter(_.startsWith("1_"))
          .map(n => inDir.resolve(n).toString): _*), "1_media.parquet")))
      runAndExplain(mono, "mono")
      runAndExplain(inDir, "sharded")
    }

    println(s"""{"streamcostprobe":"$mode","decode_wall":$wDecode,"explode_wall":$wExplode,"stream_wall":$wStream}""")
    events.forEach(j => println(s"PROGRESS $j"))
    spark.stop()
  }
}
