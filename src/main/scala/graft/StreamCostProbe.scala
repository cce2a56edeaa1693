package graft

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
  * Usage: runMain graft.StreamCostProbe <sfDir> <vhash|ahash|dhash>
  *
  * Prints one PROGRESS line per micro-batch, then the result record last.
  */
object StreamCostProbe {
  def main(args: Array[String]): Unit = {
    val Array(dir, mode) = args.take(2)
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
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

    events.forEach(j => println(s"PROGRESS $j"))
    println(s"""{"streamcostprobe":"$mode","decode_wall":$wDecode,"explode_wall":$wExplode,"stream_wall":$wStream}""")
    spark.stop()
  }
}
