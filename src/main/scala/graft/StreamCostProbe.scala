package graft

import graft.streaming.Run
import org.apache.spark.sql.functions._

/** r19 optimization-round decomposition probe for the streaming
  * fingerprint-pair twins: where do stream_{v,a,p}hash_pairs' seconds go?
  * Times, in one JVM over the gate's own cached fixture:
  *   1. batch decode only      — fixture scan + fused decode UDF, noop-style
  *   2. decode + block explode — catches duplicated UDF evaluation
  *   3. the full streaming twin (the gate body verbatim), printing each
  *      micro-batch's durationMs map (triggerExecution / addBatch /
  *      stateCommit...) from the query's progress so the fixed streaming
  *      premium is attributable instead of guessed.
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

    // the full streaming twin (the gate body on its own session), with
    // each run's per-batch progress folded from the stopped query
    val ss = Run.session(spark, core.Tables.fanout(spark))
    val progress = Vector.newBuilder[String]
    val wStream = (1 to 2).map(_ => wall {
      val pairs = QueriesLlm.fingerprintPairStream(ss, inDir, fp, sig,
        evictBucketAfterMs = Some(3600L * 1000))
      val q = Run.run("scp", pairs, Run.Sink.Memory(), paced = Some(inDir))
      ss.table(q.name).agg(count(lit(1))).collect()
      progress ++= q.recentProgress.map(_.json)
    }).min

    progress.result().foreach(j => println(s"PROGRESS $j"))
    println(s"""{"streamcostprobe":"$mode","decode_wall":$wDecode,"explode_wall":$wExplode,"stream_wall":$wStream}""")
    spark.stop()
  }
}
