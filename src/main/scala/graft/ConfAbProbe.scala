package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}

/** Window-drift-immune A/B for a single runtime SQL conf (r20, the
  * preferSortMergeJoin question from the r19 verdict #6): times each
  * named query with the conf OFF and ON, interleaved A,B,A,B,... in one
  * JVM so host decay hits both arms equally. Bench methodology (forceEval
  * fold, state cleanup between runs, min-of-reps).
  *
  * Usage: runMain graft.ConfAbProbe <sfDir> <conf> <valueA> <valueB> <q1,q2,...> [reps=3]
  *
  * For a join-strategy conf the probe fails before timing when both arms
  * execute the same joins: the conf did not reach the query's plan (a
  * conf set on this session does not follow a stream query into the
  * `newSession()` it opens), and the A/B would time one configuration
  * against itself.
  */
object ConfAbProbe {
  private val joinConfs = Set(
    "spark.sql.join.preferSortMergeJoin",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, conf, valueA, valueB, names) = args.take(5)
    val reps = args.lift(5).map(_.toInt).getOrElse(3)
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
    graft.functions.Udfs.register(spark)

    def runOne(name: String, v: String): Double = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      org.apache.spark.sql.graftshim.StateStoreReset.unloadAll()
      spark.catalog.clearCache()
      System.gc()
      spark.conf.set(conf, v)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.agg(bit_xor(xxhash64(struct(df.columns.map(col): _*)))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    // which join strategies each arm's EXECUTED plan actually used — the
    // receipt must show the conf flipped something (or that it didn't)
    def joins(name: String, v: String): String = {
      spark.conf.set(conf, v)
      val df = SparkEntry.queries(name)(spark, sfDir)
      val agg = df.agg(bit_xor(xxhash64(struct(df.columns.map(col): _*))))
      agg.collect()
      val p = agg.queryExecution.executedPlan.toString
      Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
        .map(j => s"$j=${p.sliding(j.length).count(_ == j)}").mkString(",")
    }
    val rows = names.split(',').map { name =>
      val (aJoins, bJoins) = (joins(name, valueA), joins(name, valueB))
      if (joinConfs(conf) && aJoins == bJoins)
        throw new IllegalStateException(s"[confab] $name: $conf=$valueA and $conf=$valueB " +
          s"execute the same joins ($aJoins); the conf does not reach this query's plan")
      runOne(name, valueA); runOne(name, valueB) // codegen warmup both arms
      val (as, bs) = (1 to reps).map(_ => (runOne(name, valueA), runOne(name, valueB))).unzip
      System.err.println(s"[confab] $name a=$as b=$bs")
      f""""$name":{"a_min":${as.min}%.3f,"b_min":${bs.min}%.3f,"a_joins":"$aJoins","b_joins":"$bJoins"}"""
    }
    println(rows.mkString(
      s"""{"confabprobe":"${ProbeJson.jstr(conf)}","a":"${ProbeJson.jstr(valueA)}","b":"${ProbeJson.jstr(valueB)}",""",
      ",", s""","sf":"${ProbeJson.jstr(sfDir)}"}"""))
    spark.stop()
  }
}
