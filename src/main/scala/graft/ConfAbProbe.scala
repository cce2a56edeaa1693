package graft

import graft.core.Json

/** Window-drift-immune A/B for a single runtime SQL conf (r20, the
  * preferSortMergeJoin question from the r19 verdict #6): times each
  * named query with the conf OFF and ON, interleaved A,B,A,B,... in one
  * JVM so host decay hits both arms equally. Bench methodology
  * (Bench.forceEval, Bench.cleanState between runs, min-of-reps).
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
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Udfs.register(spark)

    def runOne(name: String, v: String): Double = {
      Bench.cleanState(spark)
      spark.conf.set(conf, v)
      val t0 = System.nanoTime()
      Bench.forceEval(spark, name, sfDir)
      (System.nanoTime() - t0) / 1e9
    }
    // which join strategies each arm's EXECUTED plan actually used — the
    // receipt must show the conf flipped something (or that it didn't)
    def joins(name: String, v: String): String = {
      spark.conf.set(conf, v)
      val p = Bench.forceEval(spark, name, sfDir).queryExecution.executedPlan.toString
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
      s"""{"confabprobe":${Json.quote(conf)},"a":${Json.quote(valueA)},"b":${Json.quote(valueB)},""",
      ",", s""","sf":${Json.quote(sfDir)}}"""))
    spark.stop()
  }
}
