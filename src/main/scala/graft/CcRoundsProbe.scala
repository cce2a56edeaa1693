package graft

/** Rounds-to-convergence receipt for the resolve family: runs each named
  * query (default: the connectedComponents consumers) and reports how
  * many min-label rounds the LAST CC call inside it ran after contraction
  * ([[graft.ml.Dedup.lastConvergedRounds]], 0 when contraction alone
  * resolved the graph) plus the wall.
  *
  * Usage: runMain graft.CcRoundsProbe <sfDir> [q1,q2,...]
  */
object CcRoundsProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.lift(1).map(_.split(",").toSeq).getOrElse(Seq(
      "llm_dedup_resolve", "llm_phash_resolve", "stream_phash_resolve"))
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Udfs.register(spark)

    def runOne(name: String): (Double, Int) = {
      Bench.cleanState(spark)
      val t0 = System.nanoTime()
      Bench.forceEval(spark, name, sfDir)
      val wall = (System.nanoTime() - t0) / 1e9
      (wall, graft.ml.Dedup.lastConvergedRounds)
    }
    // warmup (classload/codegen) then min-of-3 timed runs
    names.foreach(n => runOne(n))
    val rows = names.map { n =>
      val rs = (1 to 3).map(_ => runOne(n))
      val best = rs.minBy(_._1)
      s""""$n":{"wall":${f"${best._1}%.3f"},"cc_rounds":${best._2}}"""
    }
    println(rows.mkString("{\"ccroundsprobe\":{", ",", s"},\"sf\":${graft.core.Json.quote(sfDir)}}"))
    spark.stop()
  }
}
