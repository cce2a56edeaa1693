package graft

/** Rounds-to-convergence receipt for the resolve family (r19 verdict #5):
  * runs each named query (default: the connectedComponents consumers) and
  * reports how many min-label rounds the LAST CC call inside it actually
  * needed ([[graft.ml.Dedup.lastConvergedRounds]]) plus the wall — the
  * evidence for the early-exit placement inside the first round batch
  * (a star-dominated gate graph converged by round 3 skips the second
  * half of the 6-round batch; the receipt proves which gates do).
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

    def runOne(name: String): (Double, Int, Int) = {
      Bench.cleanState(spark)
      val esc0 = graft.ml.Dedup.lastEscalations
      val t0 = System.nanoTime()
      Bench.forceEval(spark, name, sfDir)
      val wall = (System.nanoTime() - t0) / 1e9
      (wall, graft.ml.Dedup.lastConvergedRounds, graft.ml.Dedup.lastEscalations - esc0)
    }
    // warmup (classload/codegen) then min-of-3 timed runs
    names.foreach(n => runOne(n))
    val rows = names.map { n =>
      val rs = (1 to 3).map(_ => runOne(n))
      val best = rs.minBy(_._1)
      s""""$n":{"wall":${f"${best._1}%.3f"},"cc_rounds":${best._2},"escalations":${best._3}}"""
    }
    println(rows.mkString("{\"ccroundsprobe\":{", ",", s"},\"sf\":${graft.core.Json.quote(sfDir)}}"))
    spark.stop()
  }
}
