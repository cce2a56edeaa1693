package graft

import java.nio.file.{Files, Paths}

/** Plan-audit sweep: for each named query, run it to completion through
  * Bench's full-evaluation fold and write `<out>/<name>_<tag>.txt` holding
  * the `explain("formatted")` plan AND the final post-AQE executed plan
  * (the formatted pre-execution plan lies about codegen spans and join
  * strategies while AQE is on; the formatted form carries
  * PushedFilters/ReadSchema the executed string abbreviates). One JVM for
  * the whole list; a single name audits one query.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, names) = args.take(4)
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Udfs.register(spark)
    Files.createDirectories(Paths.get(outDir))
    names.split(',').foreach { name =>
      try {
        val agg = Bench.evalFold(SparkEntry.queries(name)(spark, sfDir))
        val formatted = agg.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        agg.collect()
        val executed = agg.queryExecution.executedPlan.toString
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"),
          s"=== explain(formatted) $name ===\n$formatted\n" +
            s"=== post-AQE executed plan $name ===\n$executed\n")
        println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        println(s"[plandump] FAILED $name: ${e.getMessage}")
      }
      Bench.cleanState(spark)
    }
    spark.stop()
  }
}
