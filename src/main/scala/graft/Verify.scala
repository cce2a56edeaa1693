package graft
import graft.core.Json
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Udfs.register(spark)
    new java.io.File(outDir).mkdirs()
    // Optional local-iteration filter; the driver never sets this.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce collapses the final
      // stage to one task, serializing every per-partition computation
      // (mapPartitions lookups, codec UDFs) upstream of it; the shuffle
      // boundary keeps the query's own parallelism and only funnels
      // result rows into the single output file
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Reclaim per-query lazily-cleaned state (Bench does the same):
      // localCheckpoint blocks and streaming state-store providers are
      // otherwise only released when GC collects their weak refs, so a
      // 230+-query run accumulates blocks for the session's lifetime.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      org.apache.spark.sql.graftshim.StateStoreReset.unloadAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
