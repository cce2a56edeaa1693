package graft

/** t1-smoke mirror: runs SparkEntry.entry exactly like the driver does and
  * prints the row count (driver checks rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    // no Udfs.register: the mirrored session has none
    val spark = SparkEntry.localSession(4)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = false)
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
