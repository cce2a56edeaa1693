package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Reads go through `spark.read.parquet` so Catalyst gets predicate pushdown,
  * column pruning and partition coalescing for free — at 100 TB these scans
  * are the dominant cost and must stay declarative.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as BOTH parquet TIMESTAMP(NANOS) (illegal for
      // Spark's reader — read nanos as Long, truncate to µs; integer div
      // because the ns epoch exceeds double's 2^53 mantissa) and plain
      // TIMESTAMP(MICROS) (directly readable). Branch on the actual file
      // schema so either generation of the driver's testdata loads.
      // The nanosAsLong conf belongs in the session (SparkEntry.localSession
      // sets it); the guard below only covers ad-hoc sessions and never
      // overwrites an existing setting.
      if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventsTs(spark.read.parquet(s"$dir/$name.parquet"))
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Normalize events.ts to session-zone TimestampType whichever way the
    * driver's generator shipped it (also used by the readStream twin). */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => df
      case _ =>
        // TIMESTAMP_NTZ from the micros-generation testdata: cast to the
        // session-zone type every query was written against — an identity
        // on the wall clock because all entrypoints pin UTC.
        df.withColumn("ts",
          df("ts").cast(org.apache.spark.sql.types.TimestampType))
    }

  /** Register every table as a temp view so `spark.sql` text works too. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))

  /** Fan-out width for redistributing per-row-heavy work over a narrow
    * scan (the testdata tables are single parquet files → one scan split).
    * Derived from the scheduler's parallelism rather than a literal so the
    * same code fills all cores on local[32] AND all executor slots on a
    * real cluster — a hardcoded count would cap the stage at that many
    * tasks no matter how many executors exist. */
  def fanout(spark: SparkSession): Int =
    math.max(1, spark.sparkContext.defaultParallelism)

  /** Task width for stages that talk to a single external endpoint: bounded
    * by a per-endpoint connection budget (the reference's `max_in_flight`
    * analogue), and never wider than the cluster's parallelism. Unlike
    * [[fanout]] this deliberately does NOT grow with the cluster — 1000
    * tasks each opening a connection to one broker is an anti-pattern. */
  def connFanout(spark: SparkSession, maxInFlight: Int): Int =
    math.min(maxInFlight, fanout(spark))
}
