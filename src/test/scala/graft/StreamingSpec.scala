package graft

import graft.streaming.{Run, Windows}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import java.sql.Timestamp

/** Structured Streaming semantics: the system_window buffer equivalent
  * (tumbling windows + watermark late-data drop), streaming dedupe, and
  * stateful counters — reference: buffer_system_window.go, processor_dedupe.go,
  * bloblang count()/counter(). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumbling window agg over a stream; late rows beyond watermark dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "key", "value")
    val agg = Windows.windowedAgg(df, "ts", "10 minutes", Seq(col("key")),
      Seq(count(lit(1)).as("n"), sum("value").as("total")), lateness = Some("5 minutes"))
      .select(col("win.start").as("start"), col("key"), col("n"), col("total"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((ts("2024-01-01 00:01:00"), "a", 1.0), (ts("2024-01-01 00:02:00"), "a", 2.0))
      q.processAllAvailable()
      // advance watermark far past the first window → it closes and emits
      input.addData((ts("2024-01-01 01:00:00"), "a", 5.0))
      q.processAllAvailable()
      // this row is hours late (behind the watermark) → must be dropped
      input.addData((ts("2024-01-01 00:03:00"), "a", 100.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 02:00:00"), "a", 7.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select("start", "n", "total").as[(Timestamp, Long, Double)].collect().toSet
      assert(rows.contains((ts("2024-01-01 00:00:00"), 2L, 3.0)), s"got $rows")
      assert(!rows.exists(_._3 == 103.0), "late row leaked into a closed window")
    } finally Run.stop(q)
  }

  test("streaming dedupe within watermark (processor_dedupe streaming flavor)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDF().toDF("ts", "key")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("key")
    val q = df.writeStream.outputMode("append")
      .format("memory").queryName("dd_out").start()
    try {
      input.addData((ts("2024-01-01 00:00:00"), "k1"), (ts("2024-01-01 00:01:00"), "k1"),
        (ts("2024-01-01 00:02:00"), "k2"))
      q.processAllAvailable()
      assert(spark.table("dd_out").count() == 2)
    } finally Run.stop(q)
  }

  test("stateful running counter via Stateful.runningCount (bloblang count()/counter())") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val counted = graft.streaming.Stateful.runningCount(
      input.toDF().toDF("key", "v"), "key")
    val q = counted.toDF("key", "n").writeStream.outputMode("update")
      .format("memory").queryName("cnt_out").start()
    try {
      input.addData(("a", 1), ("a", 2), ("b", 1)); q.processAllAvailable()
      input.addData(("a", 3)); q.processAllAvailable()
      val last = spark.table("cnt_out").groupBy("key").agg(max("n").as("n"))
        .as[(String, Long)].collect().toMap
      assert(last == Map("a" -> 3L, "b" -> 1L))
    } finally Run.stop(q)
  }

  test("ttlLastValue: writes emit values, idle keys expire with tombstones") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val cached = graft.streaming.Stateful.ttlLastValue(
      input.toDF().toDF("key", "value"), "key", "value", ttlMs = 200)
    // NB: processAllAvailable can block forever once ProcessingTimeTimeout
    // schedules no-data batches — poll the sink instead.
    def waitFor(cond: => Boolean, ms: Long = 30000): Unit = {
      val t0 = System.currentTimeMillis
      while (!cond && System.currentTimeMillis - t0 < ms) Thread.sleep(100)
      assert(cond, "condition not met within timeout")
    }
    def rows() = spark.table("ttl_out").as[(String, String, Boolean)].collect()
    val q = cached.toDF("key", "value", "expired").writeStream.outputMode("update")
      .format("memory").queryName("ttl_out").start()
    try {
      input.addData(("k1", "v1"), ("k2", "x"))
      waitFor(rows().count(!_._3) >= 2)
      input.addData(("k1", "v2"))
      waitFor(rows().map(r => (r._1, r._2)).contains(("k1", "v2")))
      Thread.sleep(400) // let the processing-time TTL lapse
      input.addData(("k3", "y")) // a new batch fires the pending timeouts
      waitFor(rows().exists(r => r._3 && r._2 == null))
      val writes = rows().filter(!_._3).map(r => (r._1, r._2)).toSet
      assert(Set(("k1", "v1"), ("k1", "v2"), ("k2", "x")).subsetOf(writes))
    } finally Run.stop(q)
  }

  test("dedupeWithinWatermark library op") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val df = graft.streaming.Stateful.dedupeWithinWatermark(
      input.toDF().toDF("ts", "key"), "ts", "10 minutes", Seq("key"))
    val q = df.writeStream.outputMode("append")
      .format("memory").queryName("ddw_out").start()
    try {
      input.addData((ts("2024-01-01 00:00:00"), "k1"), (ts("2024-01-01 00:01:00"), "k1"))
      q.processAllAvailable()
      assert(spark.table("ddw_out").count() == 1)
    } finally Run.stop(q)
  }

  test("generate-style rate source feeds the mapping pipeline") {
    val stream = spark.readStream.format("rate").option("rowsPerSecond", "50").load()
      .withColumn("content", concat(lit("msg-"), col("value")))
    val q = stream.writeStream.format("memory").queryName("rate_out").start()
    try {
      q.processAllAvailable()
      Thread.sleep(1200)
      q.processAllAvailable()
      assert(spark.table("rate_out").count() > 0)
    } finally Run.stop(q)
  }

  test("foreachBatch broker fan-out: one batch lands in N sinks with routing") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Int]
    val sinkA = scala.collection.mutable.ArrayBuffer.empty[Int]
    val sinkB = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q = input.toDF().writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
      val evens = batch.filter(col("value") % 2 === 0).as[Int].collect()
      val odds = batch.filter(col("value") % 2 === 1).as[Int].collect()
      sinkA.synchronized { sinkA ++= evens }
      sinkB.synchronized { sinkB ++= odds }
      ()
    }.start()
    try {
      input.addData(1, 2, 3, 4); q.processAllAvailable()
      assert(sinkA.toSet == Set(2, 4) && sinkB.toSet == Set(1, 3))
    } finally Run.stop(q)
  }
}
