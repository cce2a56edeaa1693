package org.apache.spark.sql.graftshim

import java.lang.ref.WeakReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.util.AccumulatorContext

import graft.ml.{Bpe, Similarity}

/** The pin, the release and the call sites that release. Lives in the
  * org.apache.spark.sql tree for the private[spark] AccumulatorContext. */
class CheckpointSpec extends graft.SparkSpec {
  import spark.implicits._

  private def metricIds(p: SparkPlan): Seq[Long] = p match {
    case a: AdaptiveSparkPlanExec => metricIds(a.executedPlan)
    case s: QueryStageExec => metricIds(s.plan)
    case _ => p.metrics.values.map(_.id).toSeq ++ p.children.flatMap(metricIds)
  }

  /** Collect garbage and give the ContextCleaner time to act on it. */
  private def settle(until: => Boolean = false): Unit = {
    var i = 0
    while (!until && i < 20) { System.gc(); Thread.sleep(150); i += 1 }
  }

  // built in their own frames, so no local slot of the test keeps the origin
  private def pinned(): (DataFrame, Seq[Long]) = {
    val origin = spark.range(0, 20000, 1, 8).select(col("id"), (col("id") % 97).as("k"))
    val cp = Checkpoint.lazily(origin)
    (cp, metricIds(origin.queryExecution.executedPlan))
  }

  private def unreachable(): WeakReference[DataFrame] = {
    val origin = spark.range(0, 1000, 1, 4).toDF("id")
    assert(Checkpoint.lazily(origin).count() == 1000)
    new WeakReference(origin)
  }

  test("a lazy checkpoint keeps its origin plan's metrics through a self-join's first reads and GC") {
    val (cp, ids) = pinned()
    assert(ids.nonEmpty, "the origin plan has no SQL metrics to check")
    // AQE submits both exchanges at once: two jobs compute the fresh
    // checkpoint for the first time together
    val pairs = cp.as("a").join(cp.as("b"), "k").count()
    settle()
    // get throws for a collected accumulator the cleaner has not removed yet
    val lost = ids.filter(id => scala.util.Try(AccumulatorContext.get(id)).toOption.flatten.isEmpty)
    assert(lost.isEmpty, s"origin accumulators cleaned while the checkpoint lives: $lost")
    assert(pairs == (0 until 97).map { k => val n = (20000 - k + 96) / 97; n.toLong * n }.sum)
    assert(cp.count() == 20000) // cp stays reachable until here
  }

  test("the pin dies once the checkpointed frame is unreachable") {
    val ref = unreachable()
    // a WeakHashMap drops a dead key's entry, and with it the pinned
    // value, at its next access
    settle(until = { Checkpoint.pins.size(); ref.get == null })
    assert(ref.get == null, "the origin outlived its checkpoint")
  }

  /** The messages Spark's loggers emit at WARN and above during `body`,
    * whatever the session's log level. */
  private def warnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("checkpoint-spec", null, null, true, Property.EMPTY_ARRAY) {
      def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val logger = new LoggerConfig("org.apache.spark", Level.WARN, false)
    logger.addAppender(app, Level.WARN, null)
    ctx.getConfiguration.addLogger("org.apache.spark", logger)
    ctx.updateLoggers()
    try body
    finally {
      ctx.getConfiguration.removeLogger("org.apache.spark")
      ctx.updateLoggers()
      app.stop()
    }
    import scala.jdk.CollectionConverters._
    lines.asScala.toSeq
  }

  test("release drops a materialized checkpoint's blocks without the lineage warning; other RDDs unpersist") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val cp = Checkpoint.lazily(spark.range(0, 100, 1, 2).toDF("id"))
    val rdd = cp.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.head
    assert(cp.count() == 100 && persisted.contains(rdd.id))
    // the capture sees the warning Spark logs for every unpersisted checkpoint
    val direct = warnings(spark.range(0, 10, 1, 1).rdd.localCheckpoint().unpersist())
    assert(direct.count(_.contains("was locally checkpointed")) == 1, direct)
    val logged = warnings(Checkpoint.release(cp))
    assert(!persisted.contains(rdd.id), s"RDD ${rdd.id} still persisted after release")
    assert(!logged.exists(_.contains("was locally checkpointed")), logged)
    val cached = spark.sparkContext.parallelize(1 to 10).cache()
    assert(cached.count() == 10 && persisted.contains(cached.id))
    Checkpoint.dropBlocks(cached, blocking = true)
    assert(!persisted.contains(cached.id) &&
      cached.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("release removes the checkpoint's RDD; ivfCentroids and bpeMerges release what they take") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val cp = Checkpoint.now(spark.range(0, 100, 1, 2).toDF("id"))
    val id = cp.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.head
    assert(persisted.contains(id))
    Checkpoint.release(cp)
    assert(!persisted.contains(id), s"RDD $id still persisted after release")

    val before = persisted
    val emb = spark.range(0, 200, 1, 4).select(col("id").as("vec_id"),
      array((0 until 8).map(i => sin(col("id") * (i + 1))): _*).as("embedding"))
    assert(Similarity.ivfCentroids(emb, "vec_id", "embedding", 8, nCells = 4, iters = 2).length == 4)
    assert((persisted -- before).isEmpty, s"ivfCentroids left ${persisted -- before}")
    val docs = Seq("low lower lowest", "newer newest wider", "low newest").toDF("text")
    // localVocabLimit = 0 forces the distributed loop and its per-merge checkpoints
    assert(Bpe.bpeMerges(docs, "text", nMerges = 4, localVocabLimit = 0).count() == 4)
    assert((persisted -- before).isEmpty, s"bpeMerges left ${persisted -- before}")
  }
}
