package org.apache.spark.sql.graftshim

import java.util.{Collections, WeakHashMap}

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.sql.{Dataset => ApiDataset}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one way the engine takes a local checkpoint. Three rules hold for
  * every checkpoint it makes:
  *
  *  - PIN (lazy form): the origin Dataset stays reachable as long as the
  *    checkpoint's RDD is. A lazy checkpoint that two jobs compute for the
  *    first time at once (AQE submits both exchanges of a self-join
  *    together) races: the first job to finish truncates the RDD's
  *    lineage, and with it the last strong reference to the origin plan's
  *    SQL metrics. Once GC collects them, the ContextCleaner drops their
  *    accumulators and the other job's task updates fail with "attempted
  *    to access non-existent accumulator". The pin lives in a weak map
  *    keyed by the checkpoint's RDD: every plan that reads the checkpoint
  *    holds that RDD, and the origin does not, so the pin lasts exactly as
  *    long as any reader.
  *  - CLAMP: Spark captures the origin plan's Statistics into the
  *    checkpoint's LogicalRDD. In an iterative self-join loop the captured
  *    sizeInBytes doubles in bit length per round, and a slow-converging
  *    connected-components graph reaches BigInteger overflow inside
  *    Catalyst planning around round 30. The carried sizeInBytes and
  *    rowCount are clamped to Long.MaxValue: any smaller size passes
  *    through exactly, so broadcast decisions and plans do not change.
  *    The origin constraints are carried unchanged.
  *  - RELEASE: `Dataset.unpersist()` does nothing for a checkpoint (it only
  *    uncaches the CacheManager entry, and a checkpoint has none), so the
  *    blocks stay until GC collects the RDD. [[release]] removes them
  *    through [[dropBlocks]].
  *    Only release a frame that nothing reads again: a local checkpoint
  *    has no recomputable lineage, so a released frame that IS read again
  *    fails rather than recomputes.
  *
  * Lives in the org.apache.spark.sql tree for access to the private[sql]
  * Dataset constructor and LogicalRDD.
  */
object Checkpoint {
  private val cap = BigInt(Long.MaxValue)
  private[graftshim] val pins = Collections.synchronizedMap(new WeakHashMap[RDD[_], ApiDataset[_]]())

  /** A lazy local checkpoint: materialized by the first job that reads it. */
  def lazily[T](ds: ApiDataset[T]): ApiDataset[T] = {
    val cp = clamp(ds.localCheckpoint(false))
    rdds(cp).foreach(pins.put(_, ds))
    cp
  }

  /** An eager local checkpoint: materialized before it returns. */
  def now[T](ds: ApiDataset[T]): ApiDataset[T] = clamp(ds.localCheckpoint(true))

  /** Remove the blocks of every checkpoint `ds` reads and drop their pins.
    * A never-materialized checkpoint has no blocks; the call is then a
    * no-op, as it is for a plan with no checkpoint. */
  def release(ds: ApiDataset[_]): Unit = rdds(ds).foreach { rdd =>
    pins.remove(rdd)
    dropBlocks(rdd, blocking = false)
  }

  /** Remove `rdd`'s blocks. `RDD.unpersist` warns, for every local
    * checkpoint, that its lineage cannot be recomputed; a release means
    * exactly that, so a checkpoint's blocks go through
    * `SparkContext.unpersistRDD`, the same removal without the warning.
    * Any other RDD takes `RDD.unpersist`. */
  def dropBlocks(rdd: RDD[_], blocking: Boolean): Unit =
    if (rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]))
      rdd.sparkContext.unpersistRDD(rdd.id, blocking)
    else rdd.unpersist(blocking)

  private def rdds(ds: ApiDataset[_]): Seq[RDD[_]] =
    ds.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  private def clamp[T](ds: ApiDataset[T]): ApiDataset[T] = ds.queryExecution.analyzed match {
    case lr: LogicalRDD =>
      val s = lr.stats
      val capped = Statistics(
        sizeInBytes = s.sizeInBytes.min(cap),
        rowCount = s.rowCount.map(_.min(cap)),
        attributeStats = s.attributeStats,
        isRuntime = s.isRuntime)
      val session = ds.sparkSession.asInstanceOf[SparkSession]
      Dataset(session,
        LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
          lr.isStreaming, lr.stream)(session, Some(capped), Some(lr.constraints)))(ds.encoder)
    case _ => ds
  }
}
