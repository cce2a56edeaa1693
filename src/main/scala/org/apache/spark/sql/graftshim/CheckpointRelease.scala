package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Release the block-manager storage behind a `localCheckpoint`'ed
  * Dataset. The ContextCleaner reclaims checkpoint blocks only when GC
  * collects the plan's weak references — inside an iterative loop
  * (connectedComponents' per-round label frames) every round's blocks
  * stay resident for the life of the job unless released explicitly.
  * Only call on frames that are provably no longer consumed: a
  * localCheckpoint has no recomputable lineage, so a released frame
  * that IS read again fails rather than recomputes. Safe no-op on
  * never-materialized (lazy) checkpoints and on plans with no
  * checkpoint node.
  */
object CheckpointRelease {
  def unpersist(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ =>
    }
}
