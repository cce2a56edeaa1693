package org.apache.spark.sql.graftshim

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryWrapper, TERMINATED}
import org.apache.spark.sql.streaming.StreamingQuery

/** Stop a micro-batch query BETWEEN triggers. `StreamingQuery.stop()`
  * interrupts the trigger that is running, and a no-data batch may be
  * committing state just then: each interrupted state-store commit logs a
  * `CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT` ERROR trace, one per state
  * partition. So the query is first marked TERMINATED — what an
  * `AvailableNow` query does itself once its input is done: a running
  * trigger finishes and commits, and no further trigger starts. The
  * loop may then be asleep until its next trigger time; two idle status
  * reads a millisecond apart show that no trigger runs or is starting,
  * and only then does `stop()` interrupt, cutting the sleep short. After
  * `timeoutMs` it interrupts regardless. Lives in the org.apache.spark.sql
  * tree for access to the private[sql] query classes (the
  * Checkpoint pattern); the state field is protected, so it is
  * read through its public bytecode accessor.
  */
object GracefulStop {
  private val stateField = classOf[StreamExecution].getMethod("state")

  private def exec(q: StreamingQuery): Option[StreamExecution] = q match {
    case w: StreamingQueryWrapper => Some(w.streamingQuery)
    case _ => None
  }

  /** Mark `q` TERMINATED and return at once: the trigger that is running
    * finishes and commits, and the loop starts no other. */
  def markTerminated(q: StreamingQuery): Unit =
    exec(q).foreach(e => stateField.invoke(e).asInstanceOf[AtomicReference[AnyRef]].set(TERMINATED))

  /** The end offsets (offset JSON, one per source) of the batch `q` runs
    * now or ran last. A trigger plans its batch only after it has checked
    * that the query is active, so a batch seen here runs to its commit
    * even when the query is marked TERMINATED from now on. */
  def plannedEndOffsets(q: StreamingQuery): Seq[String] =
    exec(q).toSeq.flatMap { e =>
      Option(e.getLatestExecutionContext()).flatMap(c => Option(c.endOffsets)).toSeq
        .flatMap(_.values.map(_.json))
    }

  def apply(q: StreamingQuery, timeoutMs: Long): Unit = {
    markTerminated(q)
    exec(q).foreach { e =>
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      var idleReads = 0
      while (e.queryExecutionThread.isAlive && idleReads < 2 && System.nanoTime() < deadline) {
        idleReads = if (q.status.isTriggerActive) 0 else idleReads + 1
        Thread.sleep(1)
      }
    }
    q.stop()
    q.awaitTermination()
  }
}
