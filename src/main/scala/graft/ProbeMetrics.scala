package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Shared streaming-probe metrics: accumulates state/sink numbers via a
  * StreamingQueryListener (q.recentProgress retains only the last 100
  * updates — a 10 ms trigger burns that in a second, dropping early data
  * batches and late eviction batches; round-13 advice), and [[finish]]
  * polls until the async listener bus has delivered the progress event
  * for the query's FINAL batch (a fixed sleep undercounted the terminal
  * numRowsTotal/state bytes on loaded hosts; round-14 advice). One
  * instance per measured query: removed/emitted accumulate across
  * batches, stateRows/stateBytes hold the last-seen (terminal) values.
  */
final class ProbeMetrics(spark: SparkSession) {
  val removed = new java.util.concurrent.atomic.AtomicLong()
  val emitted = new java.util.concurrent.atomic.AtomicLong()
  @volatile var stateRows = 0L
  @volatile var stateBytes = 0L
  @volatile private var lastSeenBatch = -1L
  // the measured query's id: the listener is SESSION-wide, so without
  // this filter a second streaming query in the probe session would
  // silently co-mingle its metrics (r15 advice). Bound explicitly via
  // bind(q) right after start(); before binding, the first query to
  // report claims the slot (probes start exactly one query).
  private val boundId =
    new java.util.concurrent.atomic.AtomicReference[java.util.UUID](null)

  // pre-bind events from NOT-yet-latched queries, per query id: without
  // this, a measured query whose first progress lands between start()
  // and bind() while a warmup stream holds the latch would lose those
  // early batches unrecoverably after the bind-time reset (r16 advice).
  // One compact tuple per event; the pre-bind window is a few events at
  // most, but cap defensively so an unbound long-runner can't grow it.
  private final case class Ev(removed: Long, emitted: Long,
                              stateRows: Long, stateBytes: Long, batchId: Long)
  private val preBind =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.util.ArrayDeque[Ev]]()
  private val preBindCap = 256

  private def applyEv(ev: Ev): Unit = {
    removed.addAndGet(ev.removed)
    if (ev.emitted > 0) emitted.addAndGet(ev.emitted)
    if (ev.stateRows >= 0) { stateRows = ev.stateRows; stateBytes = ev.stateBytes }
    lastSeenBatch = math.max(lastSeenBatch, ev.batchId)
  }

  // bind() and event application share this monitor: without it, a
  // progress event for the newly bound query landing between the
  // boundId swap and the counter reset would be applied directly and
  // then WIPED by the reset (the bus delivers listener-vs-listener
  // serially, but the bind caller is a different thread entirely —
  // r17 advice). Contention is trivial: one event per micro-batch.
  private val evLock = new Object

  /** Pin the listener to one query; call immediately after start().
    * If the first-to-report heuristic latched a DIFFERENT query before
    * bind ran (a warmup stream racing the bind call), discard whatever
    * that query already accumulated — repointing the id alone would
    * keep the polluted counters (review finding r16) — then REPLAY the
    * bound query's buffered pre-bind events so its early batches are
    * retained rather than dropped (r16 advice). */
  def bind(q: StreamingQuery): Unit = evLock.synchronized {
    val prev = boundId.getAndSet(q.id)
    if (prev != null && prev != q.id) {
      removed.set(0L); emitted.set(0L)
      stateRows = 0L; stateBytes = 0L; lastSeenBatch = -1L
      // under evLock no bound-query event can interleave between the
      // swap above and this reset; the buffer holds everything that
      // arrived before bind took the lock
      Option(preBind.remove(q.id)).foreach { buf =>
        buf.forEach(ev => applyEv(ev))
      }
    }
    preBind.clear() // no further pre-bind stashing needed once bound
  }

  private val listener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val stateOps = Option(e.progress.stateOperators).toSeq.flatten
      val ev = Ev(
        removed = stateOps.map(_.numRowsRemoved).sum,
        emitted = Option(e.progress.sink).map(_.numOutputRows).getOrElse(0L),
        stateRows = stateOps.lastOption.map(_.numRowsTotal).getOrElse(-1L),
        stateBytes = stateOps.lastOption.map(_.memoryUsedBytes).getOrElse(0L),
        batchId = e.progress.batchId)
      evLock.synchronized {
        boundId.compareAndSet(null, e.progress.id)
        if (boundId.get != e.progress.id) {
          // not the latched query: stash in case bind() later claims it
          val buf = preBind.computeIfAbsent(e.progress.id,
            _ => new java.util.ArrayDeque[Ev]())
          if (buf.size < preBindCap) buf.add(ev)
        } else applyEv(ev)
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }
  spark.streams.addListener(listener)

  /** Wait (bounded) for the final batch's progress event, then detach. */
  def finish(q: StreamingQuery): Unit = {
    val targetBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    val busDeadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (lastSeenBatch < targetBatch && System.nanoTime() < busDeadline)
      Thread.sleep(20)
    spark.streams.removeListener(listener)
  }
}
