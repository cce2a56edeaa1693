package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed interval. Times are epoch milliseconds (fractional). The
  * layer is the name's prefix before the first '.'. */
final case class Span(id: Int, name: String, start: Double, end: Double, parent: Int, iter: Int) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Double = end - start
}

/** Span recorder for the traced run. With `on = false` every method is a
  * pass-through, so untraced iterations run exactly the same calls.
  *
  * Spans come from three places:
  *  - the benchmark's own code, around each public call (`span`);
  *  - Spark's listener bus: jobs and stages (`EngineListener`), attached
  *    under the innermost span that contains their start;
  *  - streaming progress: one span per micro-batch, its `durationMs`
  *    phases laid out as children (`record`). */
final class Tracer(val on: Boolean) {
  private val t0n = System.nanoTime()
  private val t0e = System.currentTimeMillis().toDouble
  /** Epoch ms on the monotonic clock. */
  def now: Double = t0e + (System.nanoTime() - t0n) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var iter = -1
  /** Counts recorded at the same boundaries as the spans. */
  val counts = mutable.LinkedHashMap.empty[String, Double]
  /** Iteration id → (start, end) of the traced iterations. */
  val iterations = mutable.LinkedHashMap.empty[Int, (Double, Double)]

  def active: Boolean = on && iter >= 0
  def add(name: String, v: Double): Unit =
    if (active) counts(name) = counts.getOrElse(name, 0.0) + v

  private def id(): Int = { nextId += 1; nextId }

  def span[T](name: String)(f: => T): T =
    if (!active) f
    else {
      val me = id()
      val parent = stack.headOption.getOrElse(-1)
      val s = now
      stack = me :: stack
      try f
      finally {
        stack = stack.tail
        spans += Span(me, name, s, now, parent, iter)
      }
    }

  /** A span measured elsewhere (streaming progress); returns its id. */
  def record(name: String, start: Double, end: Double, parent: Int, inIter: Int = iter): Int = {
    val me = id()
    spans += Span(me, name, start, end, parent, inIter)
    me
  }

  /** Id of the innermost open benchmark span (for attaching records). */
  def current: Int = stack.headOption.getOrElse(-1)

  /** Run one traced iteration under a root span `bench.iteration`. */
  def iteration[T](i: Int)(f: => T): T =
    if (!on) f
    else {
      iter = i
      val s = now
      try span("bench.iteration")(f)
      finally { iterations(i) = (s, now); iter = -1 }
    }
}

/** Task-level record kept by the listener. */
final case class TaskRec(iter: Int, stageId: Int, launch: Double, finish: Double, runMs: Double,
                         cpuMs: Double, gcMs: Double, shWriteBytes: Double,
                         shWriteMs: Double, shReadBytes: Double, fetchWaitMs: Double,
                         spillBytes: Double, inputBytes: Double, failed: Boolean)
final case class JobRec(iter: Int, jobId: Int, start: Double, var end: Double, stageIds: Seq[Int])
final case class StageRec(iter: Int, stageId: Int, submit: Double, end: Double)
/** What a finished SQL action left in its QueryExecution. */
final case class QeRec(iter: Int, funcName: String, analysisMs: Double, optimizerMs: Double,
                       planningMs: Double,
                       writeBytes: Double, writeRecords: Double,
                       joinRows: Seq[Long])

/** Spark listener bus reader: jobs, stages, tasks and SQL executions. All
  * callbacks run on the bus thread; readers call `flush` first. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val qes = mutable.ArrayBuffer.empty[QeRec]
  private val observing = mutable.ArrayBuffer.empty[QueryExecution]
  @volatile private var flushed: CountDownLatch = null
  private val MarkerProp = "perfbench.marker"
  private val MarkerCol = "perfbench_marker"
  /** Traced iteration the bus is delivering events for (-1: none). Set
    * between two flushes, so every event of that iteration carries it. */
  @volatile var currentIter = -1

  /** Stages of the flush marker's jobs, left out of every record. */
  private val markerStages = mutable.HashSet.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty(MarkerProp) != null)) markerStages ++= e.stageIds
    else jobs += JobRec(currentIter, e.jobId, e.time.toDouble, -1, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.jobId == e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime if !markerStages(i.stageId))
      stages += StageRec(currentIter, i.stageId, s.toDouble, c.toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!markerStages(e.stageId)) task(e)
  }
  private def task(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val ti = e.taskInfo
    if (m != null) {
      val sw = m.shuffleWriteMetrics
      val sr = m.shuffleReadMetrics
      tasks += TaskRec(currentIter, e.stageId, ti.launchTime.toDouble, ti.finishTime.toDouble,
        m.executorRunTime.toDouble, m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
        sw.bytesWritten.toDouble, sw.writeTime / 1e6,
        (sr.remoteBytesRead + sr.localBytesRead).toDouble, sr.fetchWaitTime.toDouble,
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble, m.inputMetrics.bytesRead.toDouble,
        ti.failed)
    } else tasks += TaskRec(currentIter, e.stageId, ti.launchTime.toDouble, ti.finishTime.toDouble,
      0, 0, 0, 0, 0, 0, 0, 0, 0, ti.failed)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    if (qe.analyzed.output.exists(_.name == MarkerCol)) Option(flushed).foreach(_.countDown())
    else {
      val rec = EngineListener.summarize(currentIter, funcName, qe)
      synchronized {
        qes += rec
        if (qe.observedMetrics.keys.exists(_.startsWith(EngineListener.ObservePrefix))) observing += qe
      }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until every event posted before this call has been delivered:
    * run a marker SQL action and wait for its execution-end callback,
    * which the bus delivers after all earlier events. */
  def flush(spark: SparkSession): Unit = {
    val latch = new CountDownLatch(1)
    flushed = latch
    val sc = spark.sparkContext
    sc.setLocalProperty(MarkerProp, "1")
    try spark.range(0, 1, 1, 1).toDF(MarkerCol).collect()
    finally sc.setLocalProperty(MarkerProp, null)
    require(latch.await(60, TimeUnit.SECONDS), "listener bus did not drain")
  }

  /** Values of the benchmark's `Dataset.observe` counters seen since the
    * last call. They are read now, not when each action ended: a counter
    * under a lazy checkpoint only fills once a later job computes it. */
  def takeObserved(): Map[String, Long] = synchronized {
    val got = observing.flatMap(_.observedMetrics).collect {
      case (k, row) if k.startsWith(EngineListener.ObservePrefix) =>
        k.stripPrefix(EngineListener.ObservePrefix) -> row.getLong(0)
    }
    observing.clear()
    got.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object EngineListener {
  /** Name prefix of the benchmark's own `Dataset.observe` counters. */
  val ObservePrefix = "perfbench_"

  /** Every node of an executed plan, through adaptive and stage wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def metric(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  def summarize(iter: Int, funcName: String, qe: QueryExecution): QeRec = {
    val phases = qe.tracker.phases
    def ph(k: String): Double = phases.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val all = nodes(qe.executedPlan)
    val writers = all.filter(_.metrics.contains("numOutputBytes"))
    val joins = all.filter(_.nodeName.contains("Join")).map(metric(_, "numOutputRows").toLong)
    QeRec(iter, funcName, ph("analysis"), ph("optimization"), ph("planning"),
      writers.map(metric(_, "numOutputBytes")).sum, writers.map(metric(_, "numOutputRows")).sum,
      joins)
  }
}
