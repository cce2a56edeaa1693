package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.SparkSession

/** What one workload iteration reports: input records, wall time from
  * input to a verified result, and whether the output passed its check. */
final case class Iter(records: Long, wallMs: Double, ok: Boolean)

/** The running session plus everything a workload needs around it. */
final class Env(val spark: SparkSession, val cores: Int, val work: File, val tracer: Tracer) {
  /** A fresh directory under the run's work dir (outputs, checkpoints),
    * never reused within the run, whichever session asks. */
  def scratch(prefix: String): File = {
    val d = new File(work, s"$prefix-${Env.seq.incrementAndGet()}")
    d.mkdirs()
    d
  }
}

object Env {
  private val seq = new java.util.concurrent.atomic.AtomicInteger
}

object Session {
  /** local[cores] session with the repo's bench settings, except two
    * shuffle partitions per core: with one, every stage waits for its
    * slowest core, and a core slowed by the host swung corpus_dedup's
    * throughput by 30 % between runs. UDFs are registered here (part of
    * set-up, as for every program entry point). */
  def build(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "5000")
      .config("spark.sql.streaming.noDataProgressEventInterval", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Udfs.register(spark)
    spark
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Proc {
  /** Process CPU time (all threads), ms. */
  def cpuMs: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => throw new IllegalStateException("process CPU time unavailable")
  }
  /** Peak resident set size of this JVM (VmHWM), MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Fs {
  def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
  }
  /** Write under a hidden name, then rename: a streaming file source never
    * lists a half-written file (names starting with '.' are skipped). */
  def writeAtomic(dir: File, name: String, s: String, mtimeMs: Long = -1L): Unit = {
    val tmp = new File(dir, s".$name.tmp")
    Files.write(tmp.toPath, s.getBytes(StandardCharsets.UTF_8))
    if (mtimeMs >= 0) tmp.setLastModified(mtimeMs)
    Files.move(tmp.toPath, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }
}

/** JSON for the result, detail and span files, written by Jackson. Maps
  * keep their order; a non-finite number is refused, never printed. */
object Json {
  private val mapper = new ObjectMapper()
  def write(v: Any): String = mapper.writeValueAsString(toJava(v))
  private def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case xs: Iterable[_] =>
      val out = new java.util.ArrayList[Any]
      xs.foreach(x => out.add(toJava(x)))
      out
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric $d")
      d
    case other => other
  }
}
