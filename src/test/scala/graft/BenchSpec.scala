package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The bench's two records: the stdout summary a driver keeps the tail
  * of, and the full per-query record. */
class BenchSpec extends AnyFunSuite {
  private val names = SparkEntry.benchQueries

  test("the summary line stays short for every bench row; per-query maps go to the full record") {
    assert(names.size == 98 && names.distinct.size == 98)
    val runs = names.map(n => n -> Seq(1234.567, 9999.999, 0.001))
    // worst case: every row failed, with long timings
    val (summary, full) = Bench.records(runs, names, 0.123, "/root/testdata/sf0.1",
      Seq("note" -> "\"n\""))
    val bytes = summary.getBytes("UTF-8").length
    assert(bytes < 400 && bytes < 1900, s"$bytes B: $summary")
    val json = new ObjectMapper()
    val s = json.readTree(summary)
    assert(s.fieldNames().asScala.toSet ==
      Set("metric", "value", "unit", "stat", "min_total", "calibration",
        "norm_min_total", "failed", "sf"))
    assert(s.get("stat").asText == "median" && s.get("failed").asInt == 98)
    // value = sum of medians, min_total = sum of mins
    assert(math.abs(s.get("value").asDouble - 98 * 1234.567) < 1e-6)
    assert(math.abs(s.get("min_total").asDouble - 98 * 0.001) < 1e-6)
    val f = json.readTree(full)
    Seq("mins", "medians", "runs").foreach(k =>
      assert(f.get(k).fieldNames().asScala.toSeq == names, k))
    assert(f.get("medians").get("agg_q1").asDouble == 1234.567)
    assert(f.get("mins").get("agg_q1").asDouble == 0.001)
    assert(f.get("runs").get("agg_q1").size == 3)
    assert(f.get("failed_rows").size == 98 && f.get("note").asText == "n")
  }
}
