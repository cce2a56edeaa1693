package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, ArrayTransform, ScalaUDF, SortArray, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.LogicalRDD

import graft.core.Tables
import graft.ml.Dedup

/** The optimized plan of `Dedup.minhashLshPairs`, read through its lazy
  * checkpoints. Lives in the org.apache.spark.sql tree for the origin
  * frames `Checkpoint` pins. */
class LshPlanSpec extends graft.SparkSpec {

  /** The origin plan of the lazy checkpoint `p` scans, if it is one. */
  private def origin(p: LogicalPlan): Option[LogicalPlan] = p match {
    case lr: LogicalRDD => Option(Checkpoint.pins.get(lr.rdd)).map(_.queryExecution.optimizedPlan)
    case _ => None
  }

  /** `p` and, below every checkpoint scan, that checkpoint's origin. */
  private def lineage(p: LogicalPlan): Seq[LogicalPlan] =
    p.collect { case n => n } ++ p.collectLeaves().flatMap(origin).flatMap(lineage)

  test("minhashLshPairs: one kernel call per document, no Column chain, no bucket self-join") {
    val pairs = Dedup.minhashLshPairs(Tables(spark, sf, "documents"), "doc_id", "text")
    val plan = pairs.queryExecution.optimizedPlan
    // the verification joins: (candidates ⋈ shingles of id_a) ⋈ shingles of id_b
    val joins = plan.collect { case j: Join => j }
    assert(joins.size == 2, s"${joins.size} joins above the candidates:\n$plan")
    val Seq(top, verifyA) = joins
    // the signature stage: the checkpoint the id_b shingles are read from
    val sigStage = top.right.collectLeaves().flatMap(origin)
    assert(sigStage.size == 1, s"the id_b side reads ${sigStage.size} checkpoints")
    val exprs = sigStage.head.collect { case n => n.expressions }.flatten
    val udfs = exprs.flatMap(_.collect { case u: ScalaUDF => u })
    assert(udfs.size == 1, s"${udfs.size} UDF calls per document in the signature stage:\n${sigStage.head}")
    val chain = exprs.flatMap(_.collect {
      case e @ (_: ArrayTransform | _: StringSplit | _: ArrayDistinct | _: SortArray) => e.prettyName })
    assert(chain.isEmpty, s"Column chain in the signature stage: ${chain.distinct}")
    // the candidate stage: everything below the first verification join's left side
    val selfJoins = lineage(verifyA.left).collect { case j: Join => j }
    assert(selfJoins.isEmpty, s"joins in the candidate stage:\n${selfJoins.mkString("\n")}")
    assert(pairs.count() > 0)
  }
}
