package graft.operators

import graft.core.{Msg, Processor}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Checkpoint
import org.apache.spark.sql.types._

/** Processor catalog (SURVEY §2.4) re-expressed as lazy DataFrame
  * transforms. Every processor composes into ONE Catalyst plan, so filters
  * written in a `Mapping` still push down to the parquet scan even with ten
  * processors in between — the scale-critical property.
  */
object Processors {

  /** `mapping` (processor_mapping.go:21): Bloblang map → brand-new doc.
    * A projection: `select` of named Column expressions. Row-dropping
    * (`root = deleted()`) is the optional `keep` predicate.
    */
  def mapping(fields: (String, Column)*): Processor =
    Processor("mapping")(df => df.select(fields.map { case (n, c) => c.as(n) }: _*))

  /** `mutation` (processor_mutation.go:21): in-place edit → withColumns. */
  def mutation(fields: (String, Column)*): Processor =
    Processor("mutation")(df => df.withColumns(fields.toMap))

  /** Bloblang `deleted()` as a filter (functions.go:331). */
  def deleteWhere(cond: Column): Processor =
    Processor("delete_where")(df => df.filter(!coalesce(cond, lit(false))))

  /** `bounds_check` (processor_bounds_check.go:26). */
  def boundsCheck(col_ : Column, minLen: Int, maxLen: Int): Processor =
    Processor("bounds_check")(df => df.filter(length(col_).between(minLen, maxLen)))

  /** Index of the first case whose condition is TRUE, else
    * `conds.size`; a null condition counts as false. One CASE WHEN,
    * evaluated once per row, that tries each condition at most once. */
  private def caseTag(conds: Seq[Column]): Column =
    conds.zipWithIndex.foldLeft(Option.empty[Column]) { case (acc, (c, i)) =>
      Some(acc.fold(when(c, lit(i)))(_.when(c, lit(i))))
    }.fold(lit(conds.size))(_.otherwise(lit(conds.size)))

  private val SwitchTag = "__switch_case"

  /** Single-pass `switch` for expression-only cases (the common shape):
    * each case assigns columns; first matching case wins, unmatched rows
    * fall through to `default` assignments (or keep their current value).
    * Collapses to ONE projection over a case tag ([[switchCases]]) — one
    * scan, no union, fully codegen'd. The compiled config `switch`
    * (graft.conn.PipelineConfig) merges its cases into the same shape.
    * Use [[switch]] only when a case genuinely needs an arbitrary
    * sub-plan (aggregation, join, explode).
    */
  def switchExpr(cases: Seq[(Column, Seq[(String, Column)])],
                 default: Seq[(String, Column)] = Nil): Processor =
    Processor("switch_expr") { df =>
      val names = (df.columns.toSeq ++ cases.flatMap(_._2.map(_._1)) ++ default.map(_._1)).distinct
      def outputs(assigns: Seq[(String, Column)]): Seq[(String, Column)] = names.map { n =>
        n -> assigns.collectFirst { case (`n`, v) => v }
          .getOrElse(if (df.columns.contains(n)) col(n) else lit(null))
      }
      switchCases(cases.map(_._1), cases.map(c => outputs(c._2)) :+ outputs(default))(df)
    }

  /** The single-projection switch: a case tag ([[caseTag]] over `conds`)
    * picks, per row, which entry of `outputs` gives the row's columns;
    * the last entry serves rows no condition matched. Every entry names
    * the same output columns (the first entry's order is kept). Where
    * `deletes(i)` is TRUE for a row of case i, the row is dropped. */
  def switchCases(conds: Seq[Column], outputs: Seq[Seq[(String, Column)]],
                  deletes: Seq[Option[Column]] = Nil): Processor =
    Processor("switch_expr") { df =>
      val tag = col(SwitchTag)
      def byTag(vs: Seq[Column]): Column =
        if (vs.distinct.size == 1) vs.head
        else vs.init.zipWithIndex.foldLeft(Option.empty[Column]) { case (acc, (v, i)) =>
          Some(acc.fold(when(tag === i, v))(_.when(tag === i, v)))
        }.get.otherwise(vs.last)
      val tagged = df.withColumn(SwitchTag, caseTag(conds))
      val kept =
        if (deletes.forall(_.isEmpty)) tagged
        else tagged.filter(!coalesce(byTag(outputs.indices.map(i =>
          deletes.lift(i).flatten.getOrElse(lit(false)))), lit(false)))
      val byName = outputs.map(_.toMap)
      kept.select(outputs.head.map { case (n, _) => byTag(byName.map(_(n))).as(n) }: _*)
    }

  /** `switch` (processor_switch.go:29): (predicate → processors) cases.
    * The first-match case tag is computed once per row and the tagged
    * frame materialized (lazy localCheckpoint); each case and the default
    * then read the checkpoint filtered on their tag, so N cases cost one
    * scan and at most N condition evaluations per row. Filter-split +
    * unionByName keeps each branch an independent subplan that Spark
    * schedules in parallel. The config `switch` lands here only when it
    * does not compile (graft.conn.PipelineConfig): a check outside the
    * compiled Bloblang subset, a case step other than a compiling
    * mapping (jq, a nested switch, …), cases that disagree on output
    * columns, types or serialization, or a frame already enveloped by an
    * earlier stage. Prefer [[switchExpr]] for expression-only cases,
    * which is a single pass.
    */
  def switch(cases: Seq[(Column, Processor)], default: Processor = Processor.noop): Processor =
    Processor("switch") { df =>
      val src = Checkpoint.lazily(df.withColumn(SwitchTag, caseTag(cases.map(_._1))))
      (cases.map(_._2) :+ default).zipWithIndex.map { case (proc, i) =>
        proc(src.filter(col(SwitchTag) === i).drop(SwitchTag))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    }

  /** `branch` (processor_branch.go:25-44): request_map → child → result_map
    * merged back. Implemented as a self-join on a synthetic row id — the
    * child subplan may aggregate/re-shape freely, then results attach back
    * to the original rows. Broadcast the child when it's small.
    */
  def branch(requestMap: DataFrame => DataFrame,
             child: Processor,
             resultCols: Seq[String],
             broadcastResult: Boolean = false): Processor =
    Processor("branch") { df =>
      // The id'd frame is localCheckpoint'ed (lazy): monotonically_increasing_id
      // is evaluated ONCE and both join sides read the same materialized
      // partitions — stable under AQE re-planning and stage retry, and the
      // input is scanned once instead of twice. broadcastResult defaults to
      // false: unconditional broadcast of an unbounded child result is a
      // driver-OOM hazard; opt in only for provably small results.
      val withId = Checkpoint.lazily(df.withColumn("_branch_id", monotonically_increasing_id()))
      val req = requestMap(withId.select((df.columns.map(col) :+ col("_branch_id")): _*))
      val res = child(req).select((resultCols.map(col) :+ col("_branch_id")): _*)
      val rhs = if (broadcastResult) broadcast(res) else res
      withId.join(rhs, Seq("_branch_id"), "left").drop("_branch_id")
    }

  /** `dedupe` (processor_dedupe.go:20-31): drop rows whose key was already
    * seen. Deterministic winner = lowest `orderBy` value (the reference's
    * "first seen" under its single-threaded cache). One shuffle on the key
    * via groupBy + min_by — partial aggregation absorbs a hot dedup key
    * map-side, where a row_number window would pile every duplicate of
    * one key into a single task (window-skew audit, PLANS.md). NULL
    * `orderBy` values rank first (the window form's nulls-first) and
    * never drop rows: bare min_by ignores NULL-ordered rows, so the
    * ordering rides a never-null (isNotNull, value) struct.
    */
  def dedupe(keys: Seq[Column], orderBy: Column): Processor =
    Processor("dedupe") { df =>
      val cols = df.columns.toSeq
      df.groupBy(keys: _*)
        .agg(min_by(struct(cols.map(col): _*),
          struct(orderBy.isNotNull, orderBy)).as("_w"))
        .select(cols.map(c => col("_w").getField(c).as(c)): _*)
    }

  /** row_number-within-group WITHOUT a per-group single-task funnel — the
    * documented escape hatch for the one window shape the skew audit
    * could not convert (PLANS.md round-12): rank semantics need a total
    * per-group order, and a plain `Window.partitionBy(key)` sends every
    * row of one group to ONE task — fine for bounded groups, a straggler
    * when one group holds a large share of a 100 TB table.
    *
    * Two-phase plan, fully declarative: (1) range-partition on
    * (key, order) so each group occupies a contiguous RUN of partitions
    * and every partition holds at most a partition-sized slice of any
    * group; (2) local row_number per (key, partition) — group size is
    * bounded by the partition size, never the group size; (3) per-
    * (partition, key) counts (a tiny table: ≈ #groups + #partitions rows,
    * because ranged groups are contiguous) → running offsets per key →
    * broadcast back; final number = offset + local number. Two data
    * shuffles total (range + local-window hash) vs the plain window's
    * one — the price of skew immunity, so use the plain window when
    * groups are known-bounded (dimension keys at gate SF) and this when
    * they are not.
    *
    * `order` must be a TOTAL order within each group (add a unique
    * tiebreak — same contract that makes the plain window deterministic).
    * The ranged partition ids feed both the counts and the final join, so
    * the ranged frame is localCheckpoint'ed once to pin them. The offsets
    * table scales with #distinct keys + #partitions — small exactly where
    * this operator applies (few keys, huge groups), where AQE broadcasts
    * it; at high key cardinality groups are small and the plain window
    * doesn't skew in the first place, and the un-hinted join degrades to
    * a shuffle instead of OOMing the driver. */
  def scalableRowNumber(df: DataFrame, key: Column, order: Seq[Column],
                        outCol: String = "rn",
                        numPartitions: Option[Int] = None): DataFrame = {
    val cols = df.columns.toSeq
    // default width is AQE's to pick (coalesces small inputs, splits at
    // scale); the explicit knob exists for tests and fixed-width plans
    val ranged = numPartitions
      .map(n => df.repartitionByRange(n, (key +: order): _*))
      .getOrElse(df.repartitionByRange((key +: order): _*))
    val local = Checkpoint.lazily(ranged
      .withColumn("_rwg_pid", org.apache.spark.sql.functions.spark_partition_id()))
      .withColumn("_rwg_lrn", row_number().over(
        Window.partitionBy(key, col("_rwg_pid")).orderBy(order: _*)))
    val counts = local.groupBy(col("_rwg_pid").as("_rwg_pid2"), key.as("_rwg_k"))
      .agg(count(lit(1)).as("_rwg_c"))
    val offW = Window.partitionBy("_rwg_k").orderBy("_rwg_pid2")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("_rwg_off", coalesce(sum("_rwg_c").over(offW), lit(0L)))
      .select(col("_rwg_pid2"), col("_rwg_k"), col("_rwg_off"))
    // no broadcast HINT: the offsets table scales with #distinct keys ×
    // #partitions, so a forced broadcast would OOM the driver exactly
    // when a caller misuses this on a high-cardinality key; size
    // estimates + AQE still pick broadcast for the intended few-key
    // shape, and degrade to a shuffle join instead of failing otherwise
    local.join(offsets,
        col("_rwg_pid") === col("_rwg_pid2") && (key <=> col("_rwg_k")))
      .withColumn(outCol, col("_rwg_off") + col("_rwg_lrn"))
      .select((cols :+ outCol).map(col): _*)
  }

  /** `archive` with `json_array`/`lines` format (processor_archive.go:21):
    * many rows → one row per group. Sorted collect keeps output deterministic.
    */
  def archive(groupBy: Seq[Column], payload: Column, sep: String = "\n"): Processor =
    Processor("archive") { df =>
      df.groupBy(groupBy: _*)
        .agg(array_join(array_sort(collect_list(payload.cast(StringType))), sep).as("archived"))
    }

  /** `unarchive` json_array/lines (processor_unarchive.go:25): 1 row → N. */
  def unarchiveLines(src: Column, as: String, sep: String = "\n"): Processor =
    Processor("unarchive") { df =>
      df.withColumn(as, explode(org.apache.spark.sql.functions.split(src, java.util.regex.Pattern.quote(sep))))
    }

  /** `unarchive` format json_array: explode a JSON array payload. */
  def unarchiveJsonArray(src: Column, elementType: DataType, as: String): Processor =
    Processor("unarchive_json") { df =>
      df.withColumn(as, explode(from_json(src, ArrayType(elementType))))
    }

  /** `group_by_value` (processor_group_by_value.go:26): tag rows with their
    * group; downstream aggs use the tag. (Grouping itself is `groupBy`.) */
  def groupByValue(value: Column, as: String = "group_key"): Processor =
    Processor("group_by_value")(df => df.withColumn(as, value))

  /** `group_by` (processor_group_by.go:27): route each row to the FIRST
    * group whose check matches, run that group's processors, union the
    * results. The group tag is computed once (single when/otherwise
    * projection); rows matching no check are dropped, as in the
    * reference's default. Schemas may diverge per group — the union is
    * by name with nulls for missing columns. */
  def groupByChecks(cases: Seq[(Column, Processor)]): Processor =
    Processor("group_by") { df =>
      // materialize the tagged frame once (lazy localCheckpoint): each
      // group's sub-plan reads the checkpoint instead of re-scanning the
      // input N times — same single-scan contract as `branch`
      val tagged = Checkpoint.lazily(df.withColumn("_gb", caseTag(cases.map(_._1))))
      cases.zipWithIndex.map { case ((_, proc), i) =>
        proc(tagged.filter(col("_gb") === i).drop("_gb"))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    }

  /** `select_parts` (processor_select_parts.go:21): keep batch indexes. */
  def selectParts(indexes: Seq[Long], seqCol: Column = col(Msg.SeqCol)): Processor =
    Processor("select_parts")(df => df.filter(seqCol.isin(indexes: _*)))

  /** `insert_part` (processor_insert_part.go:25): union one literal row. */
  def insertPart(row: DataFrame): Processor =
    Processor("insert_part")(df => df.unionByName(row, allowMissingColumns = true))

  /** `split` (processor_split.go:24): re-chunk → partition sizing. */
  def split(targetPartitions: Int): Processor =
    Processor("split")(df => df.repartition(targetPartitions))

  // ===== error-channel combinators (SURVEY §7.2 step 3) ======================
  // The reference's error facet (data.go:195-201) + try/catch processors
  // (processor_try.go:18, processor_catch.go:16) + output-side DLQ routing
  // (output_reject_errored.go, output_drop_on.go:29).

  /** `try`: apply children only to non-errored rows; errored rows pass
    * through untouched. Needs child to be schema-preserving. */
  def tryProc(child: Processor): Processor =
    Processor("try") { df =>
      child(df.filter(Msg.ok)).unionByName(df.filter(Msg.errored), allowMissingColumns = true)
    }

  /** `catch`: apply children only to errored rows, then clear the error. */
  def catchProc(child: Processor): Processor =
    Processor("catch") { df =>
      val healed = child(df.filter(Msg.errored))
        .withColumn(Msg.ErrorCol, lit(null).cast(StringType))
      df.filter(Msg.ok).unionByName(healed, allowMissingColumns = true)
    }

  /** Mark rows failing `check` with the error facet (Bloblang `throw` /
    * failed-assignment semantics without killing the stream). */
  def errorWhere(cond: Column, message: Column): Processor =
    Processor("error_where")(df => Msg.markError(df, cond, message))

  /** `json_schema` processor subset (processor_jsonschema.go:30): validate
    * required fields + primitive types of a JSON column; failures write the
    * error facet (the reference's behavior — invalid messages flow to
    * catch/DLQ, they don't kill the stream). Types: integer|number|string|
    * boolean|array|object. Pure Column checks — no UDF, stays in codegen. */
  def jsonSchema(src: Column, required: Seq[(String, String)]): Processor =
    Processor("json_schema") { df =>
      required.foldLeft(df) { case (d, (field, typ)) =>
        val v = get_json_object(src, "$." + field)
        val ok = typ match {
          case "integer" => v.rlike("^-?\\d+$")
          case "number" => v.rlike("^-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?$")
          case "boolean" => v.isin("true", "false")
          case "array" => v.startsWith("[")
          case "object" => v.startsWith("{")
          case _ => v.isNotNull
        }
        Msg.markError(d, !coalesce(ok, lit(false)), lit(s"json_schema: $field is not $typ"))
      }
    }

  /** `drop_on` error (output_drop_on.go:29). */
  val dropErrored: Processor = Processor("drop_errored")(df => df.filter(Msg.ok))

  /** `reject_errored` → DLQ split (output_reject_errored.go): returns the
    * main stream; errored rows route to `dlq`. */
  def dlqSplit(df: DataFrame): (DataFrame, DataFrame) =
    (df.filter(Msg.ok), df.filter(Msg.errored))

  // ===== workflow (processor_workflow.go:33-120) =============================

  /** DAG of named branches in dependency order. Spark parallelizes
    * independent sub-DAGs at the stage level; we only topo-sort.
    */
  def workflow(stages: Seq[(String, Seq[String], Processor)]): Processor =
    Processor("workflow") { df =>
      val byName = stages.map(s => s._1 -> s).toMap
      val done = scala.collection.mutable.LinkedHashSet.empty[String]
      def visit(n: String, path: Set[String]): Unit = {
        require(!path.contains(n), s"workflow cycle at $n")
        if (!done.contains(n)) {
          byName(n)._2.foreach(visit(_, path + n))
          done += n
        }
      }
      stages.foreach(s => visit(s._1, Set.empty))
      done.toSeq.map(byName(_)._3).foldLeft(df)((d, p) => p(d))
    }

  /** `while` (processor_while.go:32): driver-side bounded fixpoint loop.
    * Each iteration is materialized via localCheckpoint: without the cut,
    * Catalyst's CollapseProject nests the iteration expression inside
    * itself (3^n tree growth → OOM at ~13 iterations), and `continue`
    * would recompute the whole history each round. Materializing per
    * iteration is also the honest at-scale shape — iterative algorithms on
    * Spark (graph/fixpoint) persist between supersteps. */
  def whileLoop(maxIters: Int, continue: DataFrame => Boolean, child: Processor): Processor =
    Processor("while") { df0 =>
      var df = df0
      var i = 0
      while (i < maxIters && continue(df)) {
        df = Checkpoint.now(child(df))
        i += 1
      }
      df
    }
}
