package graft

import graft.conn.PipelineConfig
import graft.core.Msg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-mode compile hooks of the YAML frontend for `switch` and
  * `dedupe` (conn/Config.scala), tested DIFFERENTIALLY: the same stages run
  * once over a structured input (`file` json_documents, where the hooks
  * apply) and once behind a `broker` input that starts enveloped (every
  * stage runs its envelope Processor, i.e. the interpreter). Content,
  * metadata, error facet, row set and dedupe winner must be identical. */
class ConfigCompileSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit(); d
  }

  /** Two files (two scan partitions, so the dedupe winner is decided
    * across partitions). `n` is unique per line and names the winner. */
  private lazy val events: java.io.File = {
    val d = tmpDir("cfgcomp")
    java.nio.file.Files.writeString(new java.io.File(d, "a.json").toPath, Seq(
      """{"id":"a1","kind":"Purchase","amount":150.5,"page":"/search?q=1","n":1}""",
      """{"id":"a2","kind":"purchase","amount":20,"page":"/item/3","n":2}""",
      // amount absent: `amount >= 100` errors in the interpreter
      """{"id":"a3","kind":"view","page":"/search?q=2","n":3}""",
      """{"id":"a4","kind":"purchase","page":"/home","n":4}""",
      // explicit null amount; page absent: has_prefix errors
      """{"id":"a5","kind":"click","amount":null,"n":5}""",
      // duplicate key, later line: loses to n=1
      """{"id":"a1","kind":"view","amount":1.0,"page":"/x","n":6}""",
      """{"id":"a6","kind":"signup","amount":500,"page":"/search","n":7}""",
      // `amount >= 100 || kind == "x"`: the left operand errors first
      """{"id":"a7","kind":"x","page":"/cart","n":8}""").mkString("\n"))
    java.nio.file.Files.writeString(new java.io.File(d, "b.json").toPath, Seq(
      """{"id":"a2","kind":"click","amount":3,"page":"/a","n":9}""",
      """{"id":"a8","kind":"bot","amount":7,"page":"/b","n":10}""",
      """{"id":"a9","kind":"Click","amount":25.25,"page":"/search/x","n":11}""").mkString("\n"))
    d
  }

  /** Same data with `amount` a string on one line: the whole column is
    * then a string, and a numeric check on it leaves the compiled subset. */
  private lazy val stringAmounts: java.io.File = {
    val d = tmpDir("cfgcomp_s")
    java.nio.file.Files.writeString(new java.io.File(d, "a.json").toPath, Seq(
      """{"id":"b1","kind":"purchase","amount":"150","page":"/search","n":1}""",
      """{"id":"b2","kind":"purchase","amount":"cheap","page":"/item","n":2}""",
      """{"id":"b3","kind":"view","page":"/search","n":3}""").mkString("\n"))
    d
  }

  private val project =
    """    - mapping: |
      |        root.id = this.id
      |        root.kind = this.kind.lowercase()
      |        root.amount = this.amount
      |        root.page = this.page
      |        root.n = this.n
      |""".stripMargin

  private def config(dir: java.io.File, enveloped: Boolean, stages: String): String = {
    def file(pad: String) = s"""file:
                               |$pad  paths: [ "${dir.getPath}" ]
                               |$pad  scanner:
                               |$pad    json_documents: {}""".stripMargin
    val input =
      if (enveloped) s"  broker:\n    inputs:\n      - ${file(" " * 8)}"
      else s"  ${file("  ")}"
    s"""input:
       |$input
       |pipeline:
       |  processors:
       |$stages""".stripMargin
  }

  private def rows(df: DataFrame): Seq[(String, String, String)] =
    df.select(col(Msg.ContentCol), col(Msg.ErrorCol),
        to_json(map_entries(col(Msg.MetaCol))).as("m"))
      .as[(String, String, String)].collect().toSeq
      .map { case (c, e, m) => (String.valueOf(c), String.valueOf(e), m) }.sorted

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Run `stages` both ways; returns the structured frame's plan. */
  private def differential(stages: String, dir: java.io.File = events): String = {
    val compiled = PipelineConfig.load(config(dir, enveloped = false, stages)).frame(spark)
    val sealedOut = PipelineConfig.load(config(dir, enveloped = true, stages)).frame(spark)
    val (got, want) = (rows(compiled), rows(sealedOut))
    assert(got == want, s"compiled vs envelope divergence:\n${got.mkString("\n")}\n--- envelope:\n${want.mkString("\n")}")
    assert(want.nonEmpty)
    plan(compiled)
  }

  private def assertCompiled(p: String): Unit = {
    assert(!p.contains("UDF"), s"UDF in the compiled plan:\n$p")
    // no checkpointed RDD and no union of case branches (see fallsBack)
    assert(!p.contains("ExistingRDD") && !p.contains("Union"), s"checkpoint/union in the plan:\n$p")
  }

  private def assertFellBack(p: String): Unit =
    assert(p.contains("UDF"), s"expected the envelope fallback:\n$p")

  private val etlSwitch =
    """    - switch:
      |        - check: 'this.amount >= 100 || this.kind == "x"'
      |          processors:
      |            - mapping: |
      |                root = this
      |                root.route = "big"
      |        - check: 'this.kind == "bot"'
      |          processors:
      |            - mapping: 'root = deleted()'
      |        - check: 'this.page.has_prefix("/search")'
      |          processors:
      |            - mapping: |
      |                root.id = this.id
      |                root.kind = "searched"
      |                root.amount = this.amount
      |                root.page = this.page
      |                root.n = this.n * 10
      |                root.route = "search"
      |        - processors:
      |            - mapping: |
      |                root = this
      |                root.route = this.kind
      |""".stripMargin

  private val dedupe =
    """    - dedupe:
      |        key: '${! json("id") }'
      |""".stripMargin

  test("etl-shaped switch + dedupe compile to one plan with the envelope path's output") {
    val p = differential(project + etlSwitch + dedupe)
    assertCompiled(p)
    // the dedupe winner is the first-seen line of a1 (n=1, routed "big")
    val out = PipelineConfig.load(config(events, enveloped = false, project + etlSwitch + dedupe))
      .frame(spark).select(get_json_object(col(Msg.ContentCol), "$.id").as("id"),
        get_json_object(col(Msg.ContentCol), "$.n").as("n"),
        get_json_object(col(Msg.ContentCol), "$.route").as("route"))
      .as[(String, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out("a1") == ("1", "big"))
    assert(out("a2") == ("2", "purchase"))
    assert(!out.contains("a8")) // kind "bot": deleted
    assert(out("a7")._2 == "x") // erroring check counts as false, not true
    assert(out("a4")._2 == "purchase" && out("a5")._2 == "click")
    assert(out("a3") == ("30", "search") && out("a9") == ("110", "search"))
  }

  test("switch without a default case passes unmatched rows through") {
    val stages = project +
      """    - switch:
        |        - check: 'this.amount >= 100'
        |          processors:
        |            - mapping: |
        |                root = this
        |                root.kind = "big"
        |        - check: '!this.page.has_prefix("/item")'
        |          processors:
        |            - mapping: |
        |                root = this
        |                root = if this.n > 7 { deleted() }
        |""".stripMargin
    assertCompiled(differential(stages + dedupe))
  }

  test("switch case chains of several mappings compose over the input columns") {
    val stages = project +
      """    - switch:
        |        - check: 'this.kind == "purchase" && this.amount < 100'
        |          processors:
        |            - mapping: |
        |                root.id = this.id
        |                root.kind = this.page
        |                root.page = this.kind
        |                root.amount = this.amount
        |                root.n = this.n
        |            - mapping: |
        |                root = this
        |                root.kind = this.kind + "|" + this.page
        |                root = if this.n == 4 { deleted() }
        |        - processors:
        |            - mapping: |
        |                root = this
        |                root.kind = this.id
        |""".stripMargin
    assertCompiled(differential(stages))
  }

  test("shapes outside the compiled subset fall back with identical output") {
    // the envelope switch: checkpointed tagged frame, one branch per case
    def fallsBack(stages: String, dir: java.io.File = events): Unit = {
      val p = differential(stages, dir)
      assertFellBack(p)
      assert(p.contains("ExistingRDD") && p.contains("Union"), s"not the envelope switch:\n$p")
    }
    // a check outside the compiled subset
    fallsBack(project +
      """    - switch:
        |        - check: 'uuid_v4() != "" && this.amount >= 100'
        |          processors:
        |            - mapping: |
        |                root = this
        |                root.route = "big"
        |        - processors:
        |            - mapping: |
        |                root = this
        |                root.route = "other"
        |""".stripMargin + dedupe)
    // a jq step inside a case
    fallsBack(project +
      """    - switch:
        |        - check: 'this.amount >= 100'
        |          processors:
        |            - jq:
        |                query: ".kind"
        |        - processors:
        |            - mapping: 'root = this.id'
        |""".stripMargin)
    // cases whose regimes disagree: a re-marshal keeps the drop-null
    // rendering of a raw json input, a field rebuild renders nulls
    fallsBack(
      """    - switch:
        |        - check: 'this.n > 5'
        |          processors:
        |            - mapping: |
        |                root = this
        |                root.kind = "late"
        |        - processors:
        |            - mapping: |
        |                root.amount = this.amount
        |                root.id = this.id
        |                root.kind = "early"
        |                root.n = this.n
        |                root.page = this.page
        |""".stripMargin)
    // a numeric check over a column holding a string
    fallsBack(project +
      """    - switch:
        |        - check: 'this.amount >= 100'
        |          processors:
        |            - mapping: |
        |                root = this
        |                root.route = "big"
        |        - processors:
        |            - mapping: |
        |                root = this
        |                root.route = "other"
        |""".stripMargin, stringAmounts)
  }

  test("dedupe alone compiles over the structured frame and keeps the first-seen row") {
    assertCompiled(differential(project + dedupe))
    // a key outside the compiled subset falls back
    assertFellBack(differential(project +
      """    - dedupe:
        |        key: '${! uuid_v4() }'
        |""".stripMargin))
  }
}
