package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.blob.{Bloblang, Interp}
import graft.conn.PipelineConfig
import graft.core.{Msg, Processor}
import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

/** `etl_config`: bento's core use, a YAML config run end to end.
  *
  * file/json_documents input → compiled `mapping` (projection, lowercase,
  * `deleted()` filter) → `switch` whose Bloblang checks and case mappings
  * run in the interpreter per row → `dedupe` on the event id → parquet.
  * Closed loop, one client: each iteration loads the config and runs it.
  * The reference output is recomputed in plain Scala from the generated
  * events. */
final class EtlConfig extends Workload {
  def name = "etl_config"

  private val Events = 50000
  private val Files = 8
  // Traffic mix (README, "Traffic parameters and their sources"). Event
  // types, amounts and user count follow the repo's `events` fixture; the
  // redelivery and bot shares are unsourced assumptions.
  private val Kinds = Seq("purchase", "view", "click", "signup", "error")
  private val AmountMean = 50.0
  private val Users = 1500
  private val DupShare = 0.06
  private val BotShare = 0.08

  private var inDir: File = _
  private var lines = 0L
  /** event_id → expected output document (the reference). */
  private val expected = mutable.HashMap.empty[String, Map[String, Any]]
  private var realized: Seq[(String, Double)] = Nil
  private var lastOutput: Array[(String, String)] = Array.empty

  private val mapping =
    """root.event_id = this.event_id
      |root.kind = this.type.lowercase()
      |root.user = this.user.id
      |root.amount = this.amount
      |root.page = this.props.page
      |root.ref = this.props.ref
      |root = if this.props.bot { deleted() }""".stripMargin

  /** (check, route); the last case has no check (switch default). */
  private val cases = Seq(
    Some("""this.kind == "purchase" && this.amount >= 100""") -> "big_purchase",
    Some("""this.kind == "purchase"""") -> "purchase",
    Some("""this.page.has_prefix("/search")""") -> "search",
    None -> "other")

  private def route(kind: String, amount: Double, page: String): String =
    if (kind == "purchase" && amount >= 100) "big_purchase"
    else if (kind == "purchase") "purchase"
    else if (page.startsWith("/search")) "search"
    else "other"

  private def indent(s: String, n: Int) = s.linesIterator.map(" " * n + _).mkString("\n")

  def yaml(out: File): String = {
    val sw = cases.map { case (chk, r) =>
      val c = chk.map(x => s"        - check: '${x.replace("'", "''")}'\n          processors:")
        .getOrElse("        - processors:")
      s"""$c
         |            - mapping: |
         |                root = this
         |                root.route = "$r"""".stripMargin
    }.mkString("\n")
    s"""input:
       |  file:
       |    paths: [ "${inDir.getPath}" ]
       |    scanner:
       |      json_documents: {}
       |pipeline:
       |  processors:
       |    - mapping: |
       |${indent(mapping, 8)}
       |    - switch:
       |$sw
       |    - dedupe:
       |        key: '$${! json("event_id") }'
       |output:
       |  parquet:
       |    path: ${out.getPath}
       |""".stripMargin
  }

  def generate(dir: File, seed: Long): Unit = {
    inDir = dir
    val rnd = new scala.util.Random(seed)
    val buf = Array.fill(Files)(new StringBuilder)
    // a redelivery repeats an earlier line byte for byte, a little later
    val pending = mutable.PriorityQueue.empty[(Long, String)](Ordering.by[(Long, String), Long](-_._1))
    var emitted = 0L
    def emit(line: String): Unit = {
      buf((emitted * Files / (Events * (1 + DupShare) + 1)).toInt.min(Files - 1)) ++= line += '\n'
      emitted += 1
    }
    var bots, dups = 0
    val routes = mutable.Map.empty[String, Int].withDefaultValue(0)
    for (i <- 0 until Events) {
      val id = f"e$i%07d"
      val kind = Kinds(rnd.nextInt(Kinds.size))
      val typ = rnd.nextInt(3) match {
        case 0 => kind
        case 1 => kind.capitalize
        case _ => kind.toUpperCase
      }
      val amount = math.round(-AmountMean * math.log(1 - rnd.nextDouble()) * 100) / 100.0
      val page = rnd.nextInt(5) match {
        case 0 => s"/search?q=w${rnd.nextInt(1000)}"
        case 1 | 2 => s"/item/${rnd.nextInt(50000)}"
        case 3 => "/home"
        case _ => "/cart"
      }
      val ref = Seq("google", "direct", "email", "ads")(rnd.nextInt(4))
      val bot = rnd.nextDouble() < BotShare
      val user = f"u${rnd.nextInt(Users)}%05d"
      val tags = (0 until rnd.nextInt(4)).map(_ => s""""t${rnd.nextInt(40)}"""").mkString(",")
      val line =
        s"""{"event_id":"$id","type":"$typ","ts":${1700000000000L + i * 10L},""" +
          s""""user":{"id":"$user","tier":${rnd.nextInt(4)}},"amount":${f"$amount%.2f"},""" +
          s""""props":{"page":"$page","ref":"$ref","bot":$bot,"score":${rnd.nextInt(1000) / 1000.0},"tags":[$tags]}}"""
      while (pending.nonEmpty && pending.head._1 <= i) emit(pending.dequeue()._2)
      emit(line)
      if (rnd.nextDouble() < DupShare) { pending.enqueue((i + 1L + rnd.nextInt(500), line)); dups += 1 }
      if (bot) bots += 1
      else {
        val r = route(kind, amount, page)
        routes(r) += 1
        expected(id) = Map("event_id" -> id, "kind" -> kind, "user" -> user, "amount" -> amount,
          "page" -> page, "ref" -> ref, "route" -> r)
      }
    }
    while (pending.nonEmpty) emit(pending.dequeue()._2)
    lines = emitted
    buf.zipWithIndex.foreach { case (b, k) => Fs.write(new File(dir, f"part-$k%02d.json"), b.toString) }
    val kept = expected.size.toDouble
    realized = Seq("events" -> Events.toDouble, "records" -> lines.toDouble,
      "dup_share" -> dups / lines.toDouble, "bot_share" -> bots / Events.toDouble) ++
      cases.map(_._2).map(r => s"route_${r}_share" -> routes(r) / kept)
  }

  def dims: Seq[(String, Double)] = realized

  private val json = new ObjectMapper()

  /** Compare the written output with the reference; None when it matches. */
  def check(rows: Array[(String, String)]): Option[String] = {
    if (rows.length != expected.size) return Some(s"rows ${rows.length} != expected ${expected.size}")
    val seen = mutable.HashSet.empty[String]
    for ((content, err) <- rows) {
      if (err != null) return Some(s"errored row: $err")
      val m = json.readValue(content, classOf[java.util.Map[String, Any]])
      val id = String.valueOf(m.get("event_id"))
      val exp = expected.getOrElse(id, return Some(s"unexpected event $id"))
      if (!seen.add(id)) return Some(s"duplicate event $id")
      if (m.size != exp.size) return Some(s"$id: fields ${m.keySet} vs ${exp.keySet}")
      for ((k, v) <- exp) {
        val got = m.get(k)
        val same = (v, got) match {
          case (d: Double, n: Number) => math.abs(d - n.doubleValue) < 1e-9
          case (s: String, g) => s == String.valueOf(g)
          case _ => false
        }
        if (!same) return Some(s"$id.$k: $got != $v")
      }
    }
    None
  }

  private def readOutput(spark: SparkSession, out: File): Array[(String, String)] =
    spark.read.parquet(out.getPath).select(Msg.ContentCol, Msg.ErrorCol).collect()
      .map(r => (r.getString(0), r.getString(1)))

  private var iterTag = 0

  /** The traced form of the config: every stage's output carries a
    * `Dataset.observe` row counter (the plan is otherwise unchanged). */
  private def observed(l: PipelineConfig.Loaded): PipelineConfig.Loaded = {
    iterTag += 1
    def obs(df: DataFrame, stage: String): DataFrame = {
      val p = EngineListener.ObservePrefix
      val rows = df.observe(s"$p${stage}_rows_$iterTag", count(lit(1)))
      if (!df.columns.contains(Msg.ErrorCol)) rows
      else rows.observe(s"$p${stage}_errored_$iterTag",
        coalesce(sum(when(col(Msg.ErrorCol).isNotNull, 1L).otherwise(0L)), lit(0L)))
    }
    val names = Seq("mapping", "switch", "dedupe")
    l.copy(
      input = s => l.input(s) match {
        case Left((df, ser)) => Left((obs(df, "input"), ser))
        case Right(df) => Right(obs(df, "input"))
      },
      stages = l.stages.zip(names).map { case (st, n) =>
        PipelineConfig.Stage(Processor(n)(df => obs(st.env(df), n)),
          st.compile.map(c => (schema: StructType) =>
            c(schema).map(cc => cc.copy(transform = df => obs(cc.transform(df), n)))))
      })
  }

  def iteration(env: Env): Iter = {
    val tr = env.tracer
    val out = env.scratch("etl-out")
    val t0 = System.nanoTime()
    val loaded0 = tr.span("conn.config_load")(PipelineConfig.load(yaml(out)))
    val loaded = if (tr.active) observed(loaded0) else loaded0
    // Loaded.run is frame + output; the two halves are timed apart
    val df = tr.span("blob.frame")(loaded.frame(env.spark))
    tr.span("conn.write")(loaded.output.get(df))
    val verdict = tr.span("bench.check") {
      lastOutput = readOutput(env.spark, out)
      check(lastOutput)
    }
    val wall = (System.nanoTime() - t0) / 1e6
    verdict.foreach(v => System.err.println(s"perfbench: etl_config check failed: $v"))
    Iter(lines, wall, verdict.isEmpty)
  }

  def scanInput(env: Env): DataFrame =
    PipelineConfig.load(yaml(env.scratch("unused"))).input(env.spark) match {
      case Left((df, _)) => df
      case Right(df) => df
    }

  override def negativeControlFlagged(): Boolean = {
    val bad = lastOutput.clone()
    val (c, e) = bad(bad.length / 2)
    val doc = json.readValue(c, classOf[java.util.Map[String, Any]])
    doc.put("route", "tampered")
    bad(bad.length / 2) = (json.writeValueAsString(doc), e)
    check(bad).isDefined
  }

  override def layerMetrics(env: Env): Seq[(String, Double)] = {
    val obs = Main.listener.map(_.takeObserved()).getOrElse(Map.empty)
    def total(stage: String, what: String) =
      obs.collect { case (k, v) if k.startsWith(s"${stage}_${what}_") => v }.sum.toDouble
    val n = math.max(1, obs.keys.count(_.startsWith("input_rows_")))
    Seq(
      "operators.rows_in" -> total("input", "rows") / n,
      "operators.mapping_rows_out" -> total("mapping", "rows") / n,
      "operators.switch_rows_out" -> total("switch", "rows") / n,
      "operators.rows_out" -> total("dedupe", "rows") / n,
      "operators.dedupe_kept_frac" -> total("dedupe", "rows") / math.max(1.0, total("switch", "rows")),
      "operators.errored_rows" -> total("dedupe", "errored") / n) ++ extras
  }

  private var extras: Seq[(String, Double)] = Nil

  /** Parse time, compiled/interpreted stage counts and the interpreter's
    * per-message cost, measured once outside the iterations. */
  override def traceExtras(env: Env): Unit = {
    val mappings = mapping +: cases.map(c => s"root = this\nroot.route = \"${c._2}\"")
    val checks = cases.flatMap(_._1)
    val t0 = System.nanoTime()
    mappings.foreach(Bloblang.parse)
    checks.foreach(Bloblang.parseExpr)
    val parseMs = (System.nanoTime() - t0) / 1e6
    val schema = env.spark.read.json(inDir.getPath).schema
    val loaded = PipelineConfig.load(yaml(env.scratch("unused")))
    val compiled = loaded.stages.head.compile.flatMap(_(schema)).size
    val m = Bloblang.parse(mapping)
    val msgs = inDir.listFiles().filter(_.getName.endsWith(".json")).sorted
      .flatMap(f => scala.io.Source.fromFile(f).getLines())
    msgs.take(2000).foreach(Interp.run(m, _))
    val t1 = System.nanoTime()
    msgs.foreach(Interp.run(m, _))
    val nsPerMsg = (System.nanoTime() - t1).toDouble / msgs.length
    extras = Seq("blob.parse_ms" -> parseMs, "blob.stages_compiled" -> compiled.toDouble,
      "blob.stages_interpreted" -> (mappings.size + checks.size - compiled).toDouble,
      "blob.interp_ns_per_msg" -> nsPerMsg)
  }
}
