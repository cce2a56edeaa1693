package graft

import graft.core.{Flow, Msg, Processor}
import graft.operators.Processors
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class ProcessorsSpec extends SparkSpec {
  import spark.implicits._

  private def msgs(rows: (String, Long)*) =
    rows.toSeq.toDF("content", "seq")
      .withColumn("meta", map().cast(MapType(StringType, StringType)))
      .withColumn("error", lit(null).cast(StringType))

  test("mapping projects and computes") {
    val out = Processors.mapping("a" -> (lit(1) + lit(2)), "b" -> upper(lit("x")))(
      msgs("m" -> 0L))
    assert(out.columns.toSeq == Seq("a", "b"))
    assert(out.collect().head.toSeq == Seq(3, "X"))
  }

  test("awk: expressions, json/metadata functions, guards; Spark processor form") {
    import graft.operators.Awk
    // the reference golden program shape: numeric coercion of strings
    val (c1, _) = Awk.run(
      """{ json_set_int("result", json_get("result") + metadata_get("foo") + metadata_get("bar")); }""",
      """{"result":10}""", Map("foo" -> "5", "bar" -> "7"))
    assert(c1 === """{"result":22}""")
    // guard patterns, BEGIN, variables, if/else, metadata_set
    val (c2, m2) = Awk.run(
      """BEGIN { x = 2 }
        |json_get("n") > 3 { json_set("big", "yes") }
        |{ if (json_get("n") % 2 == 0) { metadata_set("parity", "even") } else { metadata_set("parity", "odd") }
        |  json_set_float("scaled", json_get("n") * x) }""".stripMargin,
      """{"n":6}""", Map.empty)
    assert(c2 === """{"big":"yes","n":6,"scaled":12}""")
    assert(m2 === Map("parity" -> "even"))
    // non-matching guard leaves doc untouched
    val (c3, _) = Awk.run("""json_get("n") > 3 { json_set("big","yes") }""", """{"n":1}""", Map.empty)
    assert(c3 === """{"n":1}""")
    // Spark processor form
    val df = msgs("""{"result":10}""" -> 0L)
      .withColumn("meta", map(lit("foo"), lit("5"), lit("bar"), lit("7")))
    val out = Awk.processor(
      """{ json_set_int("result", json_get("result") + metadata_get("foo") + metadata_get("bar")); }""")(df)
    assert(out.select("content").as[String].collect().head === """{"result":22}""")
  }

  test("awk edge cases: unterminated string fails, signed exponents, POSIX substr") {
    import graft.operators.Awk
    intercept[IllegalArgumentException](Awk.run("""{ x = "abc }""", "{}", Map.empty))
    val (c1, _) = Awk.run("""{ json_set_float("x", 1e+5 + 2E-3) }""", "{}", Map.empty)
    assert(c1 === """{"x":100000.002}""")
    val (_, m) = Awk.run(
      """{ metadata_set("a", substr("hello", 0, 3));
        |  metadata_set("b", substr("hello", 2, 3));
        |  metadata_set("c", substr("hello", 4)) }""".stripMargin, "{}", Map.empty)
    // POSIX: chars at positions [max(1,m), m+n-1] — substr("hello",0,3) = "he"
    assert(m === Map("a" -> "he", "b" -> "ell", "c" -> "lo"))
  }

  test("switch routes each row to exactly one branch (first match wins)") {
    val df = Seq(5, 15, 25, 35).toDF("v")
    val out = Processors.switch(Seq(
      (col("v") > 30) -> Processors.mutation("tag" -> lit("big")),
      (col("v") > 10) -> Processors.mutation("tag" -> lit("mid"))),
      default = Processors.mutation("tag" -> lit("small")))(df)
    val got = out.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == Map(5 -> "small", 15 -> "mid", 25 -> "mid", 35 -> "big"))
    assert(out.count() == 4) // no duplication, no loss
  }

  test("branch enriches and joins back preserving all input rows") {
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val lookup = Seq((1, "one"), (2, "two")).toDF("k2", "name")
    val child = Processor("lk")(req => req.join(lookup, col("k") === col("k2"), "left"))
    val out = Processors.branch(identity, child, Seq("name"))(df)
    assert(out.count() == 3)
    val m = out.collect().map(r => r.getInt(0) -> Option(r.getString(2))).toMap
    assert(m == Map(1 -> Some("one"), 2 -> Some("two"), 3 -> None))
  }

  test("try/catch routes on the error facet and heals") {
    val df = msgs("ok" -> 0L, "bad" -> 1L)
    val out = Flow(df)
      .pipe(Processors.errorWhere(col("content") === "bad", lit("boom")))
      .pipe(Processors.tryProc(Processors.mutation("content" -> concat(col("content"), lit("!")))))
      .pipe(Processors.catchProc(Processors.mutation("content" -> lit("healed"))))
      .result
    val got = out.select("content", "error").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("ok!", null), ("healed", null)))
  }

  test("errorWhere keeps the FIRST error") {
    val df = msgs("x" -> 0L)
    val out = Flow(df)
      .pipe(Processors.errorWhere(lit(true), lit("first")))
      .pipe(Processors.errorWhere(lit(true), lit("second")))
      .result
    assert(out.select("error").as[String].collect().toSeq == Seq("first"))
  }

  test("dedupe keeps deterministic first-seen winner") {
    val df = Seq(("k1", 5, "late"), ("k1", 1, "first"), ("k2", 3, "only")).toDF("k", "ord", "tag")
    val out = Processors.dedupe(Seq(col("k")), col("ord"))(df)
    val got = out.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(got == Map("k1" -> "first", "k2" -> "only"))
  }

  test("scalableRowNumber equals the plain window row_number (skewed groups, null key, desc order)") {
    // one viral group (0) holding 80% of rows forces group-spanning range
    // partitions; group 1 is small; a null-key group checks the <=> join
    val rnd = new scala.util.Random(11)
    val rows = (1 to 2000).map { i =>
      val k: java.lang.Long = if (i % 10 < 8) 0L else if (i % 10 == 8) 1L else null
      (k, rnd.nextInt(50).toDouble, i.toLong) // ties in v → unique id tiebreak
    }
    val df = rows.toDF("k", "v", "id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("v").desc, col("id"))
    val want = df.withColumn("rn", row_number().over(w))
      .collect().map(r => (r.get(0), r.getDouble(1), r.getLong(2), r.getInt(3))).toSet
    // explicit width: AQE would coalesce this tiny shuffle to one
    // partition and the offset machinery would never be exercised
    val got = Processors.scalableRowNumber(df, col("k"), Seq(col("v").desc, col("id")), "rn",
        numPartitions = Some(8))
      .collect().map(r => (r.get(0), r.getDouble(1), r.getLong(2), r.getLong(3).toInt)).toSet
    assert(got == want,
      s"two-phase diverges: onlyGot=${(got -- want).take(3)} onlyWant=${(want -- got).take(3)}")
    // the viral group must actually span multiple range partitions, or
    // the offset machinery was never exercised
    val spans = df.repartitionByRange(8, col("k"), col("v").desc, col("id"))
      .withColumn("_pid", org.apache.spark.sql.functions.spark_partition_id())
      .filter(col("k") === 0L).select("_pid").distinct().count()
    assert(spans > 1, s"viral group spans only $spans partition(s) — fixture too small")
  }

  test("whileLoop at maxIters=50 keeps plan depth bounded and terminates quickly") {
    // 50 iterations of a self-referencing mutation would be a 3^50 plan
    // tree without the per-iteration localCheckpoint cut; with it, each
    // round plans against a materialized leaf so the loop is linear time.
    val df = Seq.tabulate(64)(i => (i.toLong, 1.0)).toDF("id", "value")
    val out = Processors.whileLoop(50,
      continue = d => d.filter(col("value") < 1e12).limit(1).count() > 0,
      child = Processors.mutation("value" -> (col("value") * 2.0 + col("value") * 0.0)))(df)
    val vals = out.select("value").as[Double].collect()
    // doubling from 1.0: continue holds through 2^39 < 1e12, the 40th
    // iteration lands on 2^40 ≈ 1.0995e12 and the loop stops
    assert(vals.forall(_ == math.pow(2.0, 40)))
    // Structural (not wall-clock) depth check: the returned plan must hang
    // off the last localCheckpoint's materialized RDD leaf, not a 40-deep
    // Project chain — a bounded plan string is the observable invariant.
    val planStr = out.queryExecution.optimizedPlan.toString
    assert(planStr.contains("LogicalRDD") || planStr.contains("ExistingRDD"),
      s"whileLoop result is not rooted at a checkpointed leaf:\n$planStr")
    assert(planStr.linesIterator.size <= 10,
      s"whileLoop optimized plan has ${planStr.linesIterator.size} nodes — depth is growing")
  }

  test("archive/unarchive round-trips") {
    val df = Seq(("g", "a"), ("g", "b"), ("h", "c")).toDF("grp", "payload")
    val arch = Processors.archive(Seq(col("grp")), col("payload"), sep = ",")(df)
    val back = Processors.unarchiveLines(col("archived"), "item", sep = ",")(arch)
      .select("grp", "item")
    assert(back.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("g", "a"), ("g", "b"), ("h", "c")))
  }

  test("workflow topo-sorts dependencies and rejects cycles") {
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    def stage(n: String) = Processor(n) { df => order += n; df }
    val df = Seq(1).toDF("v")
    Processors.workflow(Seq(
      ("c", Seq("b"), stage("c")),
      ("a", Seq(), stage("a")),
      ("b", Seq("a"), stage("b"))))(df)
    assert(order.toSeq == Seq("a", "b", "c")) // wiring order, deps respected
    intercept[IllegalArgumentException] {
      Processors.workflow(Seq(
        ("x", Seq("y"), Processor.noop),
        ("y", Seq("x"), Processor.noop)))(df)
    }
  }

  test("insert_part unions a literal row; select_parts filters by seq") {
    val df = msgs("a" -> 0L, "b" -> 1L)
    val extra = msgs("z" -> 99L)
    val out = Flow(df)
      .pipe(Processors.insertPart(extra))
      .pipe(Processors.selectParts(Seq(0L, 99L)))
      .result
    assert(out.select("content").as[String].collect().toSet == Set("a", "z"))
  }

  test("dlqSplit separates errored rows") {
    val df = Flow(msgs("good" -> 0L, "bad" -> 1L))
      .pipe(Processors.errorWhere(col("content") === "bad", lit("e")))
      .result
    val (main, dlq) = Processors.dlqSplit(df)
    assert(main.select("content").as[String].collect().toSeq == Seq("good"))
    assert(dlq.select("content").as[String].collect().toSeq == Seq("bad"))
  }

  test("jq subset: paths, index, filters; compile fails fast on unsupported programs") {
    import graft.operators.Jq
    val df = Seq("""{"a":{"b":[10,20,30]},"s":"hi"}""").toDF("content")
    def q(prog: String): String =
      df.select(Jq.jq(prog, col("content"))).as[String].collect().head
    assert(q(".a.b[1]") == "20")
    assert(q(".a.b | length") == "3")
    assert(q(". | keys") == """["a","s"]""")
    assert(q(".s | tostring") == "hi")
    assert(q(".a.b[0] | tostring") == "10")
    assert(q(".nope.deep") == null)
    intercept[IllegalArgumentException](Jq.compile(".a | map(.x)"))
    intercept[IllegalArgumentException](Jq.compile("keys"))
  }

  test("subprocess pipe transforms content per partition; command sets error facet on failure") {
    import graft.operators.Subprocess
    val env = Msg.envelope(Seq(1, 2, 3).toDF("n"))
    val piped = Subprocess.pipe(env, Seq("sed", "s/n/m/"))
      .as[String].collect().sorted.toSeq
    assert(piped == Seq("""{"m":1}""", """{"m":2}""", """{"m":3}"""))
    val ok = Subprocess.command(env, Seq("tr", "n", "z"))
    assert(ok.filter(Msg.errored).count() == 0)
    assert(ok.select(Msg.ContentCol).as[String].collect().sorted.head == """{"z":1}""")
    val bad = Subprocess.command(env, Seq("false"))
    assert(bad.filter(Msg.errored).count() == 3)
    // failed rows keep their content (reference error-facet contract)
    assert(bad.select(Msg.ContentCol).as[String].collect().sorted.head == """{"n":1}""")
  }

  test("command: a child that exits without reading its stdin fails the row, not a thread") {
    import graft.operators.Subprocess
    // more than the 64 KiB pipe buffer, so the write cannot finish
    // before the child exits and the pipe breaks
    val env = Msg.envelope(Seq("x" * (256 * 1024)).toDF("s"))
    val uncaught = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val prev = Thread.getDefaultUncaughtExceptionHandler
    Thread.setDefaultUncaughtExceptionHandler((_, e) => { uncaught.add(e); () })
    val errs =
      try Subprocess.command(env, Seq("sh", "-c", "exit 3"))
        .select(Msg.ErrorCol).as[String].collect().toSeq
      finally Thread.setDefaultUncaughtExceptionHandler(prev)
    assert(errs == Seq("command exited with code 3"))
    assert(uncaught.isEmpty, s"uncaught on a writer thread: ${uncaught.peek()}")
  }

  test("batch policy: general assign matches window fast paths on single triggers") {
    import graft.operators.BatchPolicy
    val df = Seq(
      (1L, 1L, "a", 10L), (1L, 2L, "error", 10L), (1L, 3L, "b", 10L),
      (1L, 4L, "c", 10L), (1L, 5L, "error", 10L), (1L, 6L, "d", 10L),
      (2L, 1L, "x", 10L), (2L, 2L, "y", 10L), (2L, 3L, "z", 10L))
      .toDF("k", "o", "typ", "bytes")
    def ids(out: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      out.select("k", "o", "batch_id").as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    // count-only: greedy loop == pure window math
    assert(ids(BatchPolicy.assign(df, "k", "o", count = 2)) ==
      ids(BatchPolicy.byCount(df, col("k"), col("o"), 2)))
    // check-only: greedy loop == pure window math
    assert(ids(BatchPolicy.assign(df, "k", "o", check = col("typ") === "error")) ==
      ids(BatchPolicy.byCheck(df, col("k"), col("o"), col("typ") === "error")))
    // combined count+check: the check-flush RESETS the count (not window-expressible)
    val combined = ids(BatchPolicy.assign(df, "k", "o", count = 3, check = col("typ") === "error"))
    // k=1: o=1,2 (error at 2 flushes) | o=3,4,5 (count=3... but error at 5 also within) -> o=3,4,5 via count
    assert(combined.filter(_._1 == 1L).map(_._3) == Seq(0L, 0L, 1L, 1L, 1L, 2L))
    assert(combined.filter(_._1 == 2L).map(_._3) == Seq(0L, 0L, 0L))
  }

  test("batch policy byte_size: trigger threshold includes the overflowing row, tally resets") {
    import graft.operators.BatchPolicy
    val df = Seq((1L, 1L, 60L), (1L, 2L, 60L), (1L, 3L, 10L), (1L, 4L, 200L), (1L, 5L, 5L))
      .toDF("k", "o", "bytes")
    val out = BatchPolicy.assign(df, "k", "o", byteSize = 100L, sizeOf = col("bytes"))
      .select("o", "batch_id").as[(Long, Long)].collect().sortBy(_._1).toSeq
    // 60 -> 120>=100 flush (rows 1,2) | 10 -> 210>=100 flush (rows 3,4) | 5 open
    assert(out == Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L), (5L, 2L)))
  }

  test("batch policy period: timer flushes BETWEEN messages; tumbling form epoch-aligns") {
    import graft.operators.BatchPolicy
    // ts in seconds from epoch; period = 60s
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val df = Seq(
      (1L, 1L, ts(0)), (1L, 2L, ts(30)), (1L, 3L, ts(59)),
      (1L, 4L, ts(61)),  // 61-0 >= 60: flushes {1,2,3}, starts batch 1
      (1L, 5L, ts(100)), // 100-61 < 60: same batch
      (1L, 6L, ts(130))) // 130-61 >= 60: flushes {4,5}, starts batch 2
      .toDF("k", "o", "ts")
    val greedy = BatchPolicy.assign(df, "k", "o",
        periodMicros = 60L * 1000000L, ingestTs = col("ts"))
      .select("o", "batch_id").as[(Long, Long)].collect().sortBy(_._1).toSeq
    // the late arrival is NEVER in the batch it flushed (timer fires between)
    assert(greedy == Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L), (6L, 2L)))
    // the pure-Column tumbling form aligns at the epoch: floor(ts/period)
    val tumbling = BatchPolicy.byPeriod(df, col("ts"), 60L)
      .select("o", "batch_id").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(tumbling == Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L), (6L, 2L)))
    // period composes with count, and the timer re-arms on ANY flush (the
    // reference resets its timer when a batch closes): after {1,2} flush
    // on count, batch 1 is born at o=3 (ts 59), so o=4 (ts 61) is only 2s
    // into it — no period flush, count closes {3,4}; batch 2 born at o=5
    val combo = BatchPolicy.assign(df, "k", "o", count = 2,
        periodMicros = 60L * 1000000L, ingestTs = col("ts"))
      .select("o", "batch_id").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(combo == Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L), (5L, 2L), (6L, 2L)))
  }

  test("envelope wraps arbitrary rows and meta set/get works") {
    val df = Seq((1, "x")).toDF("id", "name")
    val env = Msg.envelope(df)
    assert(env.columns.toSeq == Seq("content", "meta", "error", "seq"))
    val withMeta = Msg.setMeta(Msg.setMeta(env, "k", lit("v1")), "k", lit("v2"))
    assert(withMeta.select(Msg.meta("k")).as[String].collect().head == "v2")
    val parsed = env.select(get_json_object(col("content"), "$.name").as("n")).as[String].collect()
    assert(parsed.toSeq == Seq("x"))
  }
}
