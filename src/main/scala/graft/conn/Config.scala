package graft.conn

import graft.blob.{Bloblang, BloblangUdf, Interpolate}
import graft.core.{Msg, Processor}
import graft.operators.{Jq, Processors, Subprocess}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Checkpoint
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** YAML pipeline-config frontend — the reference's primary entry point
  * (`bento -c config.yaml`; lifecycle internal/cli + config/lint,
  * SURVEY §3.1): `input → pipeline.processors → output` parsed into a
  * lazy Flow over the Msg envelope. The whole config compiles to ONE
  * Catalyst plan: processors are plan fragments, so pushdown and codegen
  * cross config-section boundaries exactly as they do in the Scala DSL.
  *
  * Supported components (the pure core; connector-specific inputs map to
  * the same envelope via the Sources/Outputs wiring):
  *  - input: `file` (scanner: lines|csv|json_documents), `parquet`
  *    (native extension), `generate` (count + mapping), `broker` (inputs)
  *  - processors: mapping, mutation, bloblang, jq, dedupe (interpolated
  *    key), bounds_check, select_parts, split, compress, decompress,
  *    subprocess, template (interpolation), noop
  *  - output: `file` (path; lines codec), `parquet` (path), `drop`
  *
  * Inputs that yield typed columns (`file` json_documents/csv/lines,
  * `parquet`) start STRUCTURED: each stage with a compile hook that
  * compiles keeps the frame in typed columns, and the first stage that
  * does not seals it into the envelope, where every later stage runs its
  * envelope Processor (UDFs over the JSON content). Hooks:
  *  - `mapping` / `bloblang`: when Compile.tryCompile accepts the mapping.
  *  - `switch`: when every `check` compiles (Compile.tryCompileCheck),
  *    every case's `processors` is a chain of mapping/bloblang steps
  *    that each compile against the schema the step before produces, and
  *    the cases (and, without a default case, the unmatched rows) agree
  *    on output columns, types and Ser (a case whose chain is `root =
  *    deleted()` keeps no row, so it need not agree). The cases then
  *    merge into ONE projection over a first-match case tag
  *    (Processors.switchCases) — no UDF, no checkpoint, no union. A
  *    `check` outside the compiled subset, any other processor in a case
  *    (jq, nested switch, …) or cases that disagree fall back to the
  *    envelope Processors.switch.
  *  - `dedupe`: when its key template compiles
  *    (Compile.tryCompileTemplate); same groupBy + min_by as the envelope
  *    form, ordered by an id taken where the envelope would assign `seq`.
  *    The output `seq` is then assigned after the dedupe shuffle instead
  *    of keeping the winner's input position.
  */
object PipelineConfig {

  import graft.blob.Compile

  /** One pipeline step: the envelope-level Processor (always correct) plus
    * an optional structured-mode compile hook (mapping/bloblang, switch
    * and dedupe steps; see the object doc for the shapes that compile). A
    * step that compiles keeps the frame STRUCTURED — typed columns straight
    * off the scan — so filters/projections reach the parquet reader; the
    * first step that can't compile seals the envelope and the interpreter
    * path takes over from there (per-processor fallback granularity). */
  final case class Stage(env: Processor,
                         compile: Option[StructType => Option[Compile.Compiled]] = None)

  final case class Loaded(input: SparkSession => Either[(DataFrame, Compile.Ser), DataFrame],
                          stages: Seq[Stage],
                          output: Option[DataFrame => Unit]) {
    /** Build the full plan (input → processors) without running output. */
    def frame(spark: SparkSession): DataFrame = {
      var structured: Option[(DataFrame, Compile.Ser)] = None
      var env: DataFrame = null
      input(spark) match {
        case Left(s) => structured = Some(s)
        case Right(e) => env = e
      }
      def seal(): Unit = structured.foreach { case (df, ser) =>
        env = Compile.envelope(df, ser); structured = None
      }
      for (st <- stages) {
        (structured, st.compile) match {
          // scalar frames included: content() mappings compile against
          // them (tryCompile bails on anything needing a parsed document)
          case (Some((df, ser)), Some(tryC)) =>
            tryC(df.schema).filter(_.agrees(ser)) match {
              case Some(c) => structured = Some((c.transform(df), Compile.combineSer(ser, c.ser)))
              case None => seal(); env = st.env(env)
            }
          case _ => seal(); env = st.env(env)
        }
      }
      seal()
      env
    }
    /** Run end-to-end: returns the final frame after any output write. */
    def run(spark: SparkSession): DataFrame = {
      val df = frame(spark)
      output.foreach(_(df))
      df
    }
  }

  def load(yaml: String): Loaded = {
    val doc = new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Any]](yaml)
    require(doc != null && doc.containsKey("input"), "config: missing input section")
    val input = parseInput(section(doc.get("input")))
    val procs = Option(doc.get("pipeline")).map(section).toSeq
      .flatMap(p => Option(p.get("processors")).toSeq)
      .flatMap(_.asInstanceOf[java.util.List[_]].asScala)
      .map(p => parseStage(section(p)))
    val output = Option(doc.get("output")).map(o => parseOutput(section(o)))
    Loaded(input, procs, output)
  }

  /** Wrap a processor spec into a Stage, attaching the structured-mode
    * compile hook for mapping/bloblang, switch and dedupe steps. */
  private def parseStage(m: java.util.Map[String, Any]): Stage = {
    val (kind, conf) = one(m)
    val hook: Option[StructType => Option[Compile.Compiled]] = kind match {
      case "mapping" | "bloblang" =>
        val prog = Bloblang.parse(m.get(kind).asInstanceOf[String])
        Some(schema => Compile.tryCompile(prog, schema))
      case "switch" =>
        val cases = switchCases(m.get(kind))
        Some(schema => compileSwitch(cases, schema))
      case "dedupe" =>
        val keyTpl = str(conf, "key")
        Some(schema => Compile.tryCompileTemplate(keyTpl, schema).map(compiledDedupe))
      case _ => None
    }
    Stage(parseProcessor(m), hook)
  }

  /** `switch` cases: (check, processor specs); no check = default case. */
  private def switchCases(v: Any): Seq[(Option[String], Seq[java.util.Map[String, Any]])] =
    v.asInstanceOf[java.util.List[_]].asScala.map(section).toSeq.map { c =>
      (Option(c.get("check")).map(String.valueOf),
        c.get("processors").asInstanceOf[java.util.List[_]].asScala.map(section).toSeq)
    }

  private def sequence[A](xs: Seq[Option[A]]): Option[Seq[A]] =
    if (xs.forall(_.isDefined)) Some(xs.flatten) else None

  /** Structured-mode `switch` (shapes: see the object doc). As in the
    * envelope form, checked cases are tried in order and the first
    * checkless case is the default; without one, unmatched rows pass
    * through as an empty chain. */
  private def compileSwitch(cases: Seq[(Option[String], Seq[java.util.Map[String, Any]])],
                            schema: StructType): Option[Compile.Compiled] = {
    val checked = cases.collect { case (Some(chk), procs) => (chk, procs) }
    val default = cases.collectFirst { case (None, procs) => procs }
    def chain(procs: Seq[java.util.Map[String, Any]]): Option[Compile.Chain] =
      sequence(procs.map(p => one(p)._1 match {
        case k @ ("mapping" | "bloblang") => Some(Bloblang.parse(p.get(k).asInstanceOf[String]))
        case _ => None
      })).flatMap(Compile.tryCompileChain(_, schema))
    def types(ch: Compile.Chain) = ch.schema.fields.map(f => f.name -> f.dataType).toMap
    for {
      conds <- sequence(checked.map(c => Compile.tryCompileCheck(Bloblang.parseExpr(c._1), schema)))
      chains <- sequence((checked.map(_._2) :+ default.getOrElse(Nil)).map(chain))
      // every surviving row lands in one frame: one set of columns and types
      live = chains.filterNot(_.dropsAll)
      if live.map(types).distinct.size <= 1
      shape = live.headOption.getOrElse(chains.head)
    } yield {
      // a case that drops every row contributes no values, only its filter
      val dropped = shape.columns.map { case (n, _) => n -> lit(null).cast(shape.schema(n).dataType) }
      Compile.Compiled(
        Processors.switchCases(conds, chains.map(ch => if (ch.dropsAll) dropped else ch.columns),
          chains.map(_.deleted)),
        shape.ser, branchSers = live.map(_.ser))
    }
  }

  private val DedupeKey = "__dedupe_key"
  private val DedupeOrder = "__dedupe_order"

  /** Structured-mode `dedupe` over a compiled key: the envelope form's
    * groupBy + min_by, ordered by an id taken on the structured frame at
    * the point where the envelope would have assigned `seq`, so the same
    * first-seen row wins. */
  private def compiledDedupe(key: org.apache.spark.sql.Column): Compile.Compiled =
    Compile.Compiled(df =>
      Processors.dedupe(Seq(col(DedupeKey)), col(DedupeOrder))(
        df.withColumn(DedupeKey, key).withColumn(DedupeOrder, monotonically_increasing_id()))
        .drop(DedupeKey, DedupeOrder),
      Compile.EnvelopeDefault)

  private def section(v: Any): java.util.Map[String, Any] =
    v.asInstanceOf[java.util.Map[String, Any]]
  private def one(m: java.util.Map[String, Any]): (String, java.util.Map[String, Any]) = {
    val keys = m.keySet().asScala.toSeq
    require(keys.size == 1, s"config: expected one component key, got $keys")
    m.get(keys.head) match {
      // scalar-valued components (mapping: |, template: |) carry their
      // config as the value itself; callers read it off the outer map
      case mm: java.util.Map[_, _] => (keys.head, mm.asInstanceOf[java.util.Map[String, Any]])
      case _ => (keys.head, new java.util.HashMap[String, Any]())
    }
  }
  private def str(m: java.util.Map[String, Any], k: String): String =
    String.valueOf(m.get(k))

  /** Left = structured frame (typed columns, envelope deferred so compiled
    * mappings get pushdown on the scan); Right = already-enveloped. */
  private def parseInput(m: java.util.Map[String, Any])
      : SparkSession => Either[(DataFrame, Compile.Ser), DataFrame] = {
    val (kind, conf) = one(m)
    kind match {
      case "file" =>
        val path = conf.get("paths") match {
          case l: java.util.List[_] => l.asScala.map(String.valueOf).mkString(",")
          case s => String.valueOf(s)
        }
        val scanner = Option(conf.get("scanner")).map(s => one(section(s))._1).getOrElse("lines")
        spark => scanner match {
          // scalar-shaped structured frame: the raw line IS the content
          // column, so content()-based mappings compile against the text
          // scan instead of sealing straight to the interpreter. Sealing
          // uncompiled yields exactly the old raw envelope.
          case "lines" => Left((Sources.lines(spark, path)
            .select(col("content").as(Compile.ScalarCol)), Compile.Scalar))
          case "json_documents" =>
            Left((Sources.jsonDocuments(spark, path), Compile.EnvelopeDefault))
          case "csv" => Left((Sources.csv(spark, path), Compile.EnvelopeDefault))
          case other => throw new IllegalArgumentException(s"config: scanner $other")
        }
      case "parquet" =>
        val path = str(conf, "path")
        spark => Left((spark.read.parquet(path), Compile.EnvelopeDefault))
      case "generate" =>
        val count = str(conf, "count").toLong
        val mapping = str(conf, "mapping")
        spark => {
          val base = Msg.envelope(spark.range(count).toDF("seq_id"))
          Right(BloblangUdf.mappingProcessor(mapping)(base))
        }
      case "broker" =>
        val inputs = conf.get("inputs").asInstanceOf[java.util.List[_]].asScala
          .map(i => parseInput(section(i))).toSeq
        spark => Right(inputs.map(_(spark).fold(
          { case (df, ser) => Compile.envelope(df, ser) }, identity)).reduce(_ unionByName _))
      case other => throw new IllegalArgumentException(s"config: input $other")
    }
  }

  /** Bloblang check expression → boolean Column over the content facet
    * (the `check:` fields of switch/group_by configs). Compiles once,
    * driver-side; evaluation failures count as false (reference check
    * semantics). */
  private def checkColumn(src: String): org.apache.spark.sql.Column = {
    val e = graft.blob.Bloblang.parseExpr(src)
    val u = udf { (c: String) =>
      if (c == null) false
      else try {
        val ctx = graft.blob.Interp.Ctx(
          () => graft.blob.Interp.parseJsonTyped(c), c,
          scala.collection.mutable.Map.empty, Map.empty, Map.empty, Map.empty,
          graft.blob.Bloblang.VNothing)
        graft.blob.Interp.eval(e, ctx) match { case b: Boolean => b; case _ => false }
      } catch { case _: graft.blob.Bloblang.BlobError => false }
    }
    u(col(Msg.ContentCol))
  }

  private def parseProcessor(m: java.util.Map[String, Any]): Processor = {
    val (kind, conf) = one(m)
    kind match {
      case "mapping" | "bloblang" =>
        BloblangUdf.mappingProcessor(m.get(kind).asInstanceOf[String])
      case "mutation" =>
        // mutation = mapping whose root starts as `this`
        val parsed = graft.blob.Bloblang.parse(m.get(kind).asInstanceOf[String])
        val withThis = parsed.copy(stmts =
          graft.blob.Bloblang.AssignRoot(Vector.empty, graft.blob.Bloblang.This) +: parsed.stmts)
        mutationProcessor(withThis)
      case "jq" => Jq.processor(str(conf, "query"))
      case "dedupe" =>
        val keyTpl = str(conf, "key")
        Processor("dedupe") { df =>
          df.withColumn("_dk", Interpolate.columnWithMeta(keyTpl, col(Msg.ContentCol), col(Msg.MetaCol)))
            .transform(d => Processors.dedupe(Seq(col("_dk")), col(Msg.SeqCol))(d))
            .drop("_dk")
        }
      case "bounds_check" =>
        val minP = Option(conf.get("min_part_size")).map(String.valueOf(_).toInt).getOrElse(1)
        val maxP = Option(conf.get("max_part_size")).map(String.valueOf(_).toInt).getOrElse(1 << 30)
        Processors.boundsCheck(col(Msg.ContentCol), minP, maxP)
      case "select_parts" =>
        val parts = conf.get("parts").asInstanceOf[java.util.List[_]].asScala
          .map(String.valueOf(_).toLong).toSeq
        Processors.selectParts(parts)
      case "split" => Processors.split(str(conf, "size").toInt)
      case "compress" =>
        val f = call_udf(s"blob_compress_${str(conf, "algorithm")}", col(Msg.ContentCol).cast("binary"))
        Processor("compress")(_.withColumn(Msg.ContentCol, base64(f)))
      case "decompress" =>
        val f = call_udf(s"blob_decompress_${str(conf, "algorithm")}", unbase64(col(Msg.ContentCol)))
        Processor("decompress")(_.withColumn(Msg.ContentCol, f.cast("string")))
      case "protobuf" =>
        // reference protobuf processor (processor_protobuf.go:49-68):
        // operator to_json/from_json over a message resolved from import_paths.
        // Wire bytes travel base64 in the content column (same convention as
        // compress); errors surface loudly (schema/link failures are config
        // bugs, not data errors).
        val op = str(conf, "operator")
        val message = str(conf, "message")
        val paths = Option(conf.get("import_paths")).map(_.asInstanceOf[java.util.List[_]]
          .asScala.map(String.valueOf).mkString(",")).getOrElse(".")
        val discard = Option(conf.get("discard_unknown")).exists(v => String.valueOf(v).toBoolean)
        val protoNames = Option(conf.get("use_proto_names")).exists(v => String.valueOf(v).toBoolean)
        val emitUnpop = Option(conf.get("emit_unpopulated")).exists(v => String.valueOf(v).toBoolean)
        op match {
          case "from_json" =>
            val enc = org.apache.spark.sql.functions.udf((j: String) =>
              graft.functions.ProtoSchema.encodeFile(paths, message, j, discard))
            Processor("protobuf")(_.withColumn(Msg.ContentCol, base64(enc(col(Msg.ContentCol)))))
          case "to_json" =>
            val dec = org.apache.spark.sql.functions.udf((b: Array[Byte]) =>
              graft.functions.ProtoSchema.decodeFile(paths, message, b, protoNames, emitUnpop))
            Processor("protobuf")(_.withColumn(Msg.ContentCol, dec(unbase64(col(Msg.ContentCol)))))
          case other => throw new IllegalArgumentException(s"protobuf operator: $other")
        }
      case "subprocess" =>
        val name = str(conf, "name")
        val args = Option(conf.get("args")).map(_.asInstanceOf[java.util.List[_]]
          .asScala.map(String.valueOf).toSeq).getOrElse(Nil)
        Processor("subprocess")(df => Subprocess.pipe(df, name +: args))
      case "template" =>
        Interpolate.templateProcessor(m.get(kind).asInstanceOf[String])
      case "switch" =>
        // list of { check: <bloblang expr>, processors: [...] }; a case
        // with no check is the default (processor_switch.go:29)
        val built = switchCases(m.get(kind)).map { case (chk, procs) =>
          val child = Processor.chain(procs.map(parseProcessor))
          chk.map(c => (checkColumn(c), child)).toRight(child) // Left = checkless default case
        }
        Processors.switch(
          built.collect { case Right(cp) => cp },
          built.collect { case Left(p) => p }.headOption.getOrElse(Processor.noop))
      case "try" =>
        val procs = m.get(kind).asInstanceOf[java.util.List[_]].asScala
          .map(p => parseProcessor(section(p))).toSeq
        Processors.tryProc(Processor.chain(procs))
      case "catch" =>
        val procs = m.get(kind).asInstanceOf[java.util.List[_]].asScala
          .map(p => parseProcessor(section(p))).toSeq
        Processors.catchProc(Processor.chain(procs))
      case "grok" =>
        val pattern = str(conf, "expressions") match {
          case s if s.startsWith("[") =>
            conf.get("expressions").asInstanceOf[java.util.List[_]].asScala.map(String.valueOf).head
          case s => s
        }
        graft.operators.Grok.processor(col(Msg.ContentCol), pattern)
      case "archive" =>
        require(str(conf, "format") == "lines", "config: archive supports lines")
        Processors.archive(Seq(lit(1)), col(Msg.ContentCol))
      case "unarchive" =>
        require(str(conf, "format") == "lines", "config: unarchive supports lines")
        Processors.unarchiveLines(col(Msg.ContentCol), Msg.ContentCol)
      case "branch" =>
        // request_map → child processors → result_map grafted onto the
        // original message (processor_branch.go:25-44); a failed/absent
        // child result leaves the original unchanged
        val reqProg = graft.blob.Bloblang.parse(str(conf, "request_map"))
        val resProg = graft.blob.Bloblang.parse(str(conf, "result_map"))
        val children = Option(conf.get("processors")).toSeq
          .flatMap(_.asInstanceOf[java.util.List[_]].asScala)
          .map(p => parseProcessor(section(p)))
        val reqUdf = udf { (c: String) =>
          if (c == null) null
          else try graft.blob.Interp.run(reqProg, c).orNull
          catch { case _: graft.blob.Bloblang.BlobError => null }
        }
        val mergeUdf = udf { (orig: String, child: String) =>
          if (child == null || orig == null) orig
          else try graft.blob.Interp.runSeeded(resProg, child, orig).orNull
          catch { case _: graft.blob.Bloblang.BlobError => orig }
        }
        Processor("branch") { df =>
          // id evaluated once on a checkpointed frame (stable under AQE
          // re-planning — same contract as Processors.branch)
          val idd = Checkpoint.lazily(df.withColumn("_bid", monotonically_increasing_id()))
          val request = idd.withColumn(Msg.ContentCol, reqUdf(col(Msg.ContentCol)))
            .filter(col(Msg.ContentCol).isNotNull)
          val childOut = Processor.chain(children.toSeq)(request)
            .select(col("_bid"), col(Msg.ContentCol).as("_bres"))
          idd.join(childOut, Seq("_bid"), "left")
            .withColumn(Msg.ContentCol, mergeUdf(col(Msg.ContentCol), col("_bres")))
            .drop("_bid", "_bres")
        }
      case "group_by" =>
        // list of { check, processors }: first matching group wins
        // (processor_group_by.go:27)
        val cases = m.get(kind).asInstanceOf[java.util.List[_]].asScala.map(section).toSeq
        Processors.groupByChecks(cases.map { c =>
          val procs = c.get("processors").asInstanceOf[java.util.List[_]].asScala
            .map(p => parseProcessor(section(p))).toSeq
          (checkColumn(String.valueOf(c.get("check"))), Processor.chain(procs))
        })
      case "while" =>
        // bounded driver loop: children repeat while any row passes the
        // check (processor_while.go:32; max_loops bounds it)
        val maxLoops = Option(conf.get("max_loops")).map(String.valueOf(_).toInt).getOrElse(10)
        val check = checkColumn(str(conf, "check"))
        val procs = conf.get("processors").asInstanceOf[java.util.List[_]].asScala
          .map(p => parseProcessor(section(p))).toSeq
        Processors.whileLoop(maxLoops,
          df => df.filter(check).limit(1).count() > 0,
          Processor.chain(procs))
      case "opensnowcat" =>
        // processor_opensnowcat.go ConfigSpec:68-134 — output_format,
        // set_metadata, filters.drop (contains lists), filters.transform
        // (global salt/hash_algo + per-field strategies)
        import graft.operators.OpenSnowcat
        def jmap(v: Any): java.util.Map[String, Any] =
          v.asInstanceOf[java.util.Map[String, Any]]
        val outputFormat = Option(conf.get("output_format")).map(String.valueOf).getOrElse("tsv")
        val setMeta = Option(conf.get("set_metadata")).map(jmap(_).asScala.map {
          case (k, v) => k -> String.valueOf(v) }.toMap).getOrElse(Map.empty[String, String])
        var drop = Map.empty[String, Seq[String]]
        var transforms = Map.empty[String, OpenSnowcat.Transform]
        var salt = ""
        var hashAlgo = "SHA-256"
        Option(conf.get("filters")).map(jmap).foreach { f =>
          Option(f.get("drop")).map(jmap).foreach { d =>
            drop = d.asScala.map { case (field, crit) =>
              field -> Option(jmap(crit).get("contains"))
                .map(_.asInstanceOf[java.util.List[_]].asScala.map(String.valueOf).toSeq)
                .getOrElse(Nil)
            }.toMap
          }
          Option(f.get("transform")).map(jmap).foreach { t =>
            salt = Option(t.get("salt")).map(String.valueOf).getOrElse("")
            hashAlgo = Option(t.get("hash_algo")).map(String.valueOf).getOrElse("SHA-256")
            Option(t.get("fields")).map(jmap).foreach { fs =>
              transforms = fs.asScala.map { case (field, c0) =>
                val c = jmap(c0)
                field -> OpenSnowcat.Transform(
                  strategy = Option(c.get("strategy")).map(String.valueOf).getOrElse(""),
                  hashAlgo = Option(c.get("hash_algo")).map(String.valueOf).getOrElse(""),
                  salt = Option(c.get("salt")).map(String.valueOf).getOrElse(""),
                  redactValue = Option(c.get("redact_value")).map(String.valueOf)
                    .getOrElse("[REDACTED]"),
                  anonOctets = Option(c.get("anon_octets")).map(String.valueOf(_).toInt)
                    .getOrElse(2),
                  anonSegments = Option(c.get("anon_segments")).map(String.valueOf(_).toInt)
                    .getOrElse(4))
              }.toMap
            }
          }
        }
        OpenSnowcat.processor(OpenSnowcat.Config(
          outputFormat, drop, transforms, salt, hashAlgo, setMeta))

      case "noop" => Processor.noop
      case other => throw new IllegalArgumentException(s"config: processor $other")
    }
  }

  private def mutationProcessor(prog: graft.blob.Bloblang.Mapping): Processor = {
    val f = udf { (content: String) =>
      if (content == null) null
      else try graft.blob.Interp.run(prog, content).orNull
      catch { case _: graft.blob.Bloblang.BlobError => content }
    }
    Processor("mutation")(df => df.withColumn(Msg.ContentCol, f(col(Msg.ContentCol)))
      .filter(col(Msg.ContentCol).isNotNull))
  }

  private def parseOutput(m: java.util.Map[String, Any]): DataFrame => Unit = {
    val (kind, conf) = one(m)
    kind match {
      case "file" =>
        val path = str(conf, "path")
        df => df.select(col(Msg.ContentCol)).write.mode("overwrite").text(path)
      case "parquet" =>
        val path = str(conf, "path")
        df => df.write.mode("overwrite").parquet(path)
      case "drop" => _ => ()
      // `broker` fan_out: every output gets the full frame; the frame is
      // persisted once so N sinks don't recompute the plan N times
      // (output_broker.go:24 + fan_out pattern)
      case "broker" =>
        val outs = conf.get("outputs").asInstanceOf[java.util.List[_]].asScala
          .map(o => parseOutput(section(o))).toSeq
        df => {
          val cached = df.persist()
          try { cached.count(); outs.foreach(_(cached)) }
          finally cached.unpersist(false)
        }
      // output `switch`: first matching case takes the row
      // (output_switch.go:36)
      case "switch" =>
        val cases = conf.get("cases").asInstanceOf[java.util.List[_]].asScala
          .map(section).map { c =>
            (Option(c.get("check")).map(chk => checkColumn(String.valueOf(chk))),
              parseOutput(section(c.get("output"))))
          }.toSeq
        df => {
          val cached = df.persist()
          try {
            cached.count()
            cases.foldLeft(lit(false)) { case (seen, (check, out)) =>
              val cond = check.map(c => coalesce(c, lit(false))).getOrElse(lit(true))
              out(cached.filter(cond && !seen))
              seen || cond
            }
            ()
          } finally cached.unpersist(false)
        }
      case other => throw new IllegalArgumentException(s"config: output $other")
    }
  }
}
