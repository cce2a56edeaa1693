package graft

import graft.blob.{Bloblang, Compile, Interp}
import graft.core.Msg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bloblang AST → Catalyst Column compiler (blob/Compile.scala).
  *
  * The load-bearing gate is DIFFERENTIAL: every mapping in the compiled
  * subset must produce byte-identical message content to the per-row
  * interpreter over the same input frame. The pushdown tests then assert
  * the whole point of compiling — filters and column pruning reach the
  * parquet scan and no opaque UDF appears in the plan.
  */
class BloblangCompileSpec extends SparkSpec {
  import spark.implicits._

  // fixture: the compiled subset's type universe (no doubles in OUTPUT
  // fields — they stay predicate-only, like `d` here)
  private lazy val fixture: DataFrame = Seq(
    (1L, 10L, 1.5, "alpha one", true, Seq("x", "y"), Option("hello")),
    (2L, 120L, 2.0, "Beta Two", false, Seq("z"), None),
    (3L, 55L, -0.5, "  padded  ", true, Seq.empty[String], Option("v")),
    (4L, 99L, 4.25, "alpha;beta;g", false, Seq("a", "b", "c"), Option("alpha one")),
    (5L, 0L, 0.0, "", true, Seq("q"), Option(""))
  ).toDF("k", "n", "d", "s", "b", "arr", "mn").coalesce(1)

  /** Run one mapping through BOTH paths and compare surviving (content,
    * metadata) pairs as sorted multisets — a delete-filter dropping
    * different rows, or a diverging `meta` write, fails the comparison. */
  private def differential(src: String, df: DataFrame = fixture): Unit = {
    val prog = Bloblang.parse(src)
    val compiled = Compile.tryCompile(prog, df.schema)
    assert(compiled.isDefined, s"mapping did not compile:\n$src")
    def metaKey(m: Map[String, String]): String =
      m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
    val got = Compile.envelope(compiled.get.transform(df), compiled.get.ser)
      .select(col(Msg.ContentCol), col(Msg.MetaCol))
      .as[(String, Map[String, String])].collect().toSeq
      .map { case (c, m) => (c, metaKey(Option(m).getOrElse(Map.empty))) }.sorted
    val want = Msg.envelope(df).select(Msg.ContentCol).as[String].collect().toSeq
      .flatMap { c =>
        val (out, meta) = Interp.runWithMeta(prog, c, Map.empty, Map.empty)
        out.map(o => (o, metaKey(meta)))
      }.sorted
    assert(got == want,
      s"compiled vs interpreted divergence for:\n$src\ncompiled=${got.take(3)}\ninterp=${want.take(3)}")
  }

  /** Raw-content differential: the compiled path over a scalar frame
    * (content() on non-JSON messages) vs the interpreter over the same
    * raw strings. */
  private def rawDifferential(src: String, contents: Seq[String]): Unit = {
    val prog = Bloblang.parse(src)
    val compiled = Compile.tryCompile(prog, Compile.ScalarSchema)
    assert(compiled.isDefined, s"raw mapping did not compile:\n$src")
    def metaKey(m: Map[String, String]): String =
      m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
    val df = contents.toDF(Compile.ScalarCol).coalesce(1)
    val got = Compile.envelope(compiled.get.transform(df), compiled.get.ser)
      .select(col(Msg.ContentCol), col(Msg.MetaCol))
      .as[(String, Map[String, String])].collect().toSeq
      .map { case (c, m) => (c, metaKey(Option(m).getOrElse(Map.empty))) }.sorted
    val want = contents.flatMap { c =>
      val (out, meta) = Interp.runWithMeta(prog, c, Map.empty, Map.empty)
      out.map(o => (o, metaKey(meta)))
    }.sorted
    assert(got == want,
      s"raw compiled vs interpreted divergence for:\n$src\ncompiled=${got.take(3)}\ninterp=${want.take(3)}")
  }

  test("raw differential: content() filters, scalar rewrites, format, const meta") {
    val lines = Seq("hello world delete me please", "hello world 2",
      "  padded text  ", "", "MIXED case Line")
    rawDifferential("""root = if content().contains("delete me") { deleted() }""", lines)
    rawDifferential("""root = content().uppercase()""", lines)
    rawDifferential("""root = "%vend".format(content().uppercase().string())""", lines)
    rawDifferential("""
      root.up = content().uppercase()
      root.n = content().length()
    """, lines)
    rawDifferential("""
      meta foo = { "a": "hello" }
      meta bar = { "b": { "c": "hello" } }
      meta baz = [ { "a": "hello" }, { "b": { "c": "hello" } } ]
    """, lines)
    rawDifferential("""
      root = content().trim()
      root = if content().length() == 0 { deleted() }
    """, lines)
  }

  test("format twin: %% escapes, arity mismatch and non-vs verbs stay interpreted") {
    rawDifferential("""root = "100%% of %v".format(content().trim())""", Seq("a", "b"))
    // %d verb and arity errors must NOT compile (interpreter owns them)
    assert(Compile.tryCompile(Bloblang.parse(
      """root = "%d".format(content())"""), Compile.ScalarSchema).isEmpty)
    assert(Compile.tryCompile(Bloblang.parse(
      """root = "%v %v".format(content())"""), Compile.ScalarSchema).isEmpty)
    // root = this over raw content = document parse → interpreter
    assert(Compile.tryCompile(Bloblang.parse("root = this"), Compile.ScalarSchema).isEmpty)
    // a dangling trailing % is a format ERROR: interpreter territory
    assert(Compile.tryCompile(Bloblang.parse(
      """root = "abc%".format()"""), Compile.ScalarSchema).isEmpty)
    // float args render Go-style ("%v" of 2.0 is "2") on BOTH paths —
    // whole and fractional doubles covered by the fixture's d column
    differential("""root.s = "val %v".format(this.d)""")
  }

  test("differential: field assignments, string methods, filter-deletes") {
    differential("""
      root.okey = this.k
      root.flag = this.s.lowercase()
      root = if this.n < 100 { deleted() }
    """)
    differential("""
      root.up = this.s.uppercase()
      root.t = this.s.trim()
      root.tp = this.s.trim_prefix("alpha")
      root.ts = this.s.trim_suffix("Two")
      root.hp = this.s.has_prefix("alpha")
      root.hs = this.s.has_suffix("g")
    """)
    differential("""
      root.c = this.s.contains("a")
      root.i = this.s.index_of("e")
      root.r = this.s.replace_all("a", "@")
      root.m = this.s.re_match("^[a-z]+ ")
      root.rr = this.s.re_replace_all("[aeiou]", "_")
      root.parts = this.s.split(";")
      root.len = this.s.length()
    """)
  }

  test("differential: arithmetic, comparisons, logic, null handling") {
    differential("""
      root.sum = this.k + this.n
      root.prod = this.k * 2
      root.mod = this.n % 7
      root.big = this.n > 50 && this.b
      root.or2 = this.n < 5 || !this.b
      root.cat = this.s + "_" + this.k.string()
    """)
    differential("""
      root.isnull = this.mn == null
      root.notnull = this.mn != null
      root.pipe = this.mn | "fallback"
      root.orv = this.mn.or("x")
      root.cv = this.mn.catch("y")
    """)
    differential("""
      root.eq = this.s == "alpha one"
      root.ne = this.k != 3
      root.cmp = this.s < "m"
      root.numeq = this.k == 1.0
    """)
  }

  test("differential: if/else, match, let bindings, json() paths") {
    differential("""
      root.cls = if this.n > 100 { "big" } else { "small" }
      root.v = if this.b { this.k } else { 0 - this.k }
    """)
    differential("""
      root.m = match this.s {
        "alpha one" => "A",
        "Beta Two" => "B",
        _ => "other"
      }
    """)
    differential("""
      let low = this.s.lowercase()
      root.a = $low + "_z"
      root.k2 = json("k")
    """)
  }

  test("differential: whole-root forms (this, scalar, object literal, deletes)") {
    // `root = this` only compiles for schemas whose re-marshal is exact —
    // no float kinds (fixture has `d: double`), so use a narrowed frame
    val noDouble = fixture.drop("d")
    differential("root = this", noDouble)
    differential("root = this\nroot = if this.k == 2 { deleted() }", noDouble)
    differential("root = this.s.uppercase()")
    differential("root = this.k") // long scalar → raw string content
    differential("""root = {"a": this.k, "b": "x", "c": this.b}""")
    differential("root.x = this.k\nroot.y = this.s\nroot.x = deleted()")
    differential("root.keep = this.k\nroot.keep = this.s") // overwrite keeps last
  }

  test("differential: match-filter, absent-meta .or, array contains") {
    // the cookbook filtering shape: match with all-deleted arms = filter;
    // meta on a frame with no transport column is statically unset, so
    // .or("") folds to the fallback — same result the interpreter reaches
    // through null
    differential("""root = match {
      meta("topic").or("") == "foo" ||
      this.s.contains("alpha") => deleted()
    }""")
    differential("""root = if this.arr.contains("x") { deleted() }""")
    differential("""root.has = this.arr.contains("x")
                    root.k = this.k""")
    // bare meta() outside a whole-field/or position must NOT compile
    // (null-vs-"null" concat parity, same rule as env)
    assert(Compile.tryCompile(Bloblang.parse(
      """root.t = "m:" + meta("topic")"""), fixture.schema).isEmpty)
  }

  test("differential: mutation shape — root = this plus constant overrides") {
    val noDouble = fixture.drop("d")
    // add a new constant field; override an existing one; delete one
    differential("root = this\nroot.cfg = \"v2\"", noDouble)
    differential("root = this\nroot.s = \"fixed\"", noDouble)
    differential("root = this\nroot.n = deleted()", noDouble)
    // env fallback chain const-folds through the interpreter driver-side
    differential("root = this\nroot.src = env(\"GRAFT_NOPE\").or(\"dflt\")", noDouble)
    differential("root = this\nroot.tag = \"a\" + \"b\"\nroot.tag = \"c\"", noDouble)
    // document-dependent overrides ride the fragment envelope; a per-row
    // null (this.mn is None on row 2) renders as the explicit "x":null
    // the interpreter stored, while passthrough nulls stay absent
    differential("root = this\nroot.x = this.k", noDouble)
    differential("root = this\nroot.x = this.mn", noDouble)
    differential("root = this\nroot.filt = this.arr.filter(v -> v != \"x\")", noDouble)
  }

  test("differential: fragment envelopes — doubles, literals, structured roots") {
    // double passthrough and double output fields (Go whole-float rule:
    // 2.0 renders as 2, 1.5 as 1.5) — the round-4 rejection, now compiled
    differential("root = this")
    differential("root.d2 = this.d\nroot.k = this.k")
    differential("root.sum = this.d + 0.5")
    differential("meta dd = this.d\nroot.k = this.k")
    // object literal with conditional key presence + mixed-type array
    // (the literals.yaml shape)
    differential("""root = {
      "1": "1",
      "2": if this.b { "on" },
      "3": if this.k > 2 { this.k } else { deleted() },
      "4": ["c", if this.b { "on" }, if this.k > 2 { this.k } else { deleted() }, "e"]
    }""")
    // whole-root array literal, mixed types
    differential("""root = ["a", this.k, this.b, if this.k > 3 { "big" }]""")
    // structured root: map_each over an array with `this` rebound to the
    // element (message_expansion shape: let + without + merge)
    differential("root = this.arr.map_each(v -> v.uppercase())")
    val nested = Seq(
      ("""doc1""", Seq(("n1", 0.57), ("n2", 0.21))),
      ("""doc2""", Seq(("n3", 0.89))),
      ("""doc3""", Seq.empty[(String, Double)])
    ).toDF("id", "fans").withColumn("fans",
      transform(col("fans"), x => struct(x.getField("_1").as("name"), x.getField("_2").as("obsession"))))
    // the fans.yaml shape: mutation with a lambda-filtered array-of-struct
    // override (doubles inside) — FragSortedDropNull end to end
    differential("root = this\nroot.fans = this.fans.filter(f -> f.obsession > 0.5)", nested)
    // let-bound struct + merge with element context (message_expansion)
    val exp = Seq(("foobar", Seq("foo", "bar"))).toDF("id", "items")
      .withColumn("items", transform(col("items"), x => struct(x.as("content"))))
    differential("let doc_root = this.without(\"items\")\n" +
      "root = this.items.map_each($doc_root.merge(this))", exp)
  }

  test("differential: array-rooted documents — the github_releases shape") {
    // each message content is a top-level JSON ARRAY; `this` compiles to
    // the ArrayRootCol column and root is rebuilt from it
    val contents = Seq(
      """[{"tag_name":"v1.2.0","assets":[
           {"name":"bento_1.2.0_linux_amd64.tar.gz","download_count":10},
           {"name":"bento-lambda_1.2.0_linux_amd64.zip","download_count":3},
           {"name":"bento_1.2.0_checksums.txt","download_count":1}]},
         {"tag_name":"v1.3.0","assets":[
           {"name":"bento_1.3.0_darwin_arm64.tar.gz","download_count":7}]}]""",
      """[]""")
    val src = """root = this.map_each(release -> release.assets.map_each(asset -> {
        "source":         "github",
        "dist":           asset.name.re_replace_all("^bento-?((lambda_)|_)[0-9\\.]+(-rc[0-9]+)?_([^\\.]+).*", "$2$4"),
        "download_count": asset.download_count,
        "version":        release.tag_name.trim("v"),
      }).filter(asset -> asset.dist != "checksums")).flatten()"""
    val prog = Bloblang.parse(src)
    val docs = contents.map(Interp.parseJsonTyped)
    val schema = Compile.inferSchema(docs)
    assert(schema.isDefined, "array-root schema did not infer")
    val compiled = Compile.tryCompile(prog, schema.get)
    assert(compiled.isDefined, "github_releases shape did not compile")
    val df = contents.toDF("raw").select(
      from_json(col("raw"), schema.get(Compile.ArrayRootCol).dataType).as(Compile.ArrayRootCol))
    val got = Compile.envelope(compiled.get.transform(df), compiled.get.ser)
      .select(col(Msg.ContentCol)).as[String].collect().toSeq.sorted
    val want = contents.flatMap(c => Interp.runWithMeta(prog, c, Map.empty, Map.empty)._1).sorted
    assert(got == want, s"array-root divergence:\ncompiled=$got\ninterp=$want")
  }

  test("differential: metadata assignment — set, overwrite, delete, null render") {
    differential("""
      meta tag = this.s
      meta n2 = this.k + 1
      root.v = this.n
    """)
    // last write wins; whole-root `this` keeps meta orthogonal to content
    differential("meta a = \"x\"\nmeta a = this.k\nroot = this", fixture.drop("d"))
    // delete removes a key set earlier in the same mapping
    differential("meta a = \"x\"\nmeta a = deleted()\nroot.v = this.k")
    // a null value renders as the string "null" (Interp.toStr), never drops
    differential("meta nil = this.mn\nroot.v = this.k")
    // meta writes survive a delete-filter (rows keep or lose meta with the row)
    differential("""
      meta flag = this.b
      root.v = this.k
      root = if this.n > 100 { deleted() }
    """)
  }

  test("differential: join, index, slice on arrays and strings") {
    differential("""
      root.j = this.arr.join(",")
      root.j2 = this.arr.join()
      root.sl = this.arr.slice(1)
      root.sl2 = this.arr.slice(0, 2)
      root.sl3 = this.arr.slice(-2)
      root.ss = this.s.slice(2)
      root.ss2 = this.s.slice(1, -1)
      root.ss3 = this.s.slice(-4, 99)
    """)
    // index errors on out-of-bounds in the interpreter: exercise only rows
    // where the access is in range (the compiled twin's null-vs-error
    // deviation is the documented impossible-error rule)
    differential("""
      root.first = this.arr.index(0)
      root.last = this.arr.index(-1)
    """, fixture.filter(size(col("arr")) > 0))
  }

  test("differential: lambda methods — filter, map_each, sort over arrays") {
    differential("""
      root.ups = this.arr.map_each(t -> t.uppercase())
      root.nonempty = this.arr.filter(t -> t.length() > 0)
      root.sorted = this.arr.sort()
      root.chain = this.arr.filter(t -> t != "y").map_each(t -> t + "!").sort().join("|")
    """)
    // arrays of records: lambda field access compiles to struct getField
    val locs = Seq(
      (1L, Seq(("Seattle", "WA", 700L), ("Portland", "OR", 650L), ("Spokane", "WA", 220L))),
      (2L, Seq(("Boise", "ID", 230L))),
      (3L, Seq.empty[(String, String, Long)])
    ).toDF("k", "raw")
      .select(col("k"), expr(
        "transform(raw, r -> named_struct('name', r._1, 'state', r._2, 'pop', r._3))")
        .as("locations"))
    // the reference's cities.blobl shape — filter/map_each/sort/join chain
    differential("""
      root.cities = this.locations.filter(loc -> loc.state == "WA").map_each(loc -> loc.name).sort().join(", ")
      root.big = this.locations.filter(loc -> loc.pop > 300).map_each(loc -> loc.name)
    """, locs)
    differential("""
      root.uniq = this.arr.append("x", "q", "x").unique()
      root.app = this.arr.append("zz", "aa")
      root.both = this.arr.append("x").unique().sort()
    """)
  }

  test("differential: generalized match — predicate arms, target rebinding, literal mix") {
    // predicate arms with `this` rebound to the match target
    differential("""root.cls = match this.n {
      this < 50 => "low",
      this < 100 => "mid",
      _ => "high"
    }""")
    // target rebinding through a method chain + literal equality arm
    differential("""root.m = match this.s.trim().lowercase() {
      "alpha one" => "A",
      this.length() == 0 => "empty",
      this.contains("beta") => "B",
      _ => "other"
    }""")
    // match without a target evaluates patterns against the document
    differential("""root.tag = match {
      this.n > 100 => "big",
      this.b => "flagged",
      _ => "plain"
    }""")
    // numeric arm results unify to the double lane; `this` in arm results
    // is the TARGET (so `this + 0.5` reads the matched k)
    differential("""root.v = match this.k {
      1 => 10,
      2 => 2.5,
      _ => this + 0.5
    }""")
  }

  test("differential: deletable elements — deleted()/no-match arms inside map_each") {
    // the csv.yaml shape: enumerated + nested match with deleted() arms +
    // number(default) + sum, end to end over raw CSV text
    val csvs = Seq(
      "cat1,cat2,cat3\n1,2,3\n7,11,23\n89,23,2\n",
      "cat1, cat2,cat3\n\n1, 2,3\n7,11 ,23\n\n89 , 23 ,2\n",
      "h\n", "h\n1\n2\n")
    rawDifferential("""root = content().string().split("\n").enumerated().map_each(match {
        index == 0 => deleted()
        _ => match value.trim() {
          this.length() == 0 => deleted()
          _ => this.split(",")
        }
      }).map_each(
        this.map_each(this.trim().number(0)).sum()
      )""", csvs)
    // if-without-else inside map_each drops unmatched elements (VNothing)
    differential("""root.kept = this.arr.map_each(v -> if v != "y" { v })""")
    // match with no default inside map_each: unmatched elements drop
    differential("""root.only_x = this.arr.map_each(match { this == "x" => "X!" })""")
  }

  test("differential: key_values static-sequence chain — the csv_formatter shape") {
    val contents = Seq(
      """[{"foo":"hello world","baz":110,"bar":"bar value","buz":false},
          {"foo":"hello world 2","bar":"bar value 2","baz":220,"buz":true}]""")
    val src = """let header_row = this.0.keys().sort().join(",")
      root = $header_row + "\n" + this.map_each(element -> element.key_values().
        sort_by(item -> item.key).
        map_each(item -> item.value.string()).
        join(",")
      ).join("\n")"""
    val prog = Bloblang.parse(src)
    val docs = contents.map(Interp.parseJsonTyped)
    val schema = Compile.inferSchema(docs)
    assert(schema.isDefined, "csv_formatter schema did not infer")
    val compiled = Compile.tryCompile(prog, schema.get)
    assert(compiled.isDefined, "csv_formatter shape did not compile")
    val df = contents.toDF("raw").select(
      from_json(col("raw"), schema.get(Compile.ArrayRootCol).dataType).as(Compile.ArrayRootCol))
    val got = Compile.envelope(compiled.get.transform(df), compiled.get.ser)
      .select(col(Msg.ContentCol)).as[String].collect().toSeq.sorted
    val want = contents.flatMap(c => Interp.runWithMeta(prog, c, Map.empty, Map.empty)._1).sorted
    assert(got == want, s"csv_formatter divergence:\ncompiled=$got\ninterp=$want")
  }

  test("differential: named-map inlining + walk_json recursion + unescape_html") {
    val noDouble = fixture.drop("d")
    // single-statement named map inlines at its apply() site
    differential("map f { root = this }\nroot = this.apply(\"f\")", noDouble)
    differential("map up { root = this.uppercase() }\nroot.u = this.s.apply(\"up\")")
    // the walk_json shape: recursive named map over object documents, with
    // type()-pruned arms and object map_each in entry context
    val walkSrc = """map unescape_values {
        root = match {
          this.type() == "object" => this.map_each(this.value.apply("unescape_values")),
          this.type() == "array" => this.map_each(this.apply("unescape_values")),
          this.type() == "string" => this.unescape_html(),
          this.type() == "bytes" => this.unescape_html(),
          _ => this,
        }
      }
      root = this.or(content()).apply("unescape_values")"""
    for (contents <- Seq(
        Seq("""{"first":"foo &amp; bar","second":10,"third":"1 &lt; 2"}"""),
        Seq("""{"first":{"nested":"foo &amp; bar"},"second":10,"third":"1 &lt; 2"}"""),
        // numeric + hex entity refs and unknown entities kept verbatim
        Seq("""{"a":"x &#34;q&#34; &#x27;h&#x27; &unknown; &gt;"}"""))) {
      val prog = Bloblang.parse(walkSrc)
      val docs = contents.map(Interp.parseJsonTyped)
      val schema = Compile.inferSchema(docs)
      assert(schema.isDefined, s"walk_json schema did not infer for $contents")
      val compiled = Compile.tryCompile(prog, schema.get)
      assert(compiled.isDefined, s"walk_json shape did not compile for $contents")
      val df = contents.toDF("raw")
        .select(from_json(col("raw"),
          org.apache.spark.sql.types.StructType(
            schema.get.fields.filterNot(_.name.startsWith(Compile.MetaPrefix)))).as("j"))
        .select(col("j.*"))
      val got = Compile.envelope(compiled.get.transform(df), compiled.get.ser)
        .select(col(Msg.ContentCol)).as[String].collect().toSeq.sorted
      val want = contents.flatMap(c => Interp.runWithMeta(prog, c, Map.empty, Map.empty)._1).sorted
      assert(got == want, s"walk_json divergence:\ncompiled=$got\ninterp=$want")
    }
    // self-recursion on the SAME type bails at the depth cap → interpreter
    assert(Compile.tryCompile(Bloblang.parse(
      "map loop { root = this.apply(\"loop\") }\nroot.x = this.k.apply(\"loop\")"),
      fixture.schema).isEmpty)
  }

  test("interpolation templates compile to a single native Column") {
    val tpl = """user ${! this.k } -> ${! this.s.uppercase() } (${! this.mn | "none" })"""
    val compiled = Compile.tryCompileTemplate(tpl, fixture.schema)
    assert(compiled.isDefined, "template did not compile")
    val got = fixture.select(compiled.get.as("r")).as[String].collect().toSeq.sorted
    val segs = graft.blob.Interpolate.compile(tpl)
    val want = Msg.envelope(fixture).select(Msg.ContentCol).as[String].collect()
      .toSeq.map(c => graft.blob.Interpolate.render(segs, c)).sorted
    assert(got == want, s"template divergence:\ncompiled=$got\ninterp=$want")
    // static-only template compiles to a literal
    assert(Compile.tryCompileTemplate("no dynamics here", fixture.schema).isDefined)
    // outside the subset → None (caller falls back to the render UDF)
    assert(Compile.tryCompileTemplate("x ${! uuid_v4() }", fixture.schema).isEmpty)
    // and no UDF in the compiled plan
    val plan = fixture.select(compiled.get.as("r")).queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"template plan has a UDF:\n$plan")
  }

  test("schema inference lifts schemaless JSON into the compiled path") {
    import graft.blob.Interp
    val docs = Seq(
      """{"a": 1, "b": "x", "c": [1, 2], "d": true}""",
      """{"a": 2, "b": null, "c": [], "e": 1.5}""").map(Interp.parseJsonTyped)
    val schema = Compile.inferSchema(docs)
    assert(schema.isDefined)
    val bySuffix = schema.get.fields.map(f => f.name -> f.dataType).toMap
    assert(bySuffix("a") == org.apache.spark.sql.types.LongType)
    assert(bySuffix("b") == org.apache.spark.sql.types.StringType)
    assert(bySuffix("c") == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, true))
    assert(bySuffix("e") == org.apache.spark.sql.types.DoubleType)
    // array-rooted documents infer the ArrayRootCol wrapper
    assert(Compile.inferSchema(Seq(Interp.parseJsonTyped("[1,2]")))
      .exists(_.fieldNames.sameElements(Array(Compile.ArrayRootCol))))
    // scalar-rooted documents refuse
    assert(Compile.inferSchema(Seq(Interp.parseJsonTyped("42"))).isEmpty)
    // conflicting field kinds refuse
    assert(Compile.inferSchema(Seq(
      Interp.parseJsonTyped("""{"a": 1}"""),
      Interp.parseJsonTyped("""{"a": "s"}"""))).isEmpty)
  }

  test("untranslatable constructs bail to the interpreter (None)") {
    val bails = Seq(
      "root.u = uuid_v4()", // non-deterministic function
      "root.c = this.s.capitalize()", // word-split semantics
      "meta = {\"a\": \"b\"}", // whole-meta assignment
      "root.a.b = this.k", // nested path
      "root.x = if this.b { this.k }", // dynamic SINGLE-field absence
      "root.j = this.s.parse_json()", // dynamic type → interpreter
      // named map whose body is NOT a single `root = expr` → interpreter
      "map f { root.a = this.k\nroot.b = this.s }\nroot = this.apply(\"f\")")
    for (src <- bails) {
      val prog = Bloblang.parse(src)
      assert(Compile.tryCompile(prog, fixture.schema).isEmpty, s"should NOT compile: $src")
    }
    // `root = this` over a MAP-typed column must refuse: key order is
    // dynamic, no envelope renders it with marshal parity
    val mapSchema = Seq((Map("b" -> 1L, "a" -> 2L), "x")).toDF("m", "s").schema
    assert(Compile.tryCompile(Bloblang.parse("root = this"), mapSchema).isEmpty)
    // doubles now ride the fragment envelope instead of bailing
    val dblSchema = Seq((1.0, "x")).toDF("d", "s").schema
    assert(Compile.tryCompile(Bloblang.parse("root = this"), dblSchema)
      .exists(_.ser.isInstanceOf[Compile.FragSortedDropNull]))
  }

  test("config pipeline over parquet: filter pushes to the scan, no UDF in plan") {
    val dir = java.nio.file.Files.createTempDirectory("blcomp").toFile
    dir.deleteOnExit()
    fixture.write.mode("overwrite").parquet(dir.getPath + "/t.parquet")
    val cfg = s"""
input:
  parquet:
    path: ${dir.getPath}/t.parquet
pipeline:
  processors:
    - mapping: |
        root.okey = this.k
        root.flag = this.s.lowercase()
        root = if this.n < 100 { deleted() }
"""
    val frame = graft.conn.PipelineConfig.load(cfg).frame(spark)
    val plan = frame.queryExecution.executedPlan.toString
    // predicate reached the parquet reader: n >= 100 (or-null keeps the
    // interpreter's row-kept-on-error contract for null n)
    val compact = plan.replaceAll("\\s", "")
    assert(compact.contains("PushedFilters:[") && !compact.contains("PushedFilters:[]"),
      s"filter on n not pushed:\n$plan")
    assert(compact.contains("GreaterThanOrEqual(n,100)"), s"filter on n not pushed:\n$plan")
    // column pruning: only k/n/s are read — d/b/arr/mn never hit the scan
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").map(_.takeWhile(_ != ':')).toSet == Set("k", "n", "s"),
      s"scan reads pruned columns: $readSchema")
    // the whole mapping is native Catalyst — no interpreter UDF anywhere
    assert(!plan.contains("UDF"), s"opaque UDF survived compilation:\n$plan")
    // and the result is still correct
    val got = frame.select(get_json_object(col(Msg.ContentCol), "$.okey").cast("long"))
      .as[Long].collect().toSet
    assert(got == Set(2L)) // only n=120 survives n<100 delete
  }

  test("generalized-match pipeline: predicate arms keep pushdown, no UDF") {
    // a classify-then-filter config built on `match` with predicate arms —
    // the shape that fell back to the interpreter UDF before round 6
    val dir = java.nio.file.Files.createTempDirectory("blcomp3").toFile
    dir.deleteOnExit()
    fixture.write.mode("overwrite").parquet(dir.getPath + "/t.parquet")
    val cfg = s"""
input:
  parquet:
    path: ${dir.getPath}/t.parquet
pipeline:
  processors:
    - mapping: |
        root.bucket = match this.n {
          this < 50 => "low",
          this < 200 => "mid",
          _ => "high"
        }
        root.k = this.k
        root = match {
          this.n < 10 => deleted()
        }
"""
    val frame = graft.conn.PipelineConfig.load(cfg).frame(spark)
    val plan = frame.queryExecution.executedPlan.toString
    val compact = plan.replaceAll("\\s", "")
    assert(compact.contains("GreaterThanOrEqual(n,10)"),
      s"match-filter predicate not pushed:\n$plan")
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").map(_.takeWhile(_ != ':')).toSet == Set("k", "n"),
      s"scan reads pruned columns: $readSchema")
    assert(!plan.contains("UDF"), s"opaque UDF survived match compilation:\n$plan")
    val got = frame.select(get_json_object(col(Msg.ContentCol), "$.bucket"))
      .as[String].collect().sorted.toSeq
    assert(got == Seq("low", "mid", "mid", "mid")) // k=5 (n=0) deleted
  }

  test("root = this over a field-built stage keeps its explicit nulls") {
    // a drop-null `root = this` regime over an explicit-null predecessor:
    // the interpreter re-parses `"b":null` and marshals it again
    val dir = java.nio.file.Files.createTempDirectory("blnull").toFile
    dir.deleteOnExit()
    val lines = Seq("""{"x":1.5,"y":"q"}""", """{"x":2.5}""")
    java.nio.file.Files.writeString(new java.io.File(dir, "in.json").toPath, lines.mkString("\n"))
    val m1 = "root.a = this.x\nroot.b = this.y"
    val m2 = "root = this\nroot.route = \"r\""
    val cfg = s"""
input:
  file:
    paths: [ "${dir.getPath}" ]
    scanner:
      json_documents: {}
pipeline:
  processors:
    - mapping: |
        ${m1.replace("\n", "\n        ")}
    - mapping: |
        ${m2.replace("\n", "\n        ")}
"""
    val frame = graft.conn.PipelineConfig.load(cfg).frame(spark)
    assert(!frame.queryExecution.executedPlan.toString.contains("UDF"), "chain did not compile")
    val got = frame.select(Msg.ContentCol).as[String].collect().toSeq.sorted
    val want = lines.flatMap(Interp.run(Bloblang.parse(m1), _))
      .flatMap(Interp.run(Bloblang.parse(m2), _)).sorted
    assert(got == want)
    assert(got.contains("""{"a":2.5,"b":null,"route":"r"}"""))
  }

  test("per-processor fallback: uncompilable step seals the envelope, result stays correct") {
    val dir = java.nio.file.Files.createTempDirectory("blcomp2").toFile
    dir.deleteOnExit()
    fixture.write.mode("overwrite").parquet(dir.getPath + "/t.parquet")
    val cfg = s"""
input:
  parquet:
    path: ${dir.getPath}/t.parquet
pipeline:
  processors:
    - mapping: |
        root.k = this.k
        root.s = this.s
        root = if this.n < 50 { deleted() }
    - mapping: |
        root.k = this.k
        root.cap = this.s.capitalize()
"""
    val out = graft.conn.PipelineConfig.load(cfg).frame(spark)
      .select(get_json_object(col(Msg.ContentCol), "$.k").cast("long").as("k"),
        get_json_object(col(Msg.ContentCol), "$.cap").as("cap"))
      .as[(Long, String)].collect().toMap
    // rows n>=50 survive: k=2 (s="Beta Two"), k=3 ("  padded  "), k=4 ("alpha;beta;g")
    assert(out.keySet == Set(2L, 3L, 4L))
    assert(out(2L) == "Beta Two") // capitalize keeps existing caps
    // first (compiled) stage still pushed its filter down
    val plan = graft.conn.PipelineConfig.load(cfg).frame(spark)
      .queryExecution.executedPlan.toString
    assert(plan.replaceAll("\\s", "").contains("GreaterThanOrEqual(n,50)"),
      s"compiled prefix lost pushdown:\n$plan")
  }
}
