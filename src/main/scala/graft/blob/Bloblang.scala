package graft.blob


/** Bloblang text frontend (SURVEY §7.1 "blob" phase 2; reference grammar:
  * internal/bloblang/parser/mapping_parser.go:19-60, query_parser.go,
  * query_expression_parser.go:10-160, arithmetic.go:18-33).
  *
  * Parses actual Bloblang mapping source to an AST and executes it per
  * message — the execution model mirrors the reference's interpreter
  * (scalar tree-walk per message, mapping_parser.go → mapping.Executor),
  * but runs executor-side inside a Spark UDF, partition-local, so the
  * surrounding plan (scans, filters, joins, aggregations) stays fully
  * vectorized Catalyst. Statically-typed pipelines should prefer the
  * [[graft.functions.Blob]] Column DSL (whole-stage codegen); this frontend
  * exists so reference mappings and their golden tests run verbatim.
  *
  * Value model (reference: internal/value/type_helpers.go:14-78):
  * null | Boolean | Long | Double | String | VBytes | Vector[Any] |
  * VectorMap[String, Any], plus Delete/Nothing sentinels.
  */
object Bloblang {

  // ===== values ==============================================================

  final case class VBytes(bytes: Array[Byte]) {
    def str = new String(bytes, "UTF-8")
  }
  case object VDelete
  case object VNothing
  final class BlobError(val msg: String) extends RuntimeException(msg) {
    override def fillInStackTrace(): Throwable = this
  }
  private def err(msg: String): Nothing = throw new BlobError(msg)

  // ===== AST =================================================================

  sealed trait Expr extends Serializable
  final case class Lit(v: Any) extends Expr
  final case class ArrLit(items: Vector[Expr]) extends Expr
  final case class ObjLit(fields: Vector[(Expr, Expr)]) extends Expr
  case object This extends Expr
  case object RootRef extends Expr
  final case class VarRef(name: String) extends Expr
  final case class MetaRef(name: Option[String]) extends Expr
  final case class Field(target: Expr, name: String) extends Expr
  final case class Index(target: Expr, idx: Expr) extends Expr
  final case class FnCall(name: String, args: Vector[Expr]) extends Expr
  final case class MethodCall(target: Expr, name: String, args: Vector[Expr]) extends Expr
  final case class Lambda(param: String, body: Expr) extends Expr
  final case class If(cond: Expr, thn: Expr, els: Option[Expr]) extends Expr
  final case class Match(target: Option[Expr], cases: Vector[(Option[Expr], Expr)]) extends Expr
  final case class Bin(op: String, l: Expr, r: Expr) extends Expr
  final case class Not(e: Expr) extends Expr
  final case class Neg(e: Expr) extends Expr

  sealed trait Stmt extends Serializable
  final case class AssignRoot(path: Vector[String], e: Expr) extends Stmt
  final case class AssignMeta(key: Option[String], e: Expr) extends Stmt
  final case class AssignVar(name: String, e: Expr) extends Stmt
  /** Bare expression statement (side-effecting calls, e.g. `cache_set(...)`). */
  final case class ExprStmt(e: Expr) extends Stmt

  /** Declared parameter order per function, for named-argument calls
    * (`cache_set(resource: "c", key: "k", value: "v")` — the reference
    * resolves names against the registered param spec). */
  val fnParams: Map[String, Vector[String]] = Map(
    "cache_get" -> Vector("resource", "key"),
    "cache_set" -> Vector("resource", "key", "value"),
    "cache_add" -> Vector("resource", "key", "value"),
    "cache_delete" -> Vector("resource", "key"),
    "range" -> Vector("start", "stop", "step"),
    "random_int" -> Vector("seed", "max", "min"),
    "fake" -> Vector("type"),
    "env" -> Vector("name"),
    "file" -> Vector("path"),
    "file_rel" -> Vector("path"),
    "json" -> Vector("path"),
    "meta" -> Vector("key"),
    "metadata" -> Vector("key"),
    "root_meta" -> Vector("key"),
    "throw" -> Vector("message"),
    "snowflake_id" -> Vector("node_id"))
  final case class Mapping(maps: Map[String, Vector[Stmt]], stmts: Vector[Stmt],
                           stmtLines: Vector[Int] = Vector.empty)
    extends Serializable

  // ===== lexer ===============================================================

  private final case class Tok(kind: String, text: String, pos: Int)

  private def lex(src: String): Vector[Tok] = {
    val toks = Vector.newBuilder[Tok]
    var i = 0
    val n = src.length
    while (i < n) {
      val c = src.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '#') { while (i < n && src.charAt(i) != '\n') i += 1 }
      else if (c == '"') {
        val sb = new StringBuilder
        val start = i
        i += 1
        while (i < n && src.charAt(i) != '"') {
          if (src.charAt(i) == '\\') {
            i += 1
            src.charAt(i) match {
              case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
              case 'u' => sb += Integer.parseInt(src.substring(i + 1, i + 5), 16).toChar; i += 4
              case x => sb += x
            }
          } else sb += src.charAt(i)
          i += 1
        }
        i += 1
        toks += Tok("str", sb.toString, start)
      } else if (c.isDigit) {
        val start = i
        while (i < n && (src.charAt(i).isDigit || src.charAt(i) == '.' ||
          src.charAt(i) == 'e' || src.charAt(i) == 'E' ||
          ((src.charAt(i) == '+' || src.charAt(i) == '-') && i > start &&
            (src.charAt(i - 1) == 'e' || src.charAt(i - 1) == 'E')))) i += 1
        // a trailing ".ident" is field access on a number literal position
        var text = src.substring(start, i)
        if (text.endsWith(".") ) { text = text.dropRight(1); i -= 1 }
        toks += Tok("num", text, start)
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (src.charAt(i).isLetterOrDigit || src.charAt(i) == '_')) i += 1
        toks += Tok("ident", src.substring(start, i), start)
      } else {
        val two = if (i + 1 < n) src.substring(i, i + 2) else ""
        if (Set("==", "!=", "<=", ">=", "&&", "||", "->", "=>").contains(two)) {
          toks += Tok("op", two, i); i += 2
        } else {
          toks += Tok("op", c.toString, i); i += 1
        }
      }
    }
    toks += Tok("eof", "", n)
    toks.result()
  }

  // ===== parser ==============================================================

  final class Parser(toks: Vector[Tok], src: String = "") {
    /** 1-based line of a character offset (for reference-exact error text). */
    private def lineOf(pos: Int): Int =
      1 + src.view.take(math.min(pos, src.length)).count(_ == '\n')

    private var p = 0
    // lambda parameters in scope: bare idents matching one resolve to the
    // bound element, not to a field of `this`
    private var lambdaParams: List[String] = Nil
    private def cur: Tok = toks(p)
    private def at(kind: String, text: String = null): Boolean =
      cur.kind == kind && (text == null || cur.text == text)
    private def eat(): Tok = { val t = cur; p += 1; t }
    private def expect(kind: String, text: String = null): Tok = {
      if (!at(kind, text)) err(s"parse: expected ${Option(text).getOrElse(kind)}, got '${cur.text}' at ${cur.pos}")
      eat()
    }

    def parseMapping(): Mapping = {
      val maps = Map.newBuilder[String, Vector[Stmt]]
      val stmts = Vector.newBuilder[Stmt]
      val lines = Vector.newBuilder[Int]
      while (!at("eof")) {
        if (at("ident", "map") && toks(p + 1).kind == "ident" &&
            (toks(p + 2).kind == "op" && toks(p + 2).text == "{")) {
          eat(); val name = eat().text; expect("op", "{")
          val body = Vector.newBuilder[Stmt]
          while (!at("op", "}")) body += parseStmt()
          expect("op", "}")
          maps += name -> body.result()
        } else { lines += lineOf(cur.pos); stmts += parseStmt() }
      }
      Mapping(maps.result(), stmts.result(), lines.result())
    }

    def parseStmt(): Stmt = {
      if (at("ident", "let")) {
        eat(); val name = expect("ident").text; expect("op", "="); AssignVar(name, parseExpr())
      } else if (at("ident", "meta")) {
        eat()
        val key = if (at("ident")) Some(eat().text)
          else if (at("str")) Some(eat().text) else None
        expect("op", "="); AssignMeta(key, parseExpr())
      } else if (at("ident", "root")) {
        eat()
        val path = Vector.newBuilder[String]
        while (at("op", ".")) { eat(); path += eat().text }
        expect("op", "="); AssignRoot(path.result(), parseExpr())
      } else if (at("ident") && toks(p + 1).kind == "op" && toks(p + 1).text == "(") {
        ExprStmt(parseExpr()) // bare side-effecting call, e.g. cache_set(...)
      } else if (at("ident")) {
        val path = Vector.newBuilder[String]
        path += eat().text
        while (at("op", ".")) { eat(); path += eat().text }
        expect("op", "="); AssignRoot(path.result(), parseExpr())
      } else err(s"parse: bad statement at '${cur.text}' (${cur.pos})")
    }

    def parseExpr(): Expr = parsePipe()

    def parseExprToEof(): Expr = { val e = parseExpr(); expect("eof"); e }

    private def parsePipe(): Expr = {
      var l = parseOr()
      while (at("op", "|")) { eat(); l = Bin("|", l, parseOr()) }
      l
    }
    private def parseOr(): Expr = {
      var l = parseAnd()
      while (at("op", "||")) { eat(); l = Bin("||", l, parseAnd()) }
      l
    }
    private def parseAnd(): Expr = {
      var l = parseCmp()
      while (at("op", "&&")) { eat(); l = Bin("&&", l, parseCmp()) }
      l
    }
    private def parseCmp(): Expr = {
      var l = parseAdd()
      while (at("op", "==") || at("op", "!=") || at("op", "<") || at("op", ">") ||
             at("op", "<=") || at("op", ">=")) {
        val op = eat().text; l = Bin(op, l, parseAdd())
      }
      l
    }
    private def parseAdd(): Expr = {
      var l = parseMul()
      while (at("op", "+") || at("op", "-")) { val op = eat().text; l = Bin(op, l, parseMul()) }
      l
    }
    private def parseMul(): Expr = {
      var l = parseUnary()
      while (at("op", "*") || at("op", "/") || at("op", "%")) {
        val op = eat().text; l = Bin(op, l, parseUnary())
      }
      l
    }
    private def parseUnary(): Expr =
      if (at("op", "!")) { eat(); Not(parseUnary()) }
      else if (at("op", "-")) { eat(); Neg(parseUnary()) }
      else parsePostfix()

    private def parsePostfix(): Expr = {
      var e = parsePrimary()
      var done = false
      while (!done) {
        if (at("op", ".")) {
          eat()
          if (at("num")) {
            // dot-path numeric segment: reference PATH semantics (null when
            // out of bounds — unlike `.index(n)` which errors); also keys
            // objects by the literal digit string
            e = Field(e, eat().text)
          } else if (at("str")) {
            // quoted path segment: this."field.with.dots" (field_paths doc)
            e = Field(e, eat().text)
          } else {
            val name = expect("ident").text
            if (at("op", "(")) e = MethodCall(e, name, parseArgs())
            else e = Field(e, name)
          }
        } else if (at("op", "[")) {
          eat(); val idx = parseExpr(); expect("op", "]"); e = Index(e, idx)
        } else done = true
      }
      e
    }

    private def parseArgs(): Vector[Expr] = parseArgsNamed()._1

    /** Returns (positional args, named args). Mixing is rejected. */
    private def parseArgsNamed(): (Vector[Expr], Vector[(String, Expr)]) = {
      expect("op", "(")
      val args = Vector.newBuilder[Expr]
      val named = Vector.newBuilder[(String, Expr)]
      var (nPos, nNamed) = (0, 0)
      while (!at("op", ")")) {
        // lambda: IDENT '->' expr
        if (at("ident") && toks(p + 1).kind == "op" && toks(p + 1).text == "->") {
          val param = eat().text; eat()
          lambdaParams = param :: lambdaParams
          val body = parseExpr()
          lambdaParams = lambdaParams.tail
          args += Lambda(param, body)
          nPos += 1
        } else if (at("ident") && toks(p + 1).kind == "op" && toks(p + 1).text == ":") {
          val name = eat().text; eat()
          named += name -> parseExpr()
          nNamed += 1
        } else { args += parseExpr(); nPos += 1 }
        if (at("op", ",")) eat()
      }
      expect("op", ")")
      if (nPos > 0 && nNamed > 0) err(s"parse: cannot mix named and positional args (${cur.pos})")
      (args.result(), named.result())
    }

    /** Resolve named args to the declared positional order. */
    private def resolveNamed(fn: String, named: Vector[(String, Expr)]): Vector[Expr] = {
      val params = fnParams.getOrElse(fn,
        err(s"parse: function $fn does not support named arguments"))
      val m = named.toMap
      named.foreach { case (k, _) =>
        if (!params.contains(k)) err(s"parse: unknown parameter $k for $fn")
      }
      params.takeWhile(m.contains).map(m) match {
        case resolved if resolved.length == named.length => resolved
        case _ => err(s"parse: $fn named args must cover a prefix of ${params.mkString(", ")}")
      }
    }

    private def parsePrimary(): Expr = {
      if (at("str")) Lit(eat().text)
      else if (at("num")) {
        val t = eat().text
        if (t.contains('.') || t.contains('e') || t.contains('E')) Lit(t.toDouble) else Lit(t.toLong)
      }
      else if (at("op", "(")) { eat(); val e = parseExpr(); expect("op", ")"); e }
      else if (at("op", "[")) {
        eat()
        val items = Vector.newBuilder[Expr]
        while (!at("op", "]")) { items += parseExpr(); if (at("op", ",")) eat() }
        eat()
        ArrLit(items.result())
      }
      else if (at("op", "{")) {
        eat()
        val fields = Vector.newBuilder[(Expr, Expr)]
        while (!at("op", "}")) {
          val k = if (at("str")) Lit(eat().text) else Lit(expect("ident").text)
          expect("op", ":")
          fields += ((k, parseExpr()))
          if (at("op", ",")) eat()
        }
        eat()
        ObjLit(fields.result())
      }
      else if (at("op", "$")) { eat(); VarRef(expect("ident").text) }
      else if (at("op", "@")) {
        eat()
        if (at("ident")) MetaRef(Some(eat().text)) else MetaRef(None)
      }
      else if (at("ident", "this")) { eat(); This }
      else if (at("ident", "root")) { eat(); RootRef }
      else if (at("ident", "true")) { eat(); Lit(true) }
      else if (at("ident", "false")) { eat(); Lit(false) }
      else if (at("ident", "null")) { eat(); Lit(null) }
      else if (at("ident", "if")) {
        eat()
        val cond = parseExpr()
        expect("op", "{"); val thn = parseExpr(); expect("op", "}")
        var els: Option[Expr] = None
        if (at("ident", "else")) {
          eat()
          if (at("ident", "if")) els = Some(parseIfTail())
          else { expect("op", "{"); els = Some(parseExpr()); expect("op", "}") }
        }
        If(cond, thn, els)
      }
      else if (at("ident", "match")) {
        eat()
        val target = if (at("op", "{")) None else Some(parseExpr())
        expect("op", "{")
        val cases = Vector.newBuilder[(Option[Expr], Expr)]
        while (!at("op", "}")) {
          val pat: Option[Expr] =
            if (at("ident", "_")) { eat(); None } else Some(parseExpr())
          expect("op", "=>")
          cases += ((pat, parseExpr()))
          if (at("op", ",")) eat()
        }
        eat()
        Match(target, cases.result())
      }
      else if (at("ident")) {
        val name = eat().text
        if (at("op", "(")) {
          val (pos, named) = parseArgsNamed()
          FnCall(name, if (named.nonEmpty) resolveNamed(name, named) else pos)
        }
        else if (lambdaParams.contains(name)) VarRef(name)
        else Field(This, name)
      }
      else err(s"parse: unexpected '${cur.text}' at ${cur.pos}")
    }

    private def parseIfTail(): Expr = {
      expect("ident", "if")
      val cond = parseExpr()
      expect("op", "{"); val thn = parseExpr(); expect("op", "}")
      var els: Option[Expr] = None
      if (at("ident", "else")) {
        eat()
        if (at("ident", "if")) els = Some(parseIfTail())
        else { expect("op", "{"); els = Some(parseExpr()); expect("op", "}") }
      }
      If(cond, thn, els)
    }
  }

  def parse(src: String): Mapping = new Parser(lex(src), src).parseMapping()

  /** Parse a single query expression (the payload of `${! ... }`
    * interpolations — reference field syntax, field/parser.go). */
  def parseExpr(src: String): Expr = new Parser(lex(src), src).parseExprToEof()
}
