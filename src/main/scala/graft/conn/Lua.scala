package graft.conn

import scala.collection.mutable

/** A from-scratch Lua 5.1 subset interpreter — the slice of the language
  * redis server-side scripts actually use (redis EVAL runs Lua 5.1):
  * locals/assignment, if/elseif/else, while/repeat, numeric and generic
  * `for`, functions (incl. `local function` and method-call sugar),
  * tables, arithmetic with string coercion, concat, length, and the
  * stdlib slice scripts lean on (`string.format/sub/len/...`,
  * `table.insert/remove/concat`, `math.*`, `tonumber`, `tostring`,
  * `type`, `next`, `pairs`, `ipairs`, `pcall`, `error`, `assert`,
  * `cjson.encode/decode`). Host bindings (the `redis` table, KEYS,
  * ARGV) are injected by the caller — see [[Resp.MiniRedis]]'s EVAL.
  *
  * The reference's redis_script processor
  * (internal/impl/redis/script_processor.go:118 redis.NewScript → Run)
  * ships scripts to a real redis server's embedded Lua; no Lua runtime
  * exists in this sandbox, so the fixture server interprets them with
  * this — semantics from the PUBLIC Lua 5.1 manual and the redis EVAL
  * documentation. Out of scope (declared): metatables, coroutines,
  * goto, varargs, string pattern matching (find/gsub/match).
  */
object Lua {

  // --------------------------------------------------------------- values

  sealed trait V
  case object LNil extends V
  final case class LBool(b: Boolean) extends V
  final case class LNum(d: Double) extends V
  final case class LStr(s: String) extends V
  final class LTable extends V {
    val m: mutable.LinkedHashMap[V, V] = mutable.LinkedHashMap.empty
    def get(k: V): V = m.getOrElse(normKey(k), LNil)
    def set(k: V, v: V): Unit = {
      val key = normKey(k)
      if (key == LNil) throw new LuaError(LStr("table index is nil"))
      if (v == LNil) m.remove(key) else m(key) = v
    }
    /** #t: the array-part border — largest n with t[1..n] all present. */
    def len: Int = {
      var n = 0
      while (m.contains(LNum(n + 1))) n += 1
      n
    }
    def arrayPart: Vector[V] = (1 to len).toVector.map(i => get(LNum(i)))
  }
  final case class LFunc(params: Vector[String], body: Vector[Stat], closure: Env) extends V
  final case class LBuiltin(name: String, f: Vector[V] => Vector[V]) extends V

  private def normKey(k: V): V = k match {
    case LNum(d) if d.isWhole && math.abs(d) < 1e15 => LNum(d) // canonical already
    case other => other
  }

  final class LuaError(val value: V) extends RuntimeException(tostring(value))
  private final class BreakEx extends RuntimeException
  private final class ReturnEx(val vals: Vector[V]) extends RuntimeException

  val True: V = LBool(true)
  val False: V = LBool(false)

  def truthy(v: V): Boolean = v match {
    case LNil | LBool(false) => false
    case _ => true
  }

  /** Lua 5.1 tostring for numbers: "%.14g". */
  def numToString(d: Double): String = {
    if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString
    else {
      val s = String.format("%.14g", Double.box(d))
      // trim trailing zeros the way %.14g prints through C
      if (s.contains('.') && !s.contains('e') && !s.contains('E'))
        s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      else s
    }
  }

  def tostring(v: V): String = v match {
    case LNil => "nil"
    case LBool(b) => b.toString
    case LNum(d) => numToString(d)
    case LStr(s) => s
    case t: LTable => s"table: 0x${Integer.toHexString(System.identityHashCode(t))}"
    case LFunc(_, _, _) => "function"
    case LBuiltin(n, _) => s"function: builtin $n"
  }

  def tonumber(v: V): Option[Double] = v match {
    case LNum(d) => Some(d)
    case LStr(s) =>
      val t = s.trim
      try {
        if (t.startsWith("0x") || t.startsWith("0X")) Some(java.lang.Long.parseLong(t.drop(2), 16).toDouble)
        else Some(t.toDouble)
      } catch { case _: NumberFormatException => None }
    case _ => None
  }

  def typeName(v: V): String = v match {
    case LNil => "nil"
    case LBool(_) => "boolean"
    case LNum(_) => "number"
    case LStr(_) => "string"
    case _: LTable => "table"
    case _: LFunc | _: LBuiltin => "function"
  }

  // ---------------------------------------------------------------- lexer

  private val Keywords = Set("and", "break", "do", "else", "elseif", "end", "false",
    "for", "function", "if", "in", "local", "nil", "not", "or", "repeat",
    "return", "then", "true", "until", "while")

  private final case class Tok(kind: String, text: String, pos: Int)

  private def lex(src: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = src.length
    def err(msg: String) = throw new LuaError(LStr(s"lex error at $i: $msg"))
    while (i < n) {
      val c = src(i)
      if (c == ' ' || c == '\t' || c == '\r' || c == '\n') i += 1
      else if (c == '-' && i + 1 < n && src(i + 1) == '-') {
        // comment: line or long [[...]]
        i += 2
        if (i + 1 < n && src(i) == '[' && src(i + 1) == '[') {
          val close = src.indexOf("]]", i + 2)
          if (close < 0) err("unterminated long comment")
          i = close + 2
        } else while (i < n && src(i) != '\n') i += 1
      } else if (c.isDigit || (c == '.' && i + 1 < n && src(i + 1).isDigit)) {
        val start = i
        if (c == '0' && i + 1 < n && (src(i + 1) == 'x' || src(i + 1) == 'X')) {
          i += 2
          while (i < n && (src(i).isDigit || "abcdefABCDEF".contains(src(i)))) i += 1
        } else {
          while (i < n && (src(i).isDigit || src(i) == '.')) i += 1
          if (i < n && (src(i) == 'e' || src(i) == 'E')) {
            i += 1
            if (i < n && (src(i) == '+' || src(i) == '-')) i += 1
            while (i < n && src(i).isDigit) i += 1
          }
        }
        out += Tok("num", src.substring(start, i), start)
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (src(i).isLetterOrDigit || src(i) == '_')) i += 1
        val w = src.substring(start, i)
        out += Tok(if (Keywords(w)) w else "name", w, start)
      } else if (c == '"' || c == '\'') {
        val quote = c
        val sb = new java.lang.StringBuilder
        i += 1
        while (i < n && src(i) != quote) {
          if (src(i) == '\\') {
            i += 1
            if (i >= n) err("unterminated string escape")
            src(i) match {
              case 'n' => sb.append('\n'); case 't' => sb.append('\t')
              case 'r' => sb.append('\r'); case 'a' => sb.append('')
              case 'b' => sb.append('\b'); case 'f' => sb.append('\f')
              case 'v' => sb.append('')
              case '\\' => sb.append('\\'); case '"' => sb.append('"')
              case '\'' => sb.append('\''); case '\n' => sb.append('\n')
              case d if d.isDigit =>
                var code = d - '0'; var k = 0
                while (k < 2 && i + 1 < n && src(i + 1).isDigit) { i += 1; code = code * 10 + (src(i) - '0'); k += 1 }
                sb.append(code.toChar)
              case other => err(s"bad escape \\$other")
            }
            i += 1
          } else { sb.append(src(i)); i += 1 }
        }
        if (i >= n) err("unterminated string")
        i += 1
        out += Tok("str", sb.toString, i)
      } else if (c == '[' && i + 1 < n && src(i + 1) == '[') {
        val close = src.indexOf("]]", i + 2)
        if (close < 0) err("unterminated long string")
        var body = src.substring(i + 2, close)
        if (body.startsWith("\n")) body = body.drop(1)
        out += Tok("str", body, i)
        i = close + 2
      } else {
        val two = if (i + 1 < n) src.substring(i, i + 2) else ""
        if (two == "==" || two == "~=" || two == "<=" || two == ">=" || two == "..") {
          if (two == ".." && i + 2 < n && src(i + 2) == '.') err("varargs (...) not supported")
          out += Tok(two, two, i); i += 2
        } else if ("+-*/%^#<>=(){}[];:,.".indexOf(c) >= 0) {
          out += Tok(c.toString, c.toString, i); i += 1
        } else err(s"unexpected character '$c'")
      }
    }
    out += Tok("eof", "", n)
    out.result()
  }

  // ------------------------------------------------------------------ AST

  sealed trait Expr
  private case object ENil extends Expr
  private case object ETrue extends Expr
  private case object EFalse extends Expr
  private final case class ENum(d: Double) extends Expr
  private final case class EStr(s: String) extends Expr
  private final case class EVar(name: String) extends Expr
  private final case class EIndex(obj: Expr, key: Expr) extends Expr
  private final case class ECall(fn: Expr, args: Vector[Expr]) extends Expr
  private final case class EMethodCall(obj: Expr, name: String, args: Vector[Expr]) extends Expr
  private final case class EFunc(params: Vector[String], body: Vector[Stat]) extends Expr
  private final case class EBin(op: String, l: Expr, r: Expr) extends Expr
  private final case class EUn(op: String, e: Expr) extends Expr
  private final case class ETable(fields: Vector[(Option[Expr], Expr)]) extends Expr

  sealed trait Stat
  private final case class SLocal(names: Vector[String], exprs: Vector[Expr]) extends Stat
  private final case class SAssign(targets: Vector[Expr], exprs: Vector[Expr]) extends Stat
  private final case class SIf(branches: Vector[(Expr, Vector[Stat])], elseB: Vector[Stat]) extends Stat
  private final case class SWhile(cond: Expr, body: Vector[Stat]) extends Stat
  private final case class SRepeat(body: Vector[Stat], cond: Expr) extends Stat
  private final case class SNumFor(name: String, from: Expr, to: Expr, step: Option[Expr], body: Vector[Stat]) extends Stat
  private final case class SGenFor(names: Vector[String], exprs: Vector[Expr], body: Vector[Stat]) extends Stat
  private final case class SReturn(exprs: Vector[Expr]) extends Stat
  private case object SBreak extends Stat
  private final case class SCall(call: Expr) extends Stat
  private final case class SDo(body: Vector[Stat]) extends Stat

  /** A compiled chunk, reusable across runs (the script-cache unit). */
  final class Chunk private[Lua] (private[Lua] val body: Vector[Stat])

  // --------------------------------------------------------------- parser

  private final class Parser(toks: Vector[Tok]) {
    private var p = 0
    private def peek: Tok = toks(p)
    private def next(): Tok = { val t = toks(p); p += 1; t }
    private def expect(kind: String): Tok = {
      val t = next()
      if (t.kind != kind) fail(s"expected '$kind', got '${t.kind}'${if (t.text.nonEmpty) s" (${t.text})" else ""}")
      t
    }
    private def accept(kind: String): Boolean =
      if (peek.kind == kind) { p += 1; true } else false
    private def fail(msg: String): Nothing =
      throw new LuaError(LStr(s"parse error near position ${peek.pos}: $msg"))

    def chunk(terminators: Set[String]): Vector[Stat] = {
      val out = Vector.newBuilder[Stat]
      while (!terminators.contains(peek.kind)) {
        if (peek.kind == "eof") fail(s"unexpected eof, expected one of ${terminators.mkString("/")}")
        statement().foreach(out += _)
      }
      out.result()
    }

    private def statement(): Option[Stat] = peek.kind match {
      case ";" => next(); None
      case "local" =>
        next()
        if (accept("function")) {
          val name = expect("name").text
          Some(SLocal(Vector(name), Vector(funcBody())))
        } else {
          val names = nameList()
          val exprs = if (accept("=")) expList() else Vector.empty
          Some(SLocal(names, exprs))
        }
      case "if" =>
        next()
        val branches = Vector.newBuilder[(Expr, Vector[Stat])]
        val c0 = expr(); expect("then")
        branches += ((c0, chunk(Set("elseif", "else", "end"))))
        var elseB: Vector[Stat] = Vector.empty
        var done = false
        while (!done) next().kind match {
          case "elseif" =>
            val c = expr(); expect("then")
            branches += ((c, chunk(Set("elseif", "else", "end"))))
          case "else" =>
            elseB = chunk(Set("end")); expect("end"); done = true
          case "end" => done = true
          case k => fail(s"unexpected '$k' in if")
        }
        Some(SIf(branches.result(), elseB))
      case "while" =>
        next(); val c = expr(); expect("do")
        val b = chunk(Set("end")); expect("end")
        Some(SWhile(c, b))
      case "repeat" =>
        next(); val b = chunk(Set("until")); expect("until")
        Some(SRepeat(b, expr()))
      case "for" =>
        next()
        val n1 = expect("name").text
        if (accept("=")) {
          val from = expr(); expect(",")
          val to = expr()
          val step = if (accept(",")) Some(expr()) else None
          expect("do"); val b = chunk(Set("end")); expect("end")
          Some(SNumFor(n1, from, to, step, b))
        } else {
          val names = Vector.newBuilder[String]
          names += n1
          while (accept(",")) names += expect("name").text
          expect("in")
          val exprs = expList()
          expect("do"); val b = chunk(Set("end")); expect("end")
          Some(SGenFor(names.result(), exprs, b))
        }
      case "function" =>
        // global function Name[.Name] — rare in scripts but cheap
        next()
        var target: Expr = EVar(expect("name").text)
        while (accept(".")) target = EIndex(target, EStr(expect("name").text))
        Some(SAssign(Vector(target), Vector(funcBody())))
      case "return" =>
        next()
        val es = if (Set("end", "else", "elseif", "until", "eof", ";").contains(peek.kind)) Vector.empty[Expr]
          else expList()
        accept(";")
        Some(SReturn(es))
      case "break" => next(); Some(SBreak)
      case "do" =>
        next(); val b = chunk(Set("end")); expect("end"); Some(SDo(b))
      case _ =>
        val e = suffixedExpr()
        e match {
          case _: ECall | _: EMethodCall if !Set("=", ",").contains(peek.kind) => Some(SCall(e))
          case _ =>
            val targets = Vector.newBuilder[Expr]
            targets += e
            while (accept(",")) targets += suffixedExpr()
            expect("=")
            val exprs = expList()
            targets.result().foreach {
              case _: EVar | _: EIndex => ()
              case _ => fail("cannot assign to this expression")
            }
            Some(SAssign(targets.result(), exprs))
        }
    }

    private def nameList(): Vector[String] = {
      val out = Vector.newBuilder[String]
      out += expect("name").text
      while (accept(",")) out += expect("name").text
      out.result()
    }
    private def expList(): Vector[Expr] = {
      val out = Vector.newBuilder[Expr]
      out += expr()
      while (accept(",")) out += expr()
      out.result()
    }

    private def funcBody(): EFunc = {
      expect("(")
      val params = if (peek.kind == ")") Vector.empty[String] else nameList()
      expect(")")
      val b = chunk(Set("end")); expect("end")
      EFunc(params, b)
    }

    // precedence climbing (Lua 5.1 §2.5.6)
    private val BinPrec: Map[String, (Int, Int)] = Map(
      "or" -> (1, 1), "and" -> (2, 2),
      "<" -> (3, 3), ">" -> (3, 3), "<=" -> (3, 3), ">=" -> (3, 3), "~=" -> (3, 3), "==" -> (3, 3),
      ".." -> (5, 4), // right associative
      "+" -> (6, 6), "-" -> (6, 6),
      "*" -> (7, 7), "/" -> (7, 7), "%" -> (7, 7),
      "^" -> (10, 9)) // right associative
    private val UnaryPrec = 8

    private def expr(limit: Int = 0): Expr = {
      var left: Expr =
        if (peek.kind == "not" || peek.kind == "-" || peek.kind == "#") {
          val op = next().kind
          EUn(op, expr(UnaryPrec))
        } else simpleExpr()
      var cont = true
      while (cont) BinPrec.get(peek.kind) match {
        case Some((lp, rp)) if lp > limit =>
          val op = next().kind
          left = EBin(op, left, expr(rp))
        case _ => cont = false
      }
      left
    }

    private def simpleExpr(): Expr = peek.kind match {
      case "nil" => next(); ENil
      case "true" => next(); ETrue
      case "false" => next(); EFalse
      case "num" =>
        val t = next().text
        val d = if (t.startsWith("0x") || t.startsWith("0X"))
          java.lang.Long.parseLong(t.drop(2), 16).toDouble else t.toDouble
        ENum(d)
      case "str" => EStr(next().text)
      case "function" => next(); funcBody()
      case "{" => tableCons()
      case _ => suffixedExpr()
    }

    private def tableCons(): Expr = {
      expect("{")
      val fields = Vector.newBuilder[(Option[Expr], Expr)]
      while (peek.kind != "}") {
        if (peek.kind == "[") {
          next(); val k = expr(); expect("]"); expect("=")
          fields += ((Some(k), expr()))
        } else if (peek.kind == "name" && toks(p + 1).kind == "=") {
          val k = EStr(next().text); next()
          fields += ((Some(k), expr()))
        } else fields += ((None, expr()))
        if (!accept(",") && !accept(";")) {
          if (peek.kind != "}") fail("expected ',' or '}' in table constructor")
        }
      }
      expect("}")
      ETable(fields.result())
    }

    private def suffixedExpr(): Expr = {
      var e: Expr = peek.kind match {
        case "name" => EVar(next().text)
        case "(" => next(); val inner = expr(); expect(")"); inner
        case k => fail(s"unexpected '$k'")
      }
      var cont = true
      while (cont) peek.kind match {
        case "." => next(); e = EIndex(e, EStr(expect("name").text))
        case "[" => next(); val k = expr(); expect("]"); e = EIndex(e, k)
        case "(" =>
          next()
          val args = if (peek.kind == ")") Vector.empty[Expr] else expList()
          expect(")")
          e = ECall(e, args)
        case "str" => e = ECall(e, Vector(EStr(next().text))) // f "literal"
        case "{" => e = ECall(e, Vector(tableCons())) // f { ... }
        case ":" =>
          next(); val m = expect("name").text
          expect("(")
          val args = if (peek.kind == ")") Vector.empty[Expr] else expList()
          expect(")")
          e = EMethodCall(e, m, args)
        case _ => cont = false
      }
      e
    }
  }

  def compile(src: String): Chunk = {
    val parser = new Parser(lex(src))
    new Chunk(parser.chunk(Set("eof")))
  }

  // ---------------------------------------------------------- environment

  final class Env(parent: Option[Env]) {
    private val vars = mutable.HashMap[String, V]()
    def define(name: String, v: V): Unit = vars(name) = v
    def get(name: String): V =
      vars.getOrElse(name, parent.map(_.get(name)).getOrElse(LNil))
    def set(name: String, v: V): Boolean =
      if (vars.contains(name)) { vars(name) = v; true }
      else parent.exists(_.set(name, v))
    def setOrGlobal(name: String, v: V): Unit =
      if (!set(name, v)) root.define(name, v)
    private def root: Env = parent.map(_.root).getOrElse(this)
  }

  // ---------------------------------------------------------- interpreter

  private val MaxSteps = 10_000_000 // runaway-script guard (fixture-scale)

  final class Interp(globals: Env) {
    private var steps = 0
    private def tick(): Unit = {
      steps += 1
      if (steps > MaxSteps) throw new LuaError(LStr("script exceeded instruction budget"))
    }

    def execChunk(body: Vector[Stat], env: Env): Vector[V] =
      try { execBlock(body, env); Vector(LNil) }
      catch { case r: ReturnEx => r.vals }

    private def execBlock(body: Vector[Stat], env: Env): Unit =
      body.foreach(execStat(_, env))

    private def execStat(s: Stat, env: Env): Unit = {
      tick()
      s match {
        case SLocal(names, exprs) =>
          val vals = evalList(exprs, env, names.length)
          names.zipWithIndex.foreach { case (n, i) => env.define(n, vals(i)) }
        case SAssign(targets, exprs) =>
          val vals = evalList(exprs, env, targets.length)
          targets.zipWithIndex.foreach {
            case (EVar(n), i) => env.setOrGlobal(n, vals(i))
            case (EIndex(o, key), i) =>
              evalSingle(o, env) match {
                case t: LTable => t.set(evalSingle(key, env), vals(i))
                case other => throw new LuaError(LStr(s"attempt to index a ${typeName(other)} value"))
              }
            case (other, _) => throw new LuaError(LStr(s"bad assignment target $other"))
          }
        case SIf(branches, elseB) =>
          branches.find { case (c, _) => truthy(evalSingle(c, env)) } match {
            case Some((_, b)) => execBlock(b, new Env(Some(env)))
            case None => execBlock(elseB, new Env(Some(env)))
          }
        case SWhile(c, b) =>
          try while (truthy(evalSingle(c, env))) { tick(); execBlock(b, new Env(Some(env))) }
          catch { case _: BreakEx => () }
        case SRepeat(b, c) =>
          try {
            var done = false
            while (!done) {
              tick()
              val inner = new Env(Some(env))
              execBlock(b, inner)
              done = truthy(evalSingle(c, inner)) // cond sees the body's locals (Lua 5.1 §2.4.4)
            }
          } catch { case _: BreakEx => () }
        case SNumFor(name, fromE, toE, stepE, body) =>
          val from = num(evalSingle(fromE, env), "'for' initial value")
          val to = num(evalSingle(toE, env), "'for' limit")
          val step = stepE.map(e => num(evalSingle(e, env), "'for' step")).getOrElse(1.0)
          if (step == 0) throw new LuaError(LStr("'for' step is zero"))
          try {
            var i = from
            while ((step > 0 && i <= to) || (step < 0 && i >= to)) {
              tick()
              val inner = new Env(Some(env))
              inner.define(name, LNum(i))
              execBlock(body, inner)
              i += step
            }
          } catch { case _: BreakEx => () }
        case SGenFor(names, exprs, body) =>
          val ctrl = evalList(exprs, env, 3)
          val (f, st) = (ctrl(0), ctrl(1))
          var c = ctrl(2)
          try {
            var done = false
            while (!done) {
              tick()
              val rets = call(f, Vector(st, c))
              if (rets.isEmpty || rets.head == LNil) done = true
              else {
                c = rets.head
                val inner = new Env(Some(env))
                names.zipWithIndex.foreach { case (n, i) =>
                  inner.define(n, if (i < rets.length) rets(i) else LNil)
                }
                execBlock(body, inner)
              }
            }
          } catch { case _: BreakEx => () }
        case SReturn(exprs) => throw new ReturnEx(evalMulti(exprs, env))
        case SBreak => throw new BreakEx
        case SCall(e) => evalExpr(e, env)
        case SDo(b) => execBlock(b, new Env(Some(env)))
      }
    }

    /** Evaluate an explist: every expr yields one value except the last,
      * which expands (call results). Padded/truncated to `want` (-1 = all). */
    private def evalList(exprs: Vector[Expr], env: Env, want: Int): Vector[V] = {
      val vals = evalMulti(exprs, env)
      if (want < 0) vals
      else if (vals.length >= want) vals.take(want)
      else vals ++ Vector.fill(want - vals.length)(LNil)
    }

    private def evalMulti(exprs: Vector[Expr], env: Env): Vector[V] =
      if (exprs.isEmpty) Vector.empty
      else exprs.init.map(evalSingle(_, env)) ++ evalExpr(exprs.last, env)

    def evalSingle(e: Expr, env: Env): V = {
      val vs = evalExpr(e, env)
      if (vs.isEmpty) LNil else vs.head
    }

    private def evalExpr(e: Expr, env: Env): Vector[V] = {
      tick()
      e match {
        case ENil => Vector(LNil)
        case ETrue => Vector(True)
        case EFalse => Vector(False)
        case ENum(d) => Vector(LNum(d))
        case EStr(s) => Vector(LStr(s))
        case EVar(n) => Vector(env.get(n))
        case EIndex(o, k) =>
          evalSingle(o, env) match {
            case t: LTable => Vector(t.get(evalSingle(k, env)))
            case LStr(s) =>
              // string library access via the string value is metatable
              // territory — only s.len-style indexing of the lib itself is
              // supported; indexing a string raises like an untabled value
              throw new LuaError(LStr("attempt to index a string value (no metatables)"))
            case other => throw new LuaError(LStr(s"attempt to index a ${typeName(other)} value"))
          }
        case ECall(f, args) =>
          call(evalSingle(f, env), evalMulti(args, env))
        case EMethodCall(o, name, args) =>
          val self = evalSingle(o, env)
          val fn = self match {
            case t: LTable => t.get(LStr(name))
            case other => throw new LuaError(LStr(s"attempt to index a ${typeName(other)} value"))
          }
          call(fn, self +: evalMulti(args, env))
        case EFunc(params, body) => Vector(LFunc(params, body, env))
        case ETable(fields) =>
          val t = new LTable
          var arrayIdx = 1
          fields.zipWithIndex.foreach {
            case ((Some(k), v), _) => t.set(evalSingle(k, env), evalSingle(v, env))
            case ((None, v), i) =>
              if (i == fields.length - 1) {
                // last positional field expands multi-values
                evalExpr(v, env).foreach { x => t.set(LNum(arrayIdx), x); arrayIdx += 1 }
              } else { t.set(LNum(arrayIdx), evalSingle(v, env)); arrayIdx += 1 }
          }
          Vector(t)
        case EUn(op, x) =>
          val v = evalSingle(x, env)
          Vector(op match {
            case "-" => LNum(-num(v, "unary minus"))
            case "not" => LBool(!truthy(v))
            case "#" => v match {
              case LStr(s) => LNum(s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toDouble)
              case t: LTable => LNum(t.len.toDouble)
              case other => throw new LuaError(LStr(s"attempt to get length of a ${typeName(other)} value"))
            }
            case o => throw new LuaError(LStr(s"bad unary op $o"))
          })
        case EBin("and", l, r) =>
          val lv = evalSingle(l, env)
          Vector(if (!truthy(lv)) lv else evalSingle(r, env))
        case EBin("or", l, r) =>
          val lv = evalSingle(l, env)
          Vector(if (truthy(lv)) lv else evalSingle(r, env))
        case EBin(op, l, r) =>
          Vector(binOp(op, evalSingle(l, env), evalSingle(r, env)))
      }
    }

    private def num(v: V, what: String): Double =
      tonumber(v).getOrElse(throw new LuaError(LStr(s"$what: expected number, got ${typeName(v)}")))

    private def binOp(op: String, l: V, r: V): V = op match {
      case "+" => LNum(num(l, "add") + num(r, "add"))
      case "-" => LNum(num(l, "sub") - num(r, "sub"))
      case "*" => LNum(num(l, "mul") * num(r, "mul"))
      case "/" => LNum(num(l, "div") / num(r, "div"))
      case "%" =>
        val (a, b) = (num(l, "mod"), num(r, "mod"))
        LNum(a - math.floor(a / b) * b) // Lua mod: floored
      case "^" => LNum(math.pow(num(l, "pow"), num(r, "pow")))
      case ".." => (l, r) match {
        case (LStr(_) | LNum(_), LStr(_) | LNum(_)) => LStr(tostring(l) + tostring(r))
        case _ => throw new LuaError(LStr(s"attempt to concatenate a ${typeName(if (l.isInstanceOf[LStr] || l.isInstanceOf[LNum]) r else l)} value"))
      }
      case "==" => LBool(luaEquals(l, r))
      case "~=" => LBool(!luaEquals(l, r))
      case "<" | "<=" | ">" | ">=" =>
        val cmp = (l, r) match {
          case (LNum(a), LNum(b)) => a.compareTo(b)
          case (LStr(a), LStr(b)) => a.compareTo(b)
          case _ => throw new LuaError(LStr(s"attempt to compare ${typeName(l)} with ${typeName(r)}"))
        }
        LBool(op match {
          case "<" => cmp < 0
          case "<=" => cmp <= 0
          case ">" => cmp > 0
          case _ => cmp >= 0
        })
      case o => throw new LuaError(LStr(s"bad binary op $o"))
    }

    private def luaEquals(l: V, r: V): Boolean = (l, r) match {
      case (LNil, LNil) => true
      case (LBool(a), LBool(b)) => a == b
      case (LNum(a), LNum(b)) => a == b
      case (LStr(a), LStr(b)) => a == b
      case (a: LTable, b: LTable) => a eq b
      case (a: LBuiltin, b: LBuiltin) => a eq b
      case (a: LFunc, b: LFunc) => a eq b
      case _ => false
    }

    def call(f: V, args: Vector[V]): Vector[V] = {
      tick()
      f match {
        case LBuiltin(_, fn) => fn(args)
        case LFunc(params, body, closure) =>
          val env = new Env(Some(closure))
          params.zipWithIndex.foreach { case (p, i) =>
            env.define(p, if (i < args.length) args(i) else LNil)
          }
          try { execBlock(body, env); Vector.empty }
          catch { case r: ReturnEx => r.vals }
        case other => throw new LuaError(LStr(s"attempt to call a ${typeName(other)} value"))
      }
    }
  }

  // -------------------------------------------------------------- stdlib

  private def argErr(fn: String, msg: String): Nothing =
    throw new LuaError(LStr(s"bad argument to '$fn' ($msg)"))

  /** Fresh globals with the supported stdlib slice. `extra` adds host
    * bindings (KEYS/ARGV/redis). */
  def stdEnv(extra: Map[String, V] = Map.empty): Env = {
    val g = new Env(None)
    def b(name: String)(f: Vector[V] => Vector[V]): Unit = g.define(name, LBuiltin(name, f))
    def one(v: V): Vector[V] = Vector(v)

    b("print")(_ => Vector.empty) // sink: scripts must not depend on stdout
    b("type")(a => one(LStr(typeName(a.headOption.getOrElse(LNil)))))
    b("tostring")(a => one(LStr(tostring(a.headOption.getOrElse(LNil)))))
    b("tonumber") { a =>
      a match {
        case Vector(v) => one(tonumber(v).map(LNum).getOrElse(LNil))
        case Vector(LStr(s), base) =>
          val bs = tonumber(base).getOrElse(argErr("tonumber", "base not a number")).toInt
          one(try LNum(java.lang.Long.parseLong(s.trim, bs).toDouble)
            catch { case _: NumberFormatException => LNil })
        case _ => one(LNil)
      }
    }
    b("error") { a =>
      throw new LuaError(a.headOption.getOrElse(LNil))
    }
    b("assert") { a =>
      val v = a.headOption.getOrElse(LNil)
      if (!truthy(v)) throw new LuaError(a.lift(1).getOrElse(LStr("assertion failed!")))
      a
    }
    def nextImpl(a: Vector[V]): Vector[V] = a.headOption match {
      case Some(t: LTable) =>
        val keys = t.m.keys.toVector
        val k = a.lift(1).getOrElse(LNil)
        val idx = if (k == LNil) -1 else keys.indexOf(normKey(k))
        if (idx < 0 && k != LNil) argErr("next", "invalid key")
        else if (idx + 1 >= keys.length) Vector(LNil)
        else { val nk = keys(idx + 1); Vector(nk, t.m(nk)) }
      case _ => argErr("next", "table expected")
    }
    b("next")(nextImpl)
    b("pairs") { a =>
      Vector(LBuiltin("next", nextImpl), a.headOption.getOrElse(LNil), LNil)
    }
    b("ipairs") { a =>
      val inext = LBuiltin("inext", { ia =>
        (ia.headOption, ia.lift(1)) match {
          case (Some(t: LTable), Some(LNum(i))) =>
            val n = i + 1
            val v = t.get(LNum(n))
            if (v == LNil) Vector(LNil) else Vector(LNum(n), v)
          case _ => argErr("ipairs", "bad iteration state")
        }
      })
      Vector(inext, a.headOption.getOrElse(LNil), LNum(0))
    }
    b("unpack") { a =>
      a.headOption match {
        case Some(t: LTable) => t.arrayPart
        case _ => argErr("unpack", "table expected")
      }
    }
    b("rawequal")(a => one(LBool((a.headOption.getOrElse(LNil), a.lift(1).getOrElse(LNil)) match {
      case (x: LTable, y: LTable) => x eq y
      case (x, y) => x == y
    })))
    // pcall needs the interpreter; patched in by run()

    val stringT = new LTable
    def sb(name: String)(f: Vector[V] => Vector[V]): Unit = stringT.set(LStr(name), LBuiltin(s"string.$name", f))
    def str0(a: Vector[V], fn: String): String = a.headOption match {
      case Some(LStr(s)) => s
      case Some(LNum(d)) => numToString(d)
      case _ => argErr(fn, "string expected")
    }
    sb("len")(a => one(LNum(str0(a, "len").length.toDouble)))
    sb("upper")(a => one(LStr(str0(a, "upper").toUpperCase)))
    sb("lower")(a => one(LStr(str0(a, "lower").toLowerCase)))
    sb("rep") { a =>
      val n = tonumber(a.lift(1).getOrElse(LNil)).getOrElse(argErr("rep", "count")).toInt
      one(LStr(str0(a, "rep") * math.max(0, n)))
    }
    sb("sub") { a =>
      val s = str0(a, "sub")
      val n = s.length
      def norm(raw: Double, dflt: Int): Int = {
        val i = raw.toInt
        if (i < 0) math.max(n + i + 1, 1) else if (i == 0) dflt else i
      }
      val i = norm(tonumber(a.lift(1).getOrElse(LNum(1))).getOrElse(1.0), 1)
      val j = math.min(norm(tonumber(a.lift(2).getOrElse(LNum(-1))).getOrElse(-1.0), n), n)
      one(LStr(if (i > j) "" else s.substring(i - 1, j)))
    }
    sb("byte") { a =>
      val s = str0(a, "byte")
      val i = tonumber(a.lift(1).getOrElse(LNum(1))).getOrElse(1.0).toInt
      if (i < 1 || i > s.length) Vector(LNil) else one(LNum(s(i - 1).toDouble))
    }
    sb("char")(a => one(LStr(a.map(v => tonumber(v).getOrElse(argErr("char", "number")).toInt.toChar).mkString)))
    sb("format") { a =>
      val fmt = str0(a, "format")
      val out = new java.lang.StringBuilder
      var ai = 1
      var i = 0
      while (i < fmt.length) {
        val c = fmt(i)
        if (c != '%') { out.append(c); i += 1 }
        else if (i + 1 < fmt.length && fmt(i + 1) == '%') { out.append('%'); i += 2 }
        else {
          val start = i
          i += 1
          while (i < fmt.length && !"diouxXeEfgGqsc".contains(fmt(i))) i += 1
          if (i >= fmt.length) argErr("format", "incomplete format spec")
          val spec = fmt.substring(start, i + 1)
          val conv = fmt(i)
          val arg = a.lift(ai).getOrElse(LNil); ai += 1
          conv match {
            case 'd' | 'i' =>
              out.append(String.format(spec.dropRight(1) + "d",
                Long.box(tonumber(arg).getOrElse(argErr("format", "%d expects number")).toLong)))
            case 'u' | 'o' | 'x' | 'X' =>
              out.append(String.format(spec.replace('u', 'd'),
                Long.box(tonumber(arg).getOrElse(argErr("format", "number expected")).toLong)))
            case 'e' | 'E' | 'f' | 'g' | 'G' =>
              out.append(String.format(spec,
                Double.box(tonumber(arg).getOrElse(argErr("format", "number expected")))))
            case 's' => out.append(String.format(spec, tostring(arg)))
            case 'q' =>
              out.append('"').append(tostring(arg).flatMap {
                case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
                case ch => ch.toString
              }).append('"')
            case 'c' => out.append(tonumber(arg).getOrElse(argErr("format", "number expected")).toInt.toChar)
            case _ => argErr("format", s"unsupported conversion $spec")
          }
          i += 1
        }
      }
      one(LStr(out.toString))
    }
    g.define("string", stringT)

    val mathT = new LTable
    def mb(name: String)(f: Double => Double): Unit =
      mathT.set(LStr(name), LBuiltin(s"math.$name", a =>
        one(LNum(f(tonumber(a.headOption.getOrElse(LNil)).getOrElse(argErr(name, "number expected")))))))
    mb("floor")(math.floor)
    mb("ceil")(math.ceil)
    mb("abs")(math.abs)
    mb("sqrt")(math.sqrt)
    mathT.set(LStr("huge"), LNum(Double.PositiveInfinity))
    mathT.set(LStr("max"), LBuiltin("math.max", a =>
      one(LNum(a.map(v => tonumber(v).getOrElse(argErr("max", "number expected"))).max))))
    mathT.set(LStr("min"), LBuiltin("math.min", a =>
      one(LNum(a.map(v => tonumber(v).getOrElse(argErr("min", "number expected"))).min))))
    mathT.set(LStr("pow"), LBuiltin("math.pow", a =>
      one(LNum(math.pow(tonumber(a(0)).getOrElse(argErr("pow", "number")), tonumber(a(1)).getOrElse(argErr("pow", "number")))))))
    mathT.set(LStr("fmod"), LBuiltin("math.fmod", a =>
      one(LNum(tonumber(a(0)).getOrElse(argErr("fmod", "number")) % tonumber(a(1)).getOrElse(argErr("fmod", "number"))))))
    g.define("math", mathT)

    val tableT = new LTable
    tableT.set(LStr("insert"), LBuiltin("table.insert", { a =>
      a match {
        case Vector(t: LTable, v) => t.set(LNum(t.len + 1), v); Vector.empty
        case Vector(t: LTable, posV, v) =>
          val pos = tonumber(posV).getOrElse(argErr("insert", "position")).toInt
          val n = t.len
          var i = n
          while (i >= pos) { t.set(LNum(i + 1), t.get(LNum(i))); i -= 1 }
          t.set(LNum(pos), v); Vector.empty
        case _ => argErr("insert", "table expected")
      }
    }))
    tableT.set(LStr("remove"), LBuiltin("table.remove", { a =>
      a.headOption match {
        case Some(t: LTable) =>
          val n = t.len
          if (n == 0) Vector(LNil)
          else {
            val pos = a.lift(1).flatMap(tonumber).map(_.toInt).getOrElse(n)
            val removed = t.get(LNum(pos))
            var i = pos
            while (i < n) { t.set(LNum(i), t.get(LNum(i + 1))); i += 1 }
            t.set(LNum(n), LNil)
            Vector(removed)
          }
        case _ => argErr("remove", "table expected")
      }
    }))
    tableT.set(LStr("concat"), LBuiltin("table.concat", { a =>
      a.headOption match {
        case Some(t: LTable) =>
          val sep = a.lift(1) match {
            case Some(LStr(s)) => s
            case Some(LNum(d)) => numToString(d)
            case _ => ""
          }
          one(LStr(t.arrayPart.map {
            case LStr(s) => s
            case LNum(d) => numToString(d)
            case other => argErr("concat", s"invalid value (${typeName(other)})")
          }.mkString(sep)))
        case _ => argErr("concat", "table expected")
      }
    }))
    tableT.set(LStr("getn"), LBuiltin("table.getn", {
      case Vector(t: LTable) => one(LNum(t.len.toDouble))
      case _ => argErr("getn", "table expected")
    }))
    g.define("table", tableT)

    val cjsonT = new LTable
    cjsonT.set(LStr("encode"), LBuiltin("cjson.encode", a => one(LStr(jsonEncode(a.headOption.getOrElse(LNil))))))
    cjsonT.set(LStr("decode"), LBuiltin("cjson.decode", a => a.headOption match {
      case Some(LStr(s)) => one(jsonDecode(s))
      case _ => argErr("decode", "string expected")
    }))
    g.define("cjson", cjsonT)

    extra.foreach { case (k, v) => g.define(k, v) }
    g
  }

  /** Compile-and-run with fresh stdlib globals; returns the chunk's return
    * values. pcall is wired here because it needs the interpreter. */
  def run(chunk: Chunk, extra: Map[String, V] = Map.empty): Vector[V] = {
    val g = stdEnv(extra)
    val interp = new Interp(g)
    g.define("pcall", LBuiltin("pcall", { a =>
      a.headOption match {
        case Some(f) =>
          try True +: interp.call(f, a.drop(1))
          catch { case e: LuaError => Vector(False, e.value) }
        case None => argErr("pcall", "function expected")
      }
    }))
    interp.execChunk(chunk.body, new Env(Some(g)))
  }

  // ----------------------------------------------------------------- json

  private def jsonEncode(v: V): String = v match {
    case LNil => "null"
    case LBool(b) => b.toString
    case LNum(d) => numToString(d)
    case LStr(s) => graft.core.Json.quote(s)
    case t: LTable =>
      val n = t.len
      if (t.m.isEmpty) "{}"
      else if (n == t.m.size) t.arrayPart.map(jsonEncode).mkString("[", ",", "]")
      else t.m.map { case (k, x) =>
        val key = k match {
          case LStr(s) => s
          case LNum(d) => numToString(d)
          case other => throw new LuaError(LStr(s"cannot json-encode ${typeName(other)} key"))
        }
        jsonEncode(LStr(key)) + ":" + jsonEncode(x)
      }.mkString("{", ",", "}")
    case other => throw new LuaError(LStr(s"cannot json-encode ${typeName(other)}"))
  }

  private def jsonDecode(s: String): V = {
    var i = 0
    def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def fail(msg: String) = throw new LuaError(LStr(s"cjson.decode: $msg at $i"))
    def value(): V = {
      ws()
      if (i >= s.length) fail("unexpected end")
      s(i) match {
        case '{' =>
          i += 1; val t = new LTable
          ws()
          if (i < s.length && s(i) == '}') { i += 1; t }
          else {
            var done = false
            while (!done) {
              ws()
              val k = value() match { case LStr(str) => str; case _ => fail("object key must be string") }
              ws(); if (i >= s.length || s(i) != ':') fail("expected ':'"); i += 1
              t.set(LStr(k), value())
              ws()
              if (i < s.length && s(i) == ',') i += 1
              else { if (i >= s.length || s(i) != '}') fail("expected ',' or '}'"); i += 1; done = true }
            }
            t
          }
        case '[' =>
          i += 1; val t = new LTable
          ws()
          if (i < s.length && s(i) == ']') { i += 1; t }
          else {
            var n = 0
            var done = false
            while (!done) {
              n += 1; t.set(LNum(n), value())
              ws()
              if (i < s.length && s(i) == ',') i += 1
              else { if (i >= s.length || s(i) != ']') fail("expected ',' or ']'"); i += 1; done = true }
            }
            t
          }
        case '"' =>
          i += 1; val sb = new java.lang.StringBuilder
          while (i < s.length && s(i) != '"') {
            if (s(i) == '\\') {
              i += 1
              s(i) match {
                case 'n' => sb.append('\n'); case 't' => sb.append('\t')
                case 'r' => sb.append('\r'); case 'b' => sb.append('\b')
                case 'f' => sb.append('\f'); case '/' => sb.append('/')
                case '"' => sb.append('"'); case '\\' => sb.append('\\')
                case 'u' => sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar); i += 4
                case other => fail(s"bad escape \\$other")
              }
              i += 1
            } else { sb.append(s(i)); i += 1 }
          }
          if (i >= s.length) fail("unterminated string")
          i += 1
          LStr(sb.toString)
        case 't' => if (s.startsWith("true", i)) { i += 4; True } else fail("bad literal")
        case 'f' => if (s.startsWith("false", i)) { i += 5; False } else fail("bad literal")
        case 'n' => if (s.startsWith("null", i)) { i += 4; LNil } else fail("bad literal")
        case _ =>
          val start = i
          while (i < s.length && "+-0123456789.eE".indexOf(s(i)) >= 0) i += 1
          if (i == start) fail("unexpected character")
          LNum(s.substring(start, i).toDouble)
      }
    }
    val v = value()
    ws()
    if (i != s.length) fail("trailing content")
    v
  }
}
