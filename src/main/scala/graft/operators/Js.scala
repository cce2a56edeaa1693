package graft.operators

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** A from-scratch ECMAScript 5.1-subset interpreter for the
  * `javascript` processor (internal/impl/javascript/processor.go — the
  * reference embeds goja, a Go ES5.1 interpreter, and exposes a
  * `bento` host object; it ships no engine code to port). The same
  * in-repo discipline as the Lua 5.1 subset (conn/Lua.scala) and the
  * WASM MVP interpreter (operators/Wasm.scala): lexer → Pratt parser →
  * tree-walking evaluator, scoped to what processor scripts actually
  * use —
  *
  *  - literals (numbers, strings, booleans, null, undefined), array
  *    and object literals, template-free strings;
  *  - `var`/`let`/`const`, assignment incl. compound forms and
  *    pre/postfix `++`/`--`, member access/assignment (`a.b`,
  *    `a[i]`), `delete`;
  *  - arithmetic with JS number semantics (all doubles; ToString
  *    renders whole numbers without a decimal point), `+` string
  *    concatenation, comparisons incl. `===`/`!==`, `&&`/`||`/`!`,
  *    the ternary, `typeof`;
  *  - `if`/`else`, `while`, classic `for`, `for…of`, `return`,
  *    `throw`, `try`/`catch`, blocks;
  *  - function declarations, function expressions, arrow functions
  *    (expression and block bodies), closures, IIFEs — the reference's
  *    own documented examples are anonymous-arrow IIFEs;
  *  - a standard-library subset: `JSON.parse`/`stringify`,
  *    `Object.keys`, `Math.{floor,ceil,round,abs,min,max,pow,sqrt}`,
  *    `Number`/`String`/`Boolean`, `parseInt`/`parseFloat`, `isNaN`,
  *    string methods (length, slice, substring, toUpperCase,
  *    toLowerCase, indexOf, includes, startsWith, endsWith, split,
  *    replace, trim, charAt, repeat), array methods (length, push,
  *    pop, join, indexOf, includes, slice, concat, map, filter,
  *    forEach, reduce).
  *
  * Deliberately out (declared): prototypes/`new`/classes, `this`
  * binding, generators/async, regex literals, labels, `with`,
  * getters/setters — none appear in the reference's processor docs.
  */
object Js {

  // ------------------------------------------------------------- values
  sealed trait V
  case object VUndef extends V
  case object VNull extends V
  final case class VNum(d: Double) extends V
  final case class VStr(s: String) extends V
  final case class VBool(b: Boolean) extends V
  final case class VObj(props: mutable.LinkedHashMap[String, V]) extends V
  final case class VArr(items: ArrayBuffer[V]) extends V
  final case class VFunc(params: Vector[String], body: Vector[Stmt],
                         exprBody: Option[Expr], closure: Env) extends V
  final case class VNative(name: String, fn: Vector[V] => V) extends V

  final case class JsError(value: V)
      extends RuntimeException(toStringValue(value))

  def num(v: V): Double = v match {
    case VNum(d) => d
    case VStr(s) => try { if (s.trim.isEmpty) 0.0 else s.trim.toDouble } catch { case _: Throwable => Double.NaN }
    case VBool(b) => if (b) 1.0 else 0.0
    case VNull => 0.0
    case _ => Double.NaN
  }

  def jsNumToString(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isPosInfinity) "Infinity"
    else if (d.isNegInfinity) "-Infinity"
    else if (d == math.rint(d) && math.abs(d) < 1e21) {
      if (d == 0.0 && 1.0 / d < 0) "0" else d.toLong.toString
    } else d.toString

  def toStringValue(v: V): String = v match {
    case VUndef => "undefined"
    case VNull => "null"
    case VNum(d) => jsNumToString(d)
    case VStr(s) => s
    case VBool(b) => b.toString
    case VArr(items) => items.map(toStringValue).mkString(",")
    case _: VObj => "[object Object]"
    case _: VFunc | _: VNative => "function"
  }

  def truthy(v: V): Boolean = v match {
    case VUndef | VNull => false
    case VNum(d) => d != 0.0 && !d.isNaN
    case VStr(s) => s.nonEmpty
    case VBool(b) => b
    case _ => true
  }

  // ------------------------------------------------------------- tokens
  private sealed trait Tok
  private final case class TNum(d: Double) extends Tok
  private final case class TStr(s: String) extends Tok
  private final case class TId(s: String) extends Tok
  private final case class TPunct(s: String) extends Tok
  private case object TEOF extends Tok

  private val keywords = Set("var", "let", "const", "function", "return", "if", "else",
    "while", "for", "of", "true", "false", "null", "undefined", "typeof", "delete",
    "throw", "try", "catch", "finally", "break", "continue", "in", "new")

  private def lex(src: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = src.length
    def peek(k: Int): Char = if (i + k < n) src.charAt(i + k) else '\u0000'
    while (i < n) {
      val c = src.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '/' && peek(1) == '/') { while (i < n && src.charAt(i) != '\n') i += 1 }
      else if (c == '/' && peek(1) == '*') {
        i += 2; while (i + 1 < n && !(src.charAt(i) == '*' && src.charAt(i + 1) == '/')) i += 1
        i += 2
      }
      else if (c.isDigit || (c == '.' && peek(1).isDigit)) {
        val start = i
        while (i < n && (src.charAt(i).isDigit || src.charAt(i) == '.' ||
          src.charAt(i) == 'e' || src.charAt(i) == 'E' ||
          ((src.charAt(i) == '+' || src.charAt(i) == '-') && i > start &&
            (src.charAt(i - 1) == 'e' || src.charAt(i - 1) == 'E')))) i += 1
        out += TNum(src.substring(start, i).toDouble)
      }
      else if (c == '"' || c == '\'') {
        val quote = c; i += 1
        val sb = new StringBuilder
        while (i < n && src.charAt(i) != quote) {
          if (src.charAt(i) == '\\' && i + 1 < n) {
            src.charAt(i + 1) match {
              case 'n' => sb.append('\n'); case 't' => sb.append('\t')
              case 'r' => sb.append('\r'); case '\\' => sb.append('\\')
              case '\'' => sb.append('\''); case '"' => sb.append('"')
              case 'u' =>
                sb.append(Integer.parseInt(src.substring(i + 2, i + 6), 16).toChar); i += 4
              case other => sb.append(other)
            }
            i += 2
          } else { sb.append(src.charAt(i)); i += 1 }
        }
        i += 1
        out += TStr(sb.toString)
      }
      else if (c.isLetter || c == '_' || c == '$') {
        val start = i
        while (i < n && (src.charAt(i).isLetterOrDigit || src.charAt(i) == '_' || src.charAt(i) == '$')) i += 1
        out += TId(src.substring(start, i))
      }
      else {
        val three = if (i + 3 <= n) src.substring(i, i + 3) else ""
        val two = if (i + 2 <= n) src.substring(i, i + 2) else ""
        if (three == "===" || three == "!==") { out += TPunct(three); i += 3 }
        else if (Set("=>", "==", "!=", "<=", ">=", "&&", "||", "++", "--",
          "+=", "-=", "*=", "/=", "%=").contains(two)) { out += TPunct(two); i += 2 }
        else { out += TPunct(c.toString); i += 1 }
      }
    }
    out += TEOF
    out.result()
  }

  // ---------------------------------------------------------------- AST
  sealed trait Expr
  final case class ENum(d: Double) extends Expr
  final case class EStr(s: String) extends Expr
  final case class EBool(b: Boolean) extends Expr
  case object ENull extends Expr
  case object EUndef extends Expr
  final case class EId(name: String) extends Expr
  final case class EArr(items: Vector[Expr]) extends Expr
  final case class EObjLit(props: Vector[(String, Expr)]) extends Expr
  final case class EMember(obj: Expr, prop: Expr) extends Expr
  final case class ECall(callee: Expr, args: Vector[Expr]) extends Expr
  final case class EUnary(op: String, e: Expr) extends Expr
  final case class EUpdate(op: String, target: Expr, prefix: Boolean) extends Expr
  final case class EBinary(op: String, l: Expr, r: Expr) extends Expr
  final case class ELogical(op: String, l: Expr, r: Expr) extends Expr
  final case class ECond(c: Expr, t: Expr, f: Expr) extends Expr
  final case class EAssign(op: String, target: Expr, value: Expr) extends Expr
  final case class EFunc(params: Vector[String], body: Vector[Stmt],
                         exprBody: Option[Expr]) extends Expr

  sealed trait Stmt
  final case class SExpr(e: Expr) extends Stmt
  final case class SVar(names: Vector[(String, Option[Expr])]) extends Stmt
  final case class SIf(c: Expr, t: Vector[Stmt], f: Vector[Stmt]) extends Stmt
  final case class SWhile(c: Expr, body: Vector[Stmt]) extends Stmt
  final case class SFor(init: Option[Stmt], cond: Option[Expr], update: Option[Expr],
                        body: Vector[Stmt]) extends Stmt
  final case class SForOf(name: String, iter: Expr, body: Vector[Stmt]) extends Stmt
  final case class SReturn(e: Option[Expr]) extends Stmt
  final case class SThrow(e: Expr) extends Stmt
  final case class STry(body: Vector[Stmt], catchClause: Option[(Option[String], Vector[Stmt])],
                        finallyBody: Vector[Stmt]) extends Stmt
  final case class SBlock(body: Vector[Stmt]) extends Stmt
  case object SBreak extends Stmt
  case object SContinue extends Stmt
  final case class SFuncDecl(name: String, f: EFunc) extends Stmt

  // --------------------------------------------------------------- parser
  private final class Parser(toks: Vector[Tok]) {
    private var pos = 0
    private def cur: Tok = toks(pos)
    private def advance(): Tok = { val t = cur; pos += 1; t }
    private def isPunct(s: String) = cur match { case TPunct(p) => p == s; case _ => false }
    private def isId(s: String) = cur match { case TId(i) => i == s; case _ => false }
    private def expectPunct(s: String): Unit = {
      require(isPunct(s), s"expected '$s' but found $cur"); pos += 1
    }
    private def eatSemi(): Unit = while (isPunct(";")) pos += 1

    def parseProgram(): Vector[Stmt] = {
      val out = Vector.newBuilder[Stmt]
      while (cur != TEOF) { out += parseStmt(); eatSemi() }
      out.result()
    }

    private def parseBlockOrStmt(): Vector[Stmt] =
      if (isPunct("{")) { val b = parseBlock(); b } else Vector(parseStmt())

    private def parseBlock(): Vector[Stmt] = {
      expectPunct("{")
      val out = Vector.newBuilder[Stmt]
      while (!isPunct("}")) { out += parseStmt(); eatSemi() }
      expectPunct("}")
      out.result()
    }

    private def parseStmt(): Stmt = cur match {
      case TId("var") | TId("let") | TId("const") =>
        advance()
        val names = Vector.newBuilder[(String, Option[Expr])]
        var more = true
        while (more) {
          val TId(name) = advance(): @unchecked
          val init = if (isPunct("=")) { pos += 1; Some(parseAssign()) } else None
          names += ((name, init))
          if (isPunct(",")) pos += 1 else more = false
        }
        SVar(names.result())
      case TId("function") =>
        advance()
        val TId(name) = advance(): @unchecked
        SFuncDecl(name, parseFuncRest())
      case TId("return") =>
        advance()
        if (isPunct(";") || isPunct("}") || cur == TEOF) SReturn(None)
        else SReturn(Some(parseExpr()))
      case TId("if") =>
        advance(); expectPunct("(")
        val c = parseExpr(); expectPunct(")")
        val t = parseBlockOrStmt()
        eatSemi()
        val f = if (isId("else")) { advance(); parseBlockOrStmt() } else Vector.empty
        SIf(c, t, f)
      case TId("while") =>
        advance(); expectPunct("(")
        val c = parseExpr(); expectPunct(")")
        SWhile(c, parseBlockOrStmt())
      case TId("for") =>
        advance(); expectPunct("(")
        // for (let x of e) | for (init; cond; update)
        val save = pos
        cur match {
          case TId("var") | TId("let") | TId("const") =>
            advance()
            val TId(name) = advance(): @unchecked
            if (isId("of")) {
              advance()
              val it = parseExpr(); expectPunct(")")
              return SForOf(name, it, parseBlockOrStmt())
            }
            pos = save
          case _ => ()
        }
        val init = if (isPunct(";")) None else Some(parseStmt())
        expectPunct(";")
        val cond = if (isPunct(";")) None else Some(parseExpr())
        expectPunct(";")
        val update = if (isPunct(")")) None else Some(parseExpr())
        expectPunct(")")
        SFor(init, cond, update, parseBlockOrStmt())
      case TId("throw") => advance(); SThrow(parseExpr())
      case TId("try") =>
        advance()
        val body = parseBlock()
        var catchClause: Option[(Option[String], Vector[Stmt])] = None
        if (isId("catch")) {
          advance()
          var catchName: Option[String] = None
          if (isPunct("(")) { pos += 1; val TId(cn) = advance(): @unchecked; catchName = Some(cn); expectPunct(")") }
          catchClause = Some((catchName, parseBlock()))
        }
        var finallyBody: Vector[Stmt] = Vector.empty
        var hasFinally = false
        if (isId("finally")) { advance(); finallyBody = parseBlock(); hasFinally = true }
        if (catchClause.isEmpty && !hasFinally)
          throw new IllegalArgumentException("SyntaxError: try requires catch or finally")
        STry(body, catchClause, finallyBody)
      case TId("break") => advance(); SBreak
      case TId("continue") => advance(); SContinue
      case TPunct("{") => SBlock(parseBlock())
      case _ => SExpr(parseExpr())
    }

    private def parseFuncRest(): EFunc = {
      expectPunct("(")
      val params = Vector.newBuilder[String]
      while (!isPunct(")")) {
        val TId(p) = advance(): @unchecked
        params += p
        if (isPunct(",")) pos += 1
      }
      expectPunct(")")
      EFunc(params.result(), parseBlock(), None)
    }

    def parseExpr(): Expr = {
      var e = parseAssign()
      while (isPunct(",")) { pos += 1; e = parseAssign() } // comma operator: last wins
      e
    }

    /** arrow detection: '(' params ')' '=>' or Id '=>' */
    private def tryArrow(): Option[EFunc] = {
      val save = pos
      cur match {
        case TId(p) if !keywords.contains(p) && toks(pos + 1) == TPunct("=>") =>
          pos += 2
          return Some(finishArrow(Vector(p)))
        case TPunct("(") =>
          // scan to matching ')' and check for '=>'
          var depth = 0
          var j = pos
          var ok = false
          var done = false
          while (!done && j < toks.length) {
            toks(j) match {
              case TPunct("(") => depth += 1; j += 1
              case TPunct(")") =>
                depth -= 1; j += 1
                if (depth == 0) { ok = toks(j) == TPunct("=>"); done = true }
              case TEOF => done = true
              case _ => j += 1
            }
          }
          if (ok) {
            pos += 1
            val params = Vector.newBuilder[String]
            while (!isPunct(")")) {
              val TId(p) = advance(): @unchecked
              params += p
              if (isPunct(",")) pos += 1
            }
            expectPunct(")"); expectPunct("=>")
            return Some(finishArrow(params.result()))
          }
        case _ => ()
      }
      pos = save
      None
    }
    private def finishArrow(params: Vector[String]): EFunc =
      if (isPunct("{")) EFunc(params, parseBlock(), None)
      else EFunc(params, Vector.empty, Some(parseAssign()))

    def parseAssign(): Expr = {
      tryArrow().foreach(a => return a)
      val left = parseConditional()
      cur match {
        case TPunct(op @ ("=" | "+=" | "-=" | "*=" | "/=" | "%=")) =>
          pos += 1
          EAssign(op, left, parseAssign())
        case _ => left
      }
    }

    private def parseConditional(): Expr = {
      val c = parseBinary(0)
      if (isPunct("?")) {
        pos += 1
        val t = parseAssign(); expectPunct(":")
        ECond(c, t, parseAssign())
      } else c
    }

    private val binPrec: Map[String, Int] = Map(
      "||" -> 1, "&&" -> 2,
      "==" -> 3, "!=" -> 3, "===" -> 3, "!==" -> 3,
      "<" -> 4, "<=" -> 4, ">" -> 4, ">=" -> 4, "in" -> 4,
      "+" -> 5, "-" -> 5, "*" -> 6, "/" -> 6, "%" -> 6)

    private def parseBinary(minPrec: Int): Expr = {
      var left = parseUnary()
      var more = true
      while (more) {
        val op = cur match {
          case TPunct(p) if binPrec.contains(p) => Some(p)
          case TId("in") => Some("in")
          case _ => None
        }
        op.filter(o => binPrec(o) > minPrec) match {
          case Some(o) =>
            pos += 1
            val right = parseBinary(binPrec(o))
            left = if (o == "&&" || o == "||") ELogical(o, left, right) else EBinary(o, left, right)
          case None => more = false
        }
      }
      left
    }

    private def parseUnary(): Expr = cur match {
      case TPunct("!") => pos += 1; EUnary("!", parseUnary())
      case TPunct("-") => pos += 1; EUnary("-", parseUnary())
      case TPunct("+") => pos += 1; EUnary("+", parseUnary())
      case TPunct("++") => pos += 1; EUpdate("++", parseUnary(), prefix = true)
      case TPunct("--") => pos += 1; EUpdate("--", parseUnary(), prefix = true)
      case TId("typeof") => pos += 1; EUnary("typeof", parseUnary())
      case TId("delete") => pos += 1; EUnary("delete", parseUnary())
      case _ => parsePostfix()
    }

    private def parsePostfix(): Expr = {
      var e = parsePrimary()
      var more = true
      while (more) cur match {
        case TPunct(".") =>
          pos += 1
          val TId(name) = advance(): @unchecked
          e = EMember(e, EStr(name))
        case TPunct("[") =>
          pos += 1
          val idx = parseExpr(); expectPunct("]")
          e = EMember(e, idx)
        case TPunct("(") =>
          pos += 1
          val args = Vector.newBuilder[Expr]
          while (!isPunct(")")) { args += parseAssign(); if (isPunct(",")) pos += 1 }
          expectPunct(")")
          e = ECall(e, args.result())
        case TPunct("++") => pos += 1; e = EUpdate("++", e, prefix = false)
        case TPunct("--") => pos += 1; e = EUpdate("--", e, prefix = false)
        case _ => more = false
      }
      e
    }

    private def parsePrimary(): Expr = advance() match {
      case TNum(d) => ENum(d)
      case TStr(s) => EStr(s)
      case TId("true") => EBool(true)
      case TId("false") => EBool(false)
      case TId("null") => ENull
      case TId("undefined") => EUndef
      case TId("function") => parseFuncRest()
      case TId(name) if !keywords.contains(name) => EId(name)
      case TPunct("(") =>
        val e = parseExpr(); expectPunct(")"); e
      case TPunct("[") =>
        val items = Vector.newBuilder[Expr]
        while (!isPunct("]")) { items += parseAssign(); if (isPunct(",")) pos += 1 }
        expectPunct("]")
        EArr(items.result())
      case TPunct("{") =>
        val props = Vector.newBuilder[(String, Expr)]
        while (!isPunct("}")) {
          val key = advance() match {
            case TId(k) => k; case TStr(k) => k; case TNum(d) => jsNumToString(d)
            case other => throw new IllegalArgumentException(s"bad object key: $other")
          }
          expectPunct(":")
          props += ((key, parseAssign()))
          if (isPunct(",")) pos += 1
        }
        expectPunct("}")
        EObjLit(props.result())
      case other => throw new IllegalArgumentException(s"unexpected token: $other")
    }
  }

  def parse(src: String): Vector[Stmt] = new Parser(lex(src)).parseProgram()

  // ----------------------------------------------------------- evaluator
  final class Env(val parent: Option[Env]) {
    private val vars = mutable.HashMap[String, V]()
    def declare(name: String, v: V): Unit = vars(name) = v
    def lookup(name: String): Option[V] =
      vars.get(name).orElse(parent.flatMap(_.lookup(name)))
    def assign(name: String, v: V): Unit =
      if (vars.contains(name)) vars(name) = v
      else parent match {
        case Some(p) if p.lookupDefined(name) => p.assign(name, v)
        case _ => vars(name) = v // implicit global-ish declaration
      }
    private def lookupDefined(name: String): Boolean =
      vars.contains(name) || parent.exists(_.lookupDefined(name))
  }

  private case object BreakSignal extends RuntimeException
  private case object ContinueSignal extends RuntimeException
  private final case class ReturnSignal(v: V) extends RuntimeException

  final class Interp(globals: Map[String, V]) {
    private val root = new Env(None)
    stdlib.foreach { case (k, v) => root.declare(k, v) }
    globals.foreach { case (k, v) => root.declare(k, v) }

    def run(program: Vector[Stmt]): V = {
      var last: V = VUndef
      program.foreach(s => last = execStmt(s, root))
      last
    }

    private def execStmts(ss: Vector[Stmt], env: Env): Unit = ss.foreach(execStmt(_, env))

    private def execStmt(s: Stmt, env: Env): V = s match {
      case SExpr(e) => eval(e, env)
      case SVar(names) =>
        names.foreach { case (n, init) => env.declare(n, init.map(eval(_, env)).getOrElse(VUndef)) }
        VUndef
      case SFuncDecl(name, f) => env.declare(name, eval(f, env)); VUndef
      case SBlock(body) => execStmts(body, new Env(Some(env))); VUndef
      case SIf(c, t, f) =>
        if (truthy(eval(c, env))) execStmts(t, new Env(Some(env)))
        else execStmts(f, new Env(Some(env)))
        VUndef
      case SWhile(c, body) =>
        while (truthy(eval(c, env))) {
          try execStmts(body, new Env(Some(env)))
          catch { case BreakSignal => return VUndef; case ContinueSignal => () }
        }
        VUndef
      case SFor(init, cond, update, body) =>
        val scope = new Env(Some(env))
        init.foreach(execStmt(_, scope))
        while (cond.forall(c => truthy(eval(c, scope)))) {
          try execStmts(body, new Env(Some(scope)))
          catch { case BreakSignal => return VUndef; case ContinueSignal => () }
          update.foreach(eval(_, scope))
        }
        VUndef
      case SForOf(name, iterE, body) =>
        val items = eval(iterE, env) match {
          case VArr(is) => is.toVector
          case VStr(s) => s.toVector.map(c => VStr(c.toString))
          case other => throw JsError(VStr(s"TypeError: ${toStringValue(other)} is not iterable"))
        }
        items.foreach { item =>
          val scope = new Env(Some(env))
          scope.declare(name, item)
          try execStmts(body, scope)
          catch { case BreakSignal => return VUndef; case ContinueSignal => () }
        }
        VUndef
      case SReturn(e) => throw ReturnSignal(e.map(eval(_, env)).getOrElse(VUndef))
      case SThrow(e) => throw JsError(eval(e, env))
      case STry(body, catchClause, finallyBody) =>
        // ES5.1 §12.14: catch handles only thrown JS values; finally runs on every
        // exit path (normal, throw, return/break/continue) and its own abrupt
        // completion overrides the try/catch completion (Scala try/finally gives
        // exactly that). try{...}finally{...} with no catch rethrows the JsError.
        try {
          try execStmts(body, new Env(Some(env)))
          catch {
            case JsError(v) if catchClause.isDefined =>
              val (catchName, catchBody) = catchClause.get
              val scope = new Env(Some(env))
              catchName.foreach(scope.declare(_, v))
              execStmts(catchBody, scope)
          }
        } finally {
          if (finallyBody.nonEmpty) execStmts(finallyBody, new Env(Some(env)))
        }
        VUndef
      case SBreak => throw BreakSignal
      case SContinue => throw ContinueSignal
    }

    def call(fn: V, args: Vector[V]): V = fn match {
      case VNative(_, f) => f(args)
      case VFunc(params, body, exprBody, closure) =>
        val scope = new Env(Some(closure))
        params.zipWithIndex.foreach { case (p, i) =>
          scope.declare(p, if (i < args.length) args(i) else VUndef)
        }
        exprBody match {
          case Some(e) => eval(e, scope)
          case None =>
            try { execStmts(body, scope); VUndef }
            catch { case ReturnSignal(v) => v }
        }
      case other => throw JsError(VStr(s"TypeError: ${toStringValue(other)} is not a function"))
    }

    private def getMember(obj: V, key: String): V = obj match {
      case VObj(props) => props.getOrElse(key, VUndef)
      case VArr(items) =>
        if (key == "length") VNum(items.length.toDouble)
        else key.toIntOption match {
          case Some(i) if i >= 0 && i < items.length => items(i)
          case _ => arrayMethod(items, key).getOrElse(VUndef)
        }
      case VStr(s) =>
        if (key == "length") VNum(s.length.toDouble)
        else key.toIntOption match {
          case Some(i) if i >= 0 && i < s.length => VStr(s.charAt(i).toString)
          case _ => stringMethod(s, key).getOrElse(VUndef)
        }
      case VUndef | VNull =>
        throw JsError(VStr(s"TypeError: Cannot read properties of ${toStringValue(obj)} (reading '$key')"))
      case _ => VUndef
    }

    private def setMember(obj: V, key: String, v: V): Unit = obj match {
      case VObj(props) => props(key) = v
      case VArr(items) => key.toIntOption match {
        case Some(i) if i >= 0 =>
          while (items.length <= i) items += VUndef
          items(i) = v
        case _ => ()
      }
      case other =>
        throw JsError(VStr(s"TypeError: Cannot set properties of ${toStringValue(other)}"))
    }

    def eval(e: Expr, env: Env): V = e match {
      case ENum(d) => VNum(d)
      case EStr(s) => VStr(s)
      case EBool(b) => VBool(b)
      case ENull => VNull
      case EUndef => VUndef
      case EId(name) => env.lookup(name).getOrElse(
        throw JsError(VStr(s"ReferenceError: $name is not defined")))
      case EArr(items) => VArr(ArrayBuffer(items.map(eval(_, env)): _*))
      case EObjLit(props) =>
        VObj(mutable.LinkedHashMap(props.map { case (k, pe) => k -> eval(pe, env) }: _*))
      case EFunc(params, body, exprBody) => VFunc(params, body, exprBody, env)
      case EMember(objE, propE) =>
        getMember(eval(objE, env), toStringValue(eval(propE, env)))
      case ECall(EMember(objE, propE), args) =>
        // method call: bind string/array natives to the receiver
        val obj = eval(objE, env)
        val key = toStringValue(eval(propE, env))
        val fn = getMember(obj, key)
        call(fn, args.map(eval(_, env)))
      case ECall(callee, args) => call(eval(callee, env), args.map(eval(_, env)))
      case EUnary("!", x) => VBool(!truthy(eval(x, env)))
      case EUnary("-", x) => VNum(-num(eval(x, env)))
      case EUnary("+", x) => VNum(num(eval(x, env)))
      case EUnary("typeof", x) =>
        val v = try eval(x, env) catch { case JsError(_) => VUndef }
        VStr(v match {
          case VUndef => "undefined"; case VNull => "object"
          case _: VNum => "number"; case _: VStr => "string"; case _: VBool => "boolean"
          case _: VFunc | _: VNative => "function"; case _ => "object"
        })
      case EUnary("delete", EMember(objE, propE)) =>
        eval(objE, env) match {
          case VObj(props) => props.remove(toStringValue(eval(propE, env))); VBool(true)
          case _ => VBool(true)
        }
      case EUnary(op, _) => throw new IllegalArgumentException(s"unary $op")
      case EUpdate(op, target, prefix) =>
        val old = num(eval(target, env))
        val neu = if (op == "++") old + 1 else old - 1
        assignTo(target, VNum(neu), env)
        VNum(if (prefix) neu else old)
      case ELogical("&&", l, r) =>
        val lv = eval(l, env); if (truthy(lv)) eval(r, env) else lv
      case ELogical("||", l, r) =>
        val lv = eval(l, env); if (truthy(lv)) lv else eval(r, env)
      case ELogical(op, _, _) => throw new IllegalArgumentException(s"logical $op")
      case ECond(c, t, f) => if (truthy(eval(c, env))) eval(t, env) else eval(f, env)
      case EBinary(op, l, r) => binOp(op, eval(l, env), eval(r, env))
      case EAssign("=", target, valueE) =>
        val v = eval(valueE, env); assignTo(target, v, env); v
      case EAssign(op, target, valueE) =>
        val cur = eval(target, env)
        val v = binOp(op.stripSuffix("="), cur, eval(valueE, env))
        assignTo(target, v, env); v
    }

    private def assignTo(target: Expr, v: V, env: Env): Unit = target match {
      case EId(name) => env.assign(name, v)
      case EMember(objE, propE) =>
        setMember(eval(objE, env), toStringValue(eval(propE, env)), v)
      case other => throw new IllegalArgumentException(s"invalid assignment target: $other")
    }

    private def strictEq(a: V, b: V): Boolean = (a, b) match {
      case (VNum(x), VNum(y)) => x == y
      case (VStr(x), VStr(y)) => x == y
      case (VBool(x), VBool(y)) => x == y
      case (VNull, VNull) | (VUndef, VUndef) => true
      case (x: VObj, y: VObj) => x eq y
      case (x: VArr, y: VArr) => x eq y
      case _ => false
    }

    private def binOp(op: String, a: V, b: V): V = op match {
      case "+" => (a, b) match {
        case (VStr(_), _) | (_, VStr(_)) => VStr(toStringValue(a) + toStringValue(b))
        case (_: VObj, _) | (_, _: VObj) | (_: VArr, _) | (_, _: VArr) =>
          VStr(toStringValue(a) + toStringValue(b))
        case _ => VNum(num(a) + num(b))
      }
      case "-" => VNum(num(a) - num(b))
      case "*" => VNum(num(a) * num(b))
      case "/" => VNum(num(a) / num(b))
      case "%" => VNum(num(a) % num(b))
      case "===" => VBool(strictEq(a, b))
      case "!==" => VBool(!strictEq(a, b))
      case "==" => VBool(strictEq(a, b) ||
        ((a == VNull || a == VUndef) && (b == VNull || b == VUndef)) ||
        ((a, b) match {
          case (VNum(x), VStr(_)) => x == num(b)
          case (VStr(_), VNum(y)) => num(a) == y
          case _ => false
        }))
      case "!=" => binOp("==", a, b) match { case VBool(x) => VBool(!x); case v => v }
      case "<" | "<=" | ">" | ">=" =>
        val c = (a, b) match {
          case (VStr(x), VStr(y)) => x.compareTo(y)
          case _ =>
            val (x, y) = (num(a), num(b))
            if (x.isNaN || y.isNaN) return VBool(false)
            x.compareTo(y)
        }
        VBool(op match {
          case "<" => c < 0; case "<=" => c <= 0; case ">" => c > 0; case ">=" => c >= 0
        })
      case "in" => (a, b) match {
        case (k, VObj(props)) => VBool(props.contains(toStringValue(k)))
        case (k, VArr(items)) =>
          VBool(toStringValue(k).toIntOption.exists(i => i >= 0 && i < items.length))
        case _ => VBool(false)
      }
      case other => throw new IllegalArgumentException(s"binary $other")
    }

    // -------- string/array method tables (bound at member lookup)
    private def stringMethod(s: String, name: String): Option[V] = {
      def n1(f: Vector[V] => V) = Some(VNative(s"String.$name", f))
      name match {
        case "slice" => n1 { args =>
          val from0 = args.headOption.map(a => num(a).toInt).getOrElse(0)
          val to0 = args.lift(1).map(a => num(a).toInt).getOrElse(s.length)
          def clamp(i: Int) = math.max(0, math.min(s.length, if (i < 0) s.length + i else i))
          val (f, t) = (clamp(from0), clamp(to0))
          VStr(if (f < t) s.substring(f, t) else "")
        }
        case "substring" => n1 { args =>
          val f = math.max(0, math.min(s.length, args.headOption.map(a => num(a).toInt).getOrElse(0)))
          val t = math.max(0, math.min(s.length, args.lift(1).map(a => num(a).toInt).getOrElse(s.length)))
          VStr(s.substring(math.min(f, t), math.max(f, t)))
        }
        case "toUpperCase" => n1(_ => VStr(s.toUpperCase))
        case "toLowerCase" => n1(_ => VStr(s.toLowerCase))
        case "indexOf" => n1(args => VNum(s.indexOf(toStringValue(args.head)).toDouble))
        case "includes" => n1(args => VBool(s.contains(toStringValue(args.head))))
        case "startsWith" => n1(args => VBool(s.startsWith(toStringValue(args.head))))
        case "endsWith" => n1(args => VBool(s.endsWith(toStringValue(args.head))))
        case "trim" => n1(_ => VStr(s.trim))
        case "charAt" => n1 { args =>
          val i = num(args.head).toInt
          VStr(if (i >= 0 && i < s.length) s.charAt(i).toString else "")
        }
        case "repeat" => n1(args => VStr(s * num(args.head).toInt))
        case "split" => n1 { args =>
          val sep = toStringValue(args.head)
          val parts = if (sep.isEmpty) s.map(_.toString).toVector
            else s.split(java.util.regex.Pattern.quote(sep), -1).toVector
          VArr(ArrayBuffer(parts.map(VStr(_)): _*))
        }
        case "replace" => n1 { args =>
          VStr(s.replaceFirst(java.util.regex.Pattern.quote(toStringValue(args.head)),
            java.util.regex.Matcher.quoteReplacement(toStringValue(args(1)))))
        }
        case "replaceAll" => n1 { args =>
          VStr(s.replace(toStringValue(args.head), toStringValue(args(1))))
        }
        case _ => None
      }
    }

    private def arrayMethod(items: ArrayBuffer[V], name: String): Option[V] = {
      def n1(f: Vector[V] => V) = Some(VNative(s"Array.$name", f))
      name match {
        case "push" => n1 { args => items ++= args; VNum(items.length.toDouble) }
        case "pop" => n1 { _ =>
          if (items.isEmpty) VUndef else items.remove(items.length - 1)
        }
        case "join" => n1 { args =>
          val sep = args.headOption.map(toStringValue).getOrElse(",")
          VStr(items.map(toStringValue).mkString(sep))
        }
        case "indexOf" => n1(args => VNum(items.indexWhere(strictEq(_, args.head)).toDouble))
        case "includes" => n1(args => VBool(items.exists(strictEq(_, args.head))))
        case "slice" => n1 { args =>
          val from0 = args.headOption.map(a => num(a).toInt).getOrElse(0)
          val to0 = args.lift(1).map(a => num(a).toInt).getOrElse(items.length)
          def clamp(i: Int) = math.max(0, math.min(items.length, if (i < 0) items.length + i else i))
          VArr(ArrayBuffer(items.slice(clamp(from0), clamp(to0)).toSeq: _*))
        }
        case "concat" => n1 { args =>
          val out = ArrayBuffer(items.toSeq: _*)
          args.foreach { case VArr(is) => out ++= is; case v => out += v }
          VArr(out)
        }
        case "map" => n1 { args =>
          VArr(ArrayBuffer(items.zipWithIndex.map { case (v, i) =>
            call(args.head, Vector(v, VNum(i.toDouble))) }.toSeq: _*))
        }
        case "filter" => n1 { args =>
          VArr(ArrayBuffer(items.zipWithIndex.collect {
            case (v, i) if truthy(call(args.head, Vector(v, VNum(i.toDouble)))) => v }.toSeq: _*))
        }
        case "forEach" => n1 { args =>
          items.zipWithIndex.foreach { case (v, i) => call(args.head, Vector(v, VNum(i.toDouble))) }
          VUndef
        }
        case "reduce" => n1 { args =>
          var acc = if (args.length > 1) args(1) else items.head
          val start = if (args.length > 1) 0 else 1
          (start until items.length).foreach(i =>
            acc = call(args.head, Vector(acc, items(i), VNum(i.toDouble))))
          acc
        }
        case _ => None
      }
    }

    // ---------------------------------------------------------- stdlib
    private def stdlib: Map[String, V] = Map(
      "JSON" -> VObj(mutable.LinkedHashMap(
        "parse" -> VNative("JSON.parse", args =>
          try fromStructured(graft.blob.Interp.parseJsonTyped(toStringValue(args.head)))
          catch { case e: Exception => throw JsError(VStr(s"SyntaxError: ${e.getMessage}")) }),
        "stringify" -> VNative("JSON.stringify", args =>
          VStr(graft.blob.Interp.marshalJson(toStructured(args.head)))))),
      "Object" -> VObj(mutable.LinkedHashMap(
        "keys" -> VNative("Object.keys", args => args.head match {
          case VObj(props) => VArr(ArrayBuffer(props.keys.toSeq.map(VStr(_)): _*))
          case VArr(items) => VArr(ArrayBuffer(items.indices.map(i => VStr(i.toString)): _*))
          case _ => VArr(ArrayBuffer.empty)
        }),
        "values" -> VNative("Object.values", args => args.head match {
          case VObj(props) => VArr(ArrayBuffer(props.values.toSeq: _*))
          case _ => VArr(ArrayBuffer.empty)
        }))),
      "Math" -> VObj(mutable.LinkedHashMap(
        "floor" -> VNative("Math.floor", a => VNum(math.floor(num(a.head)))),
        "ceil" -> VNative("Math.ceil", a => VNum(math.ceil(num(a.head)))),
        "round" -> VNative("Math.round", a => VNum(math.round(num(a.head)).toDouble)),
        "abs" -> VNative("Math.abs", a => VNum(math.abs(num(a.head)))),
        "min" -> VNative("Math.min", a => VNum(a.map(num).min)),
        "max" -> VNative("Math.max", a => VNum(a.map(num).max)),
        "pow" -> VNative("Math.pow", a => VNum(math.pow(num(a.head), num(a(1))))),
        "sqrt" -> VNative("Math.sqrt", a => VNum(math.sqrt(num(a.head)))))),
      "Number" -> VNative("Number", a => VNum(a.headOption.map(num).getOrElse(0.0))),
      "String" -> VNative("String", a => VStr(a.headOption.map(toStringValue).getOrElse(""))),
      "Boolean" -> VNative("Boolean", a => VBool(a.headOption.exists(truthy))),
      "parseInt" -> VNative("parseInt", a => {
        val s = toStringValue(a.head).trim
        val m = "^[+-]?\\d+".r.findFirstIn(s)
        m.map(x => VNum(x.toDouble)).getOrElse(VNum(Double.NaN))
      }),
      "parseFloat" -> VNative("parseFloat", a => {
        val s = toStringValue(a.head).trim
        val m = "^[+-]?\\d*\\.?\\d+(?:[eE][+-]?\\d+)?".r.findFirstIn(s)
        m.map(x => VNum(x.toDouble)).getOrElse(VNum(Double.NaN))
      }),
      "isNaN" -> VNative("isNaN", a => VBool(num(a.head).isNaN)))
  }

  // ------------------------------------ structured (graft JSON) bridging
  /** graft's structured tree (VectorMap/Vector/Long/Double/…) → JS */
  def fromStructured(v: Any): V = v match {
    case null => VNull
    case b: Boolean => VBool(b)
    case l: Long => VNum(l.toDouble)
    case i: Int => VNum(i.toDouble)
    case d: Double => VNum(d)
    case s: String => VStr(s)
    case m: scala.collection.immutable.VectorMap[String @unchecked, Any @unchecked] =>
      VObj(mutable.LinkedHashMap(m.toSeq.map { case (k, x) => k -> fromStructured(x) }: _*))
    case xs: Seq[Any @unchecked] => VArr(ArrayBuffer(xs.map(fromStructured): _*))
    case other => VStr(String.valueOf(other))
  }

  /** JS → graft structured tree; whole numbers become Long (the JSON
    * renderer then prints them without a decimal point, like JS) */
  def toStructured(v: V): Any = v match {
    case VNull | VUndef => null
    case VBool(b) => b
    case VNum(d) => if (d == math.rint(d) && !d.isInfinite && math.abs(d) < 9.007199254740992e15) d.toLong else d
    case VStr(s) => s
    case VObj(props) =>
      scala.collection.immutable.VectorMap(props.toSeq.map { case (k, x) => k -> toStructured(x) }: _*)
    case VArr(items) => items.toVector.map(toStructured)
    case _: VFunc | _: VNative => null
  }
}
