package graft.blob

import Bloblang._
import graft.core.Json
import scala.collection.immutable.VectorMap

/** Tree-walk evaluator for parsed Bloblang mappings (reference execution
  * model: internal/bloblang/mapping/executor.go:42-117 — statements over a
  * lazily-parsed JSON facet). Runs per message inside a Spark UDF.
  */
object Interp {

  /** Evaluation context. `self` is the lazily-parsed structured facet —
    * parse failure surfaces as an error only when `this` is accessed
    * (reference: message/data.go:32-37 lazy AsStructured). */
  final case class Ctx(
      self: () => Any,
      content: String,
      vars: scala.collection.mutable.Map[String, Any],
      meta: Map[String, String],
      env: Map[String, String],
      maps: Map[String, Vector[Stmt]],
      var root: Any,
      batch: Vector[() => Any] = Vector.empty,
      batchIndex: Long = 0L,
      // named cache resources for cache_get/set/add/delete
      // (bloblang_cache.go:37-144); shared across a batch when the caller
      // passes one instance to every Ctx
      caches: scala.collection.mutable.Map[String, scala.collection.mutable.Map[String, String]] =
        scala.collection.mutable.Map.empty,
      // per-batch-member metadata for `.from(i)` / `.from_all()` (the
      // reference rebinds the WHOLE message context, metadata included);
      // null = no batch metadata available, keep the current meta
      batchMeta: Int => Map[String, String] = null,
      // error facet from an upstream FAILED processor: error()/errored()
      // read it (null = not errored) — mapping/executor.go error channel
      errorMsg: String = null)

  // ===== entry points ========================================================

  /** Run a mapping over one message. Returns None when the message is
    * deleted (`root = deleted()`), otherwise the serialized content. */
  def run(m: Mapping, content: String, meta: Map[String, String] = Map.empty,
          env: Map[String, String] = Map.empty): Option[String] = {
    val parsed: () => Any = {
      lazy val v: Either[Throwable, Any] =
        try Right(parseJsonTyped(content))
        catch { case e: Exception => Left(new BlobError(s"invalid JSON: ${e.getMessage}")) }
      () => v.fold(throw _, identity)
    }
    val ctx = Ctx(parsed, content, scala.collection.mutable.Map.empty, meta, env, m.maps, VNothing)
    m.stmts.foreach(exec(_, ctx))
    ctx.root match {
      case VDelete => None
      // root never assigned (e.g. `root = match {...}` with no matching
      // case): the message passes through UNCHANGED — reference
      // nothing-assignment semantics (mapping/executor.go)
      case VNothing => Some(content)
      case v => Some(marshal(v))
    }
  }

  /** Run a mapping across a BATCH of messages: `from_all`/`from`/
    * `batch_index`/`batch_size` see every member (reference batch
    * semantics, query/functions.go:186-229). Returns one output per
    * non-deleted message, in order. */
  def runBatch(m: Mapping, contents: Seq[String],
               env: Map[String, String] = Map.empty): Seq[Option[String]] = {
    val parsedAll: Vector[() => Any] = contents.toVector.map { c =>
      lazy val v: Either[Throwable, Any] =
        try Right(parseJsonTyped(c))
        catch { case e: Exception => Left(new BlobError(s"invalid JSON: ${e.getMessage}")) }
      () => v.fold(throw _, identity)
    }
    val sharedCaches =
      scala.collection.mutable.Map.empty[String, scala.collection.mutable.Map[String, String]]
    contents.toVector.zipWithIndex.map { case (c, i) =>
      val ctx = Ctx(parsedAll(i), c, scala.collection.mutable.Map.empty, Map.empty, env,
        m.maps, VNothing, parsedAll, i.toLong, sharedCaches)
      m.stmts.foreach(exec(_, ctx))
      ctx.root match {
        case VDelete => None
        case VNothing => Some(c) // unassigned root: passthrough
        case v => Some(marshal(v))
      }
    }
  }

  /** Run with a pre-seeded root — the `branch.result_map` contract
    * (processor_branch.go:25-44): `this` is the child result, root starts
    * as the ORIGINAL message and the mapping grafts result fields onto it. */
  def runSeeded(m: Mapping, content: String, seedJson: String): Option[String] = {
    val parsed: () => Any = {
      lazy val v: Either[Throwable, Any] =
        try Right(parseJsonTyped(content))
        catch { case e: Exception => Left(new BlobError(s"invalid JSON: ${e.getMessage}")) }
      () => v.fold(throw _, identity)
    }
    val ctx = Ctx(parsed, content, scala.collection.mutable.Map.empty, Map.empty,
      Map.empty, m.maps, parseJsonTyped(seedJson))
    m.stmts.foreach(exec(_, ctx))
    ctx.root match {
      case VDelete => None
      case v => Some(marshal(v))
    }
  }

  /** Run a mapping and also return resulting metadata (for the test runner). */
  /** Batch run with metadata in/out: messages are processed in order and
    * each sees the UPDATED metadata of earlier members via `.from(i)`
    * (the reference applies a mapping processor batch-wise, so message 0's
    * `meta x = …` is visible to message 1's `meta("x").from(0)`). */
  def runBatchWithMeta(m: Mapping, msgs: Seq[(String, Map[String, String])],
                       env: Map[String, String] = Map.empty,
                       caches: scala.collection.mutable.Map[String, scala.collection.mutable.Map[String, String]] = null)
      : Seq[(Option[String], Map[String, String])] = {
    val parsedAll: Vector[() => Any] = msgs.toVector.map { case (c, _) =>
      lazy val v: Either[Throwable, Any] =
        try Right(parseJsonTyped(c))
        catch { case e: Exception => Left(new BlobError(s"invalid JSON: ${e.getMessage}")) }
      () => v.fold(throw _, identity)
    }
    val metas = scala.collection.mutable.ArrayBuffer.from(msgs.map(_._2))
    val sharedCaches = if (caches ne null) caches else
      scala.collection.mutable.Map.empty[String, scala.collection.mutable.Map[String, String]]
    msgs.toVector.zipWithIndex.map { case ((c, meta), i) =>
      var outMeta = meta
      val ctx = Ctx(parsedAll(i), c, scala.collection.mutable.Map.empty, meta, env,
        m.maps, VNothing, parsedAll, i.toLong, sharedCaches, j => metas(j))
      m.stmts.foreach {
        case AssignMeta(Some(k), e) =>
          eval(e, ctx) match {
            case VNothing => ()
            case VDelete => outMeta = outMeta - k
            case v @ (_: VectorMap[_, _] | _: Vector[_]) =>
              outMeta = outMeta + (k -> marshalJson(v))
            case v => outMeta = outMeta + (k -> toStr(v))
          }
          metas(i) = outMeta // visible to later members immediately
        case s => exec(s, ctx)
      }
      metas(i) = outMeta
      val out = ctx.root match {
        case VDelete => None
        case VNothing => Some(c)
        case v => Some(marshal(v))
      }
      (out, outMeta)
    }
  }

  /** One message-state in a processor chain: content, metadata, error
    * facet (null = healthy). */
  type MsgState = (String, Map[String, String], String)

  /** Batch run with the PROCESSOR error contract (mapping/executor.go): a
    * mapping that throws leaves the message's content unchanged and sets
    * the error facet to "failed assignment (line N): msg"; downstream
    * mappings still run and can read error()/errored(). Deleted messages
    * drop out. */
  def runBatchWithErrors(m: Mapping, msgs: Seq[MsgState],
                         env: Map[String, String] = Map.empty,
                         caches: scala.collection.mutable.Map[String, scala.collection.mutable.Map[String, String]] = null)
      : Seq[MsgState] = {
    val parsedAll: Vector[() => Any] = msgs.toVector.map { case (c, _, _) =>
      lazy val v: Either[Throwable, Any] =
        try Right(parseJsonTyped(c))
        catch { case e: Exception => Left(new BlobError(s"invalid JSON: ${e.getMessage}")) }
      () => v.fold(throw _, identity)
    }
    val metas = scala.collection.mutable.ArrayBuffer.from(msgs.map(_._2))
    val sharedCaches = if (caches ne null) caches else
      scala.collection.mutable.Map.empty[String, scala.collection.mutable.Map[String, String]]
    msgs.toVector.zipWithIndex.flatMap { case ((c, meta, errIn), i) =>
      var outMeta = meta
      val ctx = Ctx(parsedAll(i), c, scala.collection.mutable.Map.empty, meta, env,
        m.maps, VNothing, parsedAll, i.toLong, sharedCaches, j => metas(j), errIn)
      try {
        m.stmts.zipWithIndex.foreach { case (s, si) =>
          try {
            s match {
              case AssignMeta(Some(k), e) =>
                eval(e, ctx) match {
                  case VNothing => ()
                  case VDelete => outMeta = outMeta - k
                  case v @ (_: VectorMap[_, _] | _: Vector[_]) =>
                    outMeta = outMeta + (k -> marshalJson(v))
                  case v => outMeta = outMeta + (k -> toStr(v))
                }
                metas(i) = outMeta
              case other => exec(other, ctx)
            }
          } catch {
            case e: BlobError =>
              val line = m.stmtLines.lift(si).getOrElse(0) match { case 0 => 1; case l => l }
              throw new MappingFailed(s"failed assignment (line $line): ${e.msg}")
          }
        }
        metas(i) = outMeta
        ctx.root match {
          case VDelete => None
          case VNothing => Some((c, outMeta, errIn))
          case v => Some((marshal(v), outMeta, errIn))
        }
      } catch {
        case mf: MappingFailed =>
          metas(i) = meta // discard partial meta writes from the failed run
          Some((c, meta, mf.getMessage)) // content unchanged, errored
      }
    }
  }
  private final class MappingFailed(msg: String) extends RuntimeException(msg)

  def runWithMeta(m: Mapping, content: String, meta: Map[String, String],
                  env: Map[String, String]): (Option[String], Map[String, String]) = {
    var outMeta = meta
    val parsed: () => Any = {
      lazy val v: Either[Throwable, Any] =
        try Right(parseJsonTyped(content))
        catch { case e: Exception => Left(new BlobError(s"invalid JSON: ${e.getMessage}")) }
      () => v.fold(throw _, identity)
    }
    val ctx = Ctx(parsed, content, scala.collection.mutable.Map.empty, meta, env, m.maps, VNothing)
    m.stmts.foreach {
      case AssignMeta(Some(k), e) =>
        eval(e, ctx) match {
          case VNothing => ()
          case VDelete => outMeta = outMeta - k
          // structured metadata values (reference metadata is any-typed;
          // the string transport carries them as JSON)
          case v @ (_: VectorMap[_, _] | _: Vector[_]) =>
            outMeta = outMeta + (k -> marshalJson(v))
          case v => outMeta = outMeta + (k -> toStr(v))
        }
      case s => exec(s, ctx)
    }
    val out = ctx.root match {
      case VDelete => None
      case VNothing => Some(content) // unassigned root: passthrough
      case v => Some(marshal(v))
    }
    (out, outMeta)
  }

  private[blob] def execStmt(s: Stmt, ctx: Ctx): Unit = exec(s, ctx)

  private def exec(s: Stmt, ctx: Ctx): Unit = s match {
    case ExprStmt(e) => eval(e, ctx) // side-effecting call (e.g. cache_set)
    case AssignVar(name, e) => ctx.vars(name) = eval(e, ctx)
    case AssignMeta(_, _) => () // metadata writes handled by runWithMeta
    case AssignRoot(path, e) =>
      eval(e, ctx) match {
        case VNothing => ()
        case v if path.isEmpty => ctx.root = v
        case v =>
          val base = ctx.root match {
            case m: VectorMap[String @unchecked, Any @unchecked] => m
            case VNothing | null => VectorMap.empty[String, Any]
            case other => err(s"cannot set field on ${typeName(other)}")
          }
          ctx.root = setPath(base, path.toList, v)
      }
  }

  private def setPath(m: VectorMap[String, Any], path: List[String], v: Any): VectorMap[String, Any] =
    path match {
      case last :: Nil =>
        if (v == VDelete) m - last else m.updated(last, v)
      case head :: rest =>
        val child = m.get(head) match {
          case Some(cm: VectorMap[String @unchecked, Any @unchecked]) => cm
          case _ => VectorMap.empty[String, Any]
        }
        m.updated(head, setPath(child, rest, v))
      case Nil => m
    }

  // ===== evaluation ==========================================================

  private def err(msg: String): Nothing = throw new BlobError(msg)

  def eval(e: Expr, ctx: Ctx): Any = e match {
    case Lit(v) => v
    case This => ctx.self()
    case RootRef => ctx.root match { case VNothing => null; case v => v }
    case VarRef(n) => ctx.vars.getOrElse(n, err(s"variable $$$n undefined"))
    case MetaRef(Some(k)) => ctx.meta.getOrElse(k, null)
    case MetaRef(None) => VectorMap.from(ctx.meta)
    case ArrLit(items) =>
      items.map(eval(_, ctx)).filter(v => v != VDelete && v != VNothing)
    case ObjLit(fields) =>
      fields.foldLeft(VectorMap.empty[String, Any]) { case (acc, (k, ve)) =>
        val kv = toStr(eval(k, ctx))
        eval(ve, ctx) match {
          case VDelete | VNothing => acc
          case v => acc.updated(kv, v)
        }
      }
    case Field(t, name) =>
      eval(t, ctx) match {
        case m: VectorMap[String @unchecked, Any @unchecked] => m.getOrElse(name, null)
        // numeric path segment on an array indexes it (reference path
        // semantics: `this.0` on `[]` → null, not an error)
        case a: Vector[Any @unchecked] if name.nonEmpty && name.forall(_.isDigit) =>
          val i = name.toInt
          if (i < a.length) a(i) else null
        case null => null
        case other => err(s"field `$name` on ${typeName(other)}")
      }
    case Index(t, ie) =>
      val idx = eval(ie, ctx)
      (eval(t, ctx), idx) match {
        case (a: Vector[Any @unchecked], i: Long) =>
          val j = if (i < 0) a.length + i else i
          if (j >= 0 && j < a.length) a(j.toInt)
          else err(s"index $i out of bounds (len ${a.length})")
        case (m: VectorMap[String @unchecked, Any @unchecked], k) => m.getOrElse(toStr(k), null)
        case (null, _) => err(s"expected object/array value, got null")
        case (other, _) => err(s"index on ${typeName(other)}")
      }
    case Lambda(_, _) => err("lambda outside method argument")
    case Not(x) => eval(x, ctx) match {
      case b: Boolean => !b
      case other => err(s"! on ${typeName(other)}")
    }
    case Neg(x) => eval(x, ctx) match {
      case l: Long => -l
      case d: Double => -d
      case other => err(s"- on ${typeName(other)}")
    }
    case If(c, t, e2) =>
      eval(c, ctx) match {
        case true => eval(t, ctx)
        case false => e2.map(eval(_, ctx)).getOrElse(VNothing)
        case other => err(s"if condition must be bool, got ${typeName(other)}")
      }
    case Match(targetE, cases) =>
      val target = targetE.map(eval(_, ctx)).getOrElse(ctx.self())
      val subCtx = ctx.copy(self = () => target)
      cases.iterator.map {
        case (None, result) => Some(eval(result, subCtx))
        case (Some(pat), result) =>
          eval(pat, subCtx) match {
            case b: Boolean => if (b) Some(eval(result, subCtx)) else None
            case v => if (valueEq(v, target)) Some(eval(result, subCtx)) else None
          }
      }.collectFirst { case Some(v) => v }.getOrElse(VNothing)
    case Bin(op, l, r) => binOp(op, l, r, ctx)
    case FnCall(name, args) =>
      try Functions.call(name, args.map(eval(_, ctx)), ctx)
      catch {
        case e: BlobError => throw e
        case scala.util.control.NonFatal(e) =>
          err(s"$name: ${e.getMessage}") // JDK exceptions become catchable blob errors
      }
    case MethodCall(t, name, args) => Methods.call(t, name, args, ctx)
  }

  private def binOp(op: String, le: Expr, re: Expr, ctx: Ctx): Any = op match {
    case "|" =>
      try {
        eval(le, ctx) match { case null => eval(re, ctx); case v => v }
      } catch { case _: BlobError => eval(re, ctx) }
    case "&&" =>
      eval(le, ctx) match {
        case false => false
        case true => eval(re, ctx) match {
          case b: Boolean => b
          case other => err(s"&& on ${typeName(other)}")
        }
        case other => err(s"&& on ${typeName(other)}")
      }
    case "||" =>
      eval(le, ctx) match {
        case true => true
        case false => eval(re, ctx) match {
          case b: Boolean => b
          case other => err(s"|| on ${typeName(other)}")
        }
        case other => err(s"|| on ${typeName(other)}")
      }
    case "==" => valueEq(eval(le, ctx), eval(re, ctx))
    case "!=" => !valueEq(eval(le, ctx), eval(re, ctx))
    case "<" | ">" | "<=" | ">=" =>
      val (l, r) = (eval(le, ctx), eval(re, ctx))
      val c = (l, r) match {
        case (a: String, b: String) => a.compareTo(b)
        case _ => java.lang.Double.compare(toNum(l), toNum(r))
      }
      op match {
        case "<" => c < 0; case ">" => c > 0; case "<=" => c <= 0; case _ => c >= 0
      }
    case "+" =>
      (eval(le, ctx), eval(re, ctx)) match {
        case (a: String, b) => a + toStr(b)
        case (a: VBytes, b) => a.str + toStr(b)
        case (a, b: String) => toStr(a) + b
        case (a: Vector[Any @unchecked], b: Vector[Any @unchecked]) => a ++ b
        case (a: Long, b: Long) => a + b
        case (a, b) => toNum(a) + toNum(b)
      }
    case "-" =>
      (eval(le, ctx), eval(re, ctx)) match {
        case (a: Long, b: Long) => a - b
        case (a, b) => toNum(a) - toNum(b)
      }
    case "*" =>
      (eval(le, ctx), eval(re, ctx)) match {
        case (a: Long, b: Long) => a * b
        case (a, b) => toNum(a) * toNum(b)
      }
    case "/" =>
      val d = toNum(eval(re, ctx))
      if (d == 0) err("division by zero")
      toNum(eval(le, ctx)) / d
    case "%" =>
      (eval(le, ctx), eval(re, ctx)) match {
        case (a: Long, b: Long) => if (b == 0) err("modulo by zero") else a % b
        case (a, b) =>
          val d = toNum(b)
          if (d == 0.0) err("modulo by zero") else toNum(a) % d
      }
  }

  // ===== helpers =============================================================

  def typeName(v: Any): String = v match {
    case null | VNothing => "null"
    case _: String => "string"
    case _: VBytes => "bytes"
    case _: Long | _: Int => "number"
    case _: Double => "number"
    case _: Boolean => "bool"
    case _: Vector[_] => "array"
    case _: VectorMap[_, _] => "object"
    case VDelete => "delete"
    case _ => v.getClass.getSimpleName
  }

  def toNum(v: Any): Double = v match {
    case l: Long => l.toDouble
    case d: Double => d
    case i: Int => i.toDouble
    case s: String => try s.toDouble catch { case _: Exception => err(s"not a number: $s") }
    case b: Boolean => if (b) 1.0 else 0.0
    case other => err(s"expected number, got ${typeName(other)}")
  }

  def toLong(v: Any): Long = v match {
    case l: Long => l
    case d: Double => d.toLong
    case i: Int => i.toLong
    case s: String => try s.toLong catch { case _: Exception => err(s"not an int: $s") }
    case other => err(s"expected integer, got ${typeName(other)}")
  }

  def toStr(v: Any): String = v match {
    case null => "null"
    case s: String => s
    case b: VBytes => b.str
    case l: Long => l.toString
    case d: Double => fmtDouble(d)
    case b: Boolean => b.toString
    case VNothing => "null"
    case other => marshal(other)
  }

  def valueEq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: String, y: String) => x == y
    case (x: VBytes, y) => x.str == toStr(y)
    case (x, y: VBytes) => toStr(x) == y.str
    case (x: Boolean, y: Boolean) => x == y
    case (x: Vector[Any @unchecked], y: Vector[Any @unchecked]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => valueEq(p, q) }
    case (x: VectorMap[String @unchecked, Any @unchecked], y: VectorMap[String @unchecked, Any @unchecked]) =>
      x.keySet == y.keySet && x.forall { case (k, v) => valueEq(v, y(k)) }
    case (x: Long, y: Long) => x == y
    case (x, y) =>
      (x, y) match {
        case (p: String, _) => false
        case (_, q: String) => false
        case _ => toNum(x) == toNum(y)
      }
  }

  /** Go-compatible double formatting (encoding/json): whole floats print
    * without a decimal point. */
  def fmtDouble(d: Double): String =
    if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString

  // ===== JSON (type-preserving: ints stay Long — reference keeps
  // json.Number distinct, value/type_helpers.go:45) ==========================

  def parseJsonTyped(s: String): Any = new R(s).parse()

  private final class R(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def parse(): Any = {
      ws(); val v = value(); ws()
      if (i != s.length) throw new IllegalArgumentException(s"trailing data at $i")
      v
    }
    private def value(): Any = {
      if (i >= s.length) throw new IllegalArgumentException("empty")
      s.charAt(i) match {
        case '{' =>
          i += 1; ws()
          var m = VectorMap.empty[String, Any]
          if (i < s.length && s.charAt(i) == '}') { i += 1 } else {
            var done = false
            while (!done) {
              ws(); val k = str(); ws()
              if (s.charAt(i) != ':') throw new IllegalArgumentException(s"expected : at $i")
              i += 1; ws()
              m = m.updated(k, value()); ws()
              if (i < s.length && s.charAt(i) == ',') i += 1
              else if (i < s.length && s.charAt(i) == '}') { i += 1; done = true }
              else throw new IllegalArgumentException(s"bad object at $i")
            }
          }
          m
        case '[' =>
          i += 1; ws()
          val a = Vector.newBuilder[Any]
          if (i < s.length && s.charAt(i) == ']') { i += 1 } else {
            var done = false
            while (!done) {
              ws(); a += value(); ws()
              if (i < s.length && s.charAt(i) == ',') i += 1
              else if (i < s.length && s.charAt(i) == ']') { i += 1; done = true }
              else throw new IllegalArgumentException(s"bad array at $i")
            }
          }
          a.result()
        case '"' => str()
        case 't' =>
          if (!s.startsWith("true", i)) throw new IllegalArgumentException(s"bad token at $i")
          i += 4; true
        case 'f' =>
          if (!s.startsWith("false", i)) throw new IllegalArgumentException(s"bad token at $i")
          i += 5; false
        case 'n' =>
          if (!s.startsWith("null", i)) throw new IllegalArgumentException(s"bad token at $i")
          i += 4; null
        case c if c == '-' || c.isDigit =>
          val start = i
          while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
          val tok = s.substring(start, i)
          if (tok.exists(ch => ch == '.' || ch == 'e' || ch == 'E')) tok.toDouble else tok.toLong
        case c => throw new IllegalArgumentException(s"unexpected '$c' at $i")
      }
    }
    private def str(): String = {
      if (s.charAt(i) != '"') throw new IllegalArgumentException(s"expected string at $i")
      i += 1
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          i += 1
          s.charAt(i) match {
            case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
            case 'b' => sb += '\b'; case 'f' => sb += '\f'; case '/' => sb += '/'
            case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case c => sb += c
          }
        } else sb += s.charAt(i)
        i += 1
      }
      i += 1
      sb.toString
    }
  }

  /** Serialize a root value to message content — Go semantics (value.
    * IToBytes): strings/bytes emit RAW, structured values emit JSON with
    * object keys sorted (Go map marshal order). */
  def marshal(v: Any): String = v match {
    case s: String => s
    case b: VBytes => b.str
    case other => marshalJson(other)
  }

  /** Pre-rendered JSON passthrough: marshalJson emits the string verbatim.
    * Lets a caller merge independently-rendered fragments into one object
    * while keeping the sorted-key output contract. */
  final case class RawJson(s: String)

  def marshalJson(v: Any): String = v match {
    case RawJson(s) => s
    case null | VNothing => "null"
    case b: Boolean => b.toString
    case l: Long => l.toString
    case i: Int => i.toString
    case d: Double => fmtDouble(d)
    case s: String => Json.quote(s)
    case b: VBytes => Json.quote(b.str)
    case a: Vector[Any @unchecked] => a.map(marshalJson).mkString("[", ",", "]")
    case m: VectorMap[String @unchecked, Any @unchecked] =>
      m.toSeq.sortBy(_._1).map { case (k, mv) => Json.quote(k) + ":" + marshalJson(mv) }
        .mkString("{", ",", "}")
    case other => err(s"cannot marshal ${typeName(other)}")
  }

}
