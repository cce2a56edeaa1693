package graft.blob

import Bloblang._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Columns
import org.apache.spark.sql.types._

/** Bloblang AST → Catalyst Column compiler (SURVEY §3.2: "frontend compiles
  * to Catalyst Column expressions; escape hatch = UDF").
  *
  * The text frontend parses a mapping once on the driver; this pass then
  * tries to express the WHOLE mapping as native Column operations over the
  * structured (pre-envelope) DataFrame, so config-driven pipelines get
  * predicate pushdown, column pruning and whole-stage codegen — the plan
  * the reference's stream engine can never produce (it interprets per
  * message: internal/bloblang/mapping/executor.go:42-117). A mapping
  * outside the translatable subset returns None and the caller falls back
  * to the per-row interpreter UDF ([[BloblangUdf]]), which is always
  * correct. Granularity is per config processor: one untranslatable
  * mapping in a pipeline does not stop its neighbors from compiling.
  *
  * Semantics contract (differentially tested in BloblangCompileSpec):
  * the compiled plan produces byte-identical message content to
  * [[Interp]] for the supported subset, with two documented, deliberate
  * deviations where the static SQL type system replaces the interpreter's
  * dynamic one:
  *  - rows where the interpreter would raise a runtime TYPE error (e.g.
  *    arithmetic on a null field, or an `if` whose condition evaluates to
  *    null because the field is absent — the interpreter errors the row
  *    and keeps the original content; the compiled `when` treats null as
  *    false and takes the else branch) follow SQL three-valued logic
  *    instead of landing in the error facet;
  *  - untranslatable constructs never reach the compiled path at all
  *    (we bail at compile time), so there is no silent behavior change.
  *
  * Output serialization runs in two regimes: to_json envelopes where every
  * field round-trips byte-identically, and [[jsonFrag]] fragment envelopes
  * where marshal parity needs native rendering — Go whole-float formatting
  * (`Interp.fmtDouble`), statically-sorted nested object keys, per-row key
  * presence (`if` without else), mixed-type array literals.
  */
object Compile {

  /** How the structured result must be serialized at the envelope
    * boundary so content matches what the interpreter chain would emit. */
  sealed trait Ser extends Serializable
  /** Raw input frame, no root assignment ran: standard envelope. */
  case object EnvelopeDefault extends Ser
  /** `root = this` re-marshal: keys sorted, null fields absent (they were
    * never present in the parsed map — the input envelope dropped them). */
  case object SortedDropNull extends Ser
  /** Object built from scratch by field assignments: keys sorted, null
    * fields EXPLICIT (the interpreter stores the null and marshals it). */
  case object ExplicitNullSorted extends Ser
  /** `root = this` whose output needs [[jsonFrag]] rendering — doubles
    * (Go whole-float formatting), nested structs with unsorted keys, or
    * DYNAMIC overrides (whose per-row null must render as an explicit
    * `"k":null`: the interpreter stored that null, unlike a passthrough
    * field whose null means "was never present"). `explicitCols` lists
    * the assigned fields — they render explicit-null; everything else
    * keeps the sorted-keys drop-null regime. */
  final case class FragSortedDropNull(explicitCols: Set[String] = Set.empty) extends Ser
  /** Field-assignment root whose output needs [[jsonFrag]] rendering:
    * same sorted-keys explicit-null regime as [[ExplicitNullSorted]]. */
  case object FragExplicitNullSorted extends Ser
  /** `root = <scalar>`: content is the raw string (Go IToBytes — strings
    * emit unquoted). Column is named [[ScalarCol]]. */
  case object Scalar extends Ser

  val ScalarCol = "_content_scalar"

  /** Schema of a raw (non-JSON) content frame: one string column holding
    * the message bytes. `content()` compiles against it; anything needing
    * a parsed document bails to the interpreter. */
  val ScalarSchema: StructType =
    StructType(Seq(StructField(ScalarCol, StringType, nullable = true)))

  /** An ARRAY-ROOTED document (`[...]` at the top level, e.g. the github
    * releases payload) parses into one column of this name; `this` then
    * compiles to that array and mappings rebuild root from it. */
  val ArrayRootCol = "_content_array"

  /** Compiled `meta k = v` writes ride the structured frame as prefixed
    * string columns until the envelope boundary, so they survive chained
    * compiled stages (a later stage's projection preserves them, a later
    * `meta k = ...` overwrites the same column — last writer wins, exactly
    * the interpreter's sequencing). */
  val MetaPrefix = "__meta_"

  private def metaCols(names: Seq[String]): Seq[String] =
    names.filter(_.startsWith(MetaPrefix)).sorted

  private def contentCols(names: Seq[String]): Seq[String] =
    names.filterNot(_.startsWith(MetaPrefix))

  private def metaCols(df: DataFrame): Seq[String] = metaCols(df.columns.toSeq)

  private def contentCols(df: DataFrame): Seq[String] = contentCols(df.columns.toSeq)

  private def metaMapCol(df: DataFrame): Column = {
    val ks = metaCols(df)
    if (ks.isEmpty) map().cast(MapType(StringType, StringType))
    else map(ks.flatMap(k =>
      Seq(lit(k.stripPrefix(MetaPrefix)), col(k))).toIndexedSeq: _*)
  }

  /** A compiled mapping as plan pieces, run in this order: `meta` writes
    * `__meta_*` columns (None deletes the column); `filters` delete the
    * rows where one is TRUE (a null keeps the row); `project` gives the
    * output columns from the column names present after the meta writes
    * (None: every column passes through). Meta values, filters and output
    * columns all read the frame as it stands after the meta writes. */
  final case class Step(meta: Seq[(String, Option[Column])], filters: Seq[Column],
                        project: Option[Seq[String] => Seq[(String, Column)]]) {

    def apply(df: DataFrame): DataFrame = {
      val dropped = meta.collect { case (k, None) => k }
        .foldLeft(df)((d, c) => if (d.columns.contains(c)) d.drop(c) else d)
      val sets = meta.collect { case (k, Some(c)) => k -> c }
      val withMeta = if (sets.isEmpty) dropped else dropped.withColumns(sets.toMap)
      // the `!c || isNull(c)` form (rather than `!coalesce(c, false)`)
      // keeps the predicate a plain boolean tree that DataSourceStrategy
      // can translate and push into the parquet scan
      val filtered = filters.foldLeft(withMeta)((d, c) => d.filter(!c || c.isNull))
      project.fold(filtered)(p =>
        filtered.select(p(filtered.columns.toSeq).map { case (n, c) => c.as(n) }: _*))
    }

    /** The same step over named column expressions instead of a frame:
      * `in` binds each input column name to a Column over some earlier
      * frame. Returns the row-deletion predicate (TRUE = deleted) and the
      * output columns, both rewritten onto that earlier frame. */
    def over(in: Seq[(String, Column)]): (Option[Column], Seq[(String, Column)]) = {
      val dropped = in.filterNot { case (n, _) => meta.exists(m => m._1 == n && m._2.isEmpty) }
      val sets = meta.collect { case (k, Some(c)) => k -> substitute(c, dropped) }.toMap
      val withMeta = dropped.map { case (n, c) => n -> sets.getOrElse(n, c) } ++
        sets.filterNot(s => dropped.exists(_._1 == s._1))
      val deleted = filters.map(c => coalesce(substitute(c, withMeta), lit(false)))
        .reduceOption(_ || _)
      val out = project.fold(withMeta)(p =>
        p(withMeta.map(_._1)).map { case (n, c) => n -> substitute(c, withMeta) })
      (deleted, out)
    }
  }

  /** A compiled stage. `step` holds a compiled mapping's pieces (the
    * switch merges them across cases), and a mapping's `transform` is
    * `step.apply`. A stage whose rows take different
    * paths (the cases of a switch, unmatched rows included) lists each
    * path's Ser in `branchSers`: one frame has one rendering, so the stage
    * compiles only where every path, applied to the frame's regime, lands
    * on the same regime ([[agrees]]). */
  final case class Compiled(transform: DataFrame => DataFrame, ser: Ser,
                            step: Option[Step] = None, branchSers: Seq[Ser] = Nil) {
    def agrees(prev: Ser): Boolean =
      branchSers.forall(b => combineSer(prev, b) == combineSer(prev, ser))
  }

  /** Serialization-mode transition when a stage with regime `mode` runs
    * over a structured frame in regime `prev`. EnvelopeDefault is the
    * identity, and the fold is associative over every sequence of
    * regimes compiled stages produce (a `root = this` regime never follows
    * Scalar: tryCompile bails there), so a chain of stages can be folded
    * on its own and then applied to the frame's regime. */
  def combineSer(prev: Ser, mode: Ser): Ser = mode match {
    case EnvelopeDefault => prev // passthrough mapping (filters only)
    case SortedDropNull => prev match {
      // `root = this` re-marshals what the interpreter would have parsed:
      // over marshal-shaped content the re-marshal is byte-identical
      case EnvelopeDefault => SortedDropNull
      case other => other
    }
    case FragSortedDropNull(explicit) => prev match {
      // every field of an explicit-null document is present in the text
      // the interpreter re-parses, nulls included, so `root = this` keeps
      // rendering them: the regime stays explicit-null throughout
      case ExplicitNullSorted | FragExplicitNullSorted => FragExplicitNullSorted
      case FragSortedDropNull(earlier) => FragSortedDropNull(earlier ++ explicit)
      case _ => mode
    }
    case other => other // FieldsRoot / Scalar replace the content wholesale
  }

  /** Rewrite `c` so that each plain column reference `col(n)` with `n`
    * bound in `env` reads the bound Column instead. Bindings that are the
    * column itself are skipped, so a first step costs nothing. */
  private def substitute(c: Column, env: Seq[(String, Column)]): Column = {
    val bound = env.filter { case (n, v) => v != col(n) }.toMap
    if (bound.isEmpty) c else Columns.substitute(c, bound)
  }

  /** Serialize a structured frame into the Msg envelope per its Ser mode.
    * `__meta_*` columns become the metadata facet, never content. */
  def envelope(df: DataFrame, ser: Ser): DataFrame = ser match {
    case EnvelopeDefault | SortedDropNull =>
      val cols = ser match {
        case EnvelopeDefault => contentCols(df)
        case _ => contentCols(df).sorted
      }
      df.select(
        to_json(struct(cols.map(col): _*)).as(graft.core.Msg.ContentCol),
        metaMapCol(df).as(graft.core.Msg.MetaCol),
        lit(null).cast(StringType).as(graft.core.Msg.ErrorCol),
        monotonically_increasing_id().as(graft.core.Msg.SeqCol))
    case ExplicitNullSorted =>
      df.select(
        to_json(struct(contentCols(df).sorted.map(col).toIndexedSeq: _*),
          Map("ignoreNullFields" -> "false")).as(graft.core.Msg.ContentCol),
        metaMapCol(df).as(graft.core.Msg.MetaCol),
        lit(null).cast(StringType).as(graft.core.Msg.ErrorCol),
        monotonically_increasing_id().as(graft.core.Msg.SeqCol))
    case FragSortedDropNull(explicitCols) =>
      val pieces = contentCols(df).sorted.map { n =>
        val dt = df.schema(n).dataType
        val vf = jsonFrag(col(n), dt).getOrElse(
          sys.error(s"FragSortedDropNull over unfraggable column $n: $dt"))
        val key = lit(Interp.marshalJson(n) + ":")
        if (explicitCols(n)) concat(key, coalesce(vf, lit("null")))
        else when(col(n).isNull, lit(null).cast(StringType))
          .otherwise(concat(key, vf))
      }
      df.select(
        concat(lit("{"), concat_ws(",", pieces: _*), lit("}"))
          .as(graft.core.Msg.ContentCol),
        metaMapCol(df).as(graft.core.Msg.MetaCol),
        lit(null).cast(StringType).as(graft.core.Msg.ErrorCol),
        monotonically_increasing_id().as(graft.core.Msg.SeqCol))
    case FragExplicitNullSorted =>
      val pieces = contentCols(df).sorted.map { n =>
        val dt = df.schema(n).dataType
        val vf = jsonFrag(col(n), dt).getOrElse(
          sys.error(s"FragExplicitNullSorted over unfraggable column $n: $dt"))
        concat(lit(Interp.marshalJson(n) + ":"), coalesce(vf, lit("null")))
      }
      df.select(
        concat(lit("{"), concat_ws(",", pieces: _*), lit("}"))
          .as(graft.core.Msg.ContentCol),
        metaMapCol(df).as(graft.core.Msg.MetaCol),
        lit(null).cast(StringType).as(graft.core.Msg.ErrorCol),
        monotonically_increasing_id().as(graft.core.Msg.SeqCol))
    case Scalar =>
      df.select(
        col(ScalarCol).cast(StringType).as(graft.core.Msg.ContentCol),
        metaMapCol(df).as(graft.core.Msg.MetaCol),
        lit(null).cast(StringType).as(graft.core.Msg.ErrorCol),
        monotonically_increasing_id().as(graft.core.Msg.SeqCol))
  }

  /** [[Interp.marshalJson]] as a native Column: the JSON text of a compiled
    * value — nested object keys sorted (statically, from the struct type),
    * doubles via the interpreter's Go-parity `fmtDouble` rule, strings
    * escaped by the same Jackson escaper the existing to_json envelopes
    * use, null values rendered `null`. Struct FIELDS that are null render
    * as ABSENT (input-envelope convention: explicit JSON nulls were
    * dropped when the document was parsed into columns, so a null field
    * is "key never present"). None for types with no exact native
    * rendering (maps: dynamic key order; binary; timestamps). */
  private[blob] def jsonFrag(c: Column, t: DataType): Option[Column] = t match {
    case StringType =>
      // to_json of a 1-element array escapes the string; strip the brackets
      val arr = to_json(array(c))
      Some(arr.substr(lit(2), length(arr) - 2))
    case LongType | BooleanType => Some(coalesce(c.cast(StringType), lit("null")))
    case t2 if isIntKind(t2) =>
      Some(coalesce(c.cast(LongType).cast(StringType), lit("null")))
    case t2 if isFloatKind(t2) =>
      Some(coalesce(fmtDoubleCol(c.cast(DoubleType)), lit("null")))
    case ArrayType(et, _) =>
      jsonFrag(lit(null).cast(et), et).map { _ => // probe element type
        // null ELEMENTS render "null" (coalesce — array_join would skip
        // bare SQL nulls); a null ARRAY renders "null" via the outer when
        when(c.isNull, lit(null).cast(StringType)).otherwise(concat(
          lit("["),
          array_join(transform(c, x => coalesce(jsonFrag(x, et).get, lit("null"))), ","),
          lit("]")))
      }
    case st: StructType =>
      val pieces = st.fields.sortBy(_.name).toSeq.map { f =>
        jsonFrag(c.getField(f.name), f.dataType).map(vf =>
          when(c.getField(f.name).isNull, lit(null).cast(StringType))
            .otherwise(concat(lit(Interp.marshalJson(f.name) + ":"), vf)))
      }
      if (pieces.exists(_.isEmpty)) None
      else Some(when(c.isNull, lit(null).cast(StringType)).otherwise(
        concat(lit("{"), concat_ws(",", pieces.flatten: _*), lit("}"))))
    case _ => None
  }

  // ===== statement-level compilation =========================================

  private sealed trait RootState
  private case object RPassthrough extends RootState
  /** `root = this` plus optional field overrides/deletes — the `mutation`
    * shape. Overrides are restricted to non-null CONSTANTS (folded
    * driver-side), so the whole-document drop-null serialization regime
    * and the explicit-value override regime cannot collide on a null. */
  private final case class RWholeThis(
      overrides: Vector[(String, Option[(Column, DataType)])]) extends RootState
  private final case class RFields(fields: Vector[(String, (Column, DataType))]) extends RootState
  private final case class RScalar(c: Column) extends RootState

  /** Compile a full mapping against a static input schema, or None if any
    * statement falls outside the translatable subset. */
  def tryCompile(m: Mapping, schema: StructType,
                 env: Map[String, String] = Map.empty): Option[Compiled] = {
    // named `map` defs whose body is a single `root = <expr>` statement
    // inline at their apply() sites (typed, recursion bounded by the
    // schema's depth — the walk_json shape); any apply() of a map outside
    // this set fails to compile there and the mapping falls back whole.
    val inlineMaps: Map[String, Expr] = m.maps.collect {
      case (name, Vector(AssignRoot(path, e))) if path.isEmpty => name -> e
    }
    var lets = Map.empty[String, (Column, DataType)]
    var filters = Vector.empty[Column]
    var metaOps = Vector.empty[(String, Option[Column])] // Some = set, None = delete
    var root: RootState = RPassthrough
    // mutation overrides whose value is document-dependent: a per-row null
    // there is an interpreter-stored null (explicit), not an absent key
    var dynOvr = Set.empty[String]

    def ce(e: Expr): Option[(Column, DataType)] =
      compileExpr(e, schema, lets, env, None, inlineMaps)

    /** Expression in a whole-field/meta VALUE position: an absent env var
      * may compile to a null literal there (the interpreter stores null →
      * explicit-null field / "null" meta string). Inside larger
      * expressions it stays uncompiled — SQL null would swallow a concat
      * where the interpreter renders the string "null". */
    def ceField(e: Expr): Option[(Column, DataType)] = e match {
      case FnCall("env", Vector(Lit(n: String))) if !env.contains(n) =>
        Some((lit(null).cast(StringType), StringType))
      case FnCall("meta" | "metadata", Vector(Lit(k: String)))
          if !schema.fieldNames.contains(MetaPrefix + k) =>
        Some((lit(null).cast(StringType), StringType))
      case _ => ce(e)
    }

    /** Document-independence check for driver-side interpreter folding. */
    def isConstExpr(x: Expr): Boolean = x match {
      case Lit(_) => true
      case FnCall("env", Vector(Lit(_: String))) => true
      case FnCall(_, _) => false // uuid/now/random/counter/file/...
      case Not(a) => isConstExpr(a)
      case Neg(a) => isConstExpr(a)
      case Bin(_, a, b) => isConstExpr(a) && isConstExpr(b)
      case If(c, t, els) => isConstExpr(c) && isConstExpr(t) && els.forall(isConstExpr)
      case Match(t, cs) =>
        t.forall(isConstExpr) && cs.forall { case (p, r) => p.forall(isConstExpr) && isConstExpr(r) }
      case MethodCall(t, name, args) =>
        !Set("shuffle", "sample")(name) && isConstExpr(t) && args.forall(isConstExpr)
      case ObjLit(fs) => fs.forall { case (k, v) => isConstExpr(k) && isConstExpr(v) }
      case ArrLit(items) => items.forall(isConstExpr)
      case _ => false // This/Root/Var/Meta/lambdas
    }

    /** Evaluate a document-independent expression driver-side with the
      * INTERPRETER — exact semantics for free. None = not constant or
      * errored (the interpreter's row-error path must handle it). */
    def constEval(e: Expr): Option[Any] =
      if (!isConstExpr(e)) None
      else try Some(Interp.eval(e,
        Interp.Ctx(() => throw new BlobError("document-free eval"),
          "", scala.collection.mutable.Map.empty, Map.empty, env, Map.empty, VNothing)))
      catch { case _: Exception => None }

    /** Fold a document-independent expression to a literal Column. Only
      * deterministic scalar shapes qualify; null/double/collection results
      * bail (null-regime / Go-float-format divergences in VALUE position). */
    def constFold(e: Expr): Option[(Column, DataType)] =
      constEval(e).flatMap {
        case s: String => Some((lit(s), StringType))
        case l: Long => Some((lit(l), LongType))
        case b: Boolean => Some((lit(b), BooleanType))
        case _ => None
      }

    def setField(fs: Vector[(String, (Column, DataType))], name: String,
                 v: (Column, DataType)): Vector[(String, (Column, DataType))] =
      if (fs.exists(_._1 == name)) fs.map { case (n, old) => if (n == name) (n, v) else (n, old) }
      else fs :+ (name -> v)

    /** JSON text of a VALUE expression (fragment channel): a Column whose
      * SQL-null means "absent" (deleted()/nothing()/if-without-else), and
      * whose text otherwise IS the interpreter's marshalJson rendering.
      * Lets object/array literals compile with per-row key presence and
      * mixed element types — the text unifies what the static type system
      * cannot. Constant subtrees fold through the interpreter itself. */
    def fragValue(e: Expr): Option[Column] = e match {
      case FnCall("deleted", Vector()) | FnCall("nothing", Vector()) =>
        Some(lit(null).cast(StringType))
      case _ if constEval(e).isDefined => constEval(e).get match {
        case VNothing | VDelete => Some(lit(null).cast(StringType))
        case v => try Some(lit(Interp.marshalJson(v)))
                  catch { case _: Exception => None }
      }
      case If(c, t, els) => for {
        cc <- ce(c).collect { case (x, BooleanType) => x }
        tf <- fragValue(t)
        ef <- els.map(fragValue).getOrElse(Some(lit(null).cast(StringType)))
      } yield when(cc, tf).otherwise(ef)
      case ArrLit(items) =>
        val fs = items.map(fragValue)
        if (fs.exists(_.isEmpty)) None
        // absent elements (null frags) drop out via concat_ws — the
        // interpreter skips Nothing/Delete array elements the same way
        else Some(concat(lit("["), concat_ws(",", fs.flatten: _*), lit("]")))
      case ObjLit(fields) =>
        val keys = fields.map {
          case (Lit(k: String), _) => Some(k)
          case _ => None
        }
        if (keys.exists(_.isEmpty) || keys.flatten.distinct.length != keys.length) None
        else {
          val fs = keys.flatten.zip(fields.map(_._2)).map { case (k, v) => fragField(k, v) }
          if (fs.exists(_.isEmpty)) None
          else {
            // marshal sorts object keys; presence is per-row (null = absent)
            val sorted = keys.flatten.zip(fs.flatten).sortBy(_._1).map(_._2)
            Some(concat(lit("{"), concat_ws(",", sorted: _*), lit("}")))
          }
        }
      // a null VALUE here renders explicit "null" — object-literal values
      // hold nulls (the interpreter stores and marshals them); absence is
      // only ever produced by the deleted/nothing/if branches above
      case other => ceField(other).flatMap { case (c, t) =>
        jsonFrag(c, t).map(f => coalesce(f, lit("null"))) }
    }

    /** One `"key":value` piece of a fragment OBJECT, or SQL-null = absent. */
    def fragField(k: String, v: Expr): Option[Column] =
      fragValue(v).map { f =>
        when(f.isNotNull, concat(lit(Interp.marshalJson(k) + ":"), f))
          .otherwise(lit(null).cast(StringType))
      }

    /** Output-field admissibility: exact under to_json, or exact under the
      * fragment envelope. */
    def fieldOk(t: DataType): Boolean =
      serializableField(t) || jsonFrag(lit(null).cast(t), t).isDefined

    for (s <- m.stmts) s match {
      case AssignVar(n, e) => ce(e) match {
        case Some(cv) => lets += n -> cv
        case None => return None
      }
      case AssignMeta(Some(k), e) if !k.contains('.') && !k.contains('`') =>
        e match {
          case FnCall("deleted", Vector()) => metaOps :+= k -> None
          // constant values (incl. object/array literals) fold through the
          // interpreter driver-side and render EXACTLY as its meta writes
          // do: collections → marshalJson, scalars → toStr
          // (Interp.runWithMeta) — so structured metadata compiles
          case _ if constEval(e).isDefined => constEval(e).get match {
            case VNothing => () // no write
            case VDelete => metaOps :+= k -> None
            case v @ (_: scala.collection.immutable.VectorMap[_, _] | _: Vector[_]) =>
              metaOps :+= k -> Some(lit(Interp.marshalJson(v)))
            case v => metaOps :+= k -> Some(lit(Interp.toStr(v)))
          }
          case _ => ceField(e) match {
            // interpreter stringifies meta values via toStr, null → "null"
            // (Interp.runWithMeta); same renderer, so Long/Boolean/String
            // compile and doubles bail (Go float formatting)
            case Some((c, t)) => toStrCol(c, t) match {
              case Some(sc) => metaOps :+= k -> Some(coalesce(sc, lit("null")))
              case None => return None
            }
            case None => return None
          }
        }
      case AssignMeta(_, _) => return None // whole-meta / exotic keys → interpreter
      case ExprStmt(_) => return None // side-effecting calls → interpreter
      case AssignRoot(path, e) if path.isEmpty => e match {
        case This => root = RWholeThis(Vector.empty)
        case If(c, FnCall("deleted", Vector()), None) => ce(c) match {
          case Some((cc, BooleanType)) => filters :+= cc
          case _ => return None
        }
        // match-as-filter (the cookbook filtering shape): every case arm
        // yields deleted(), no default — first true predicate drops the
        // row, no match leaves the document untouched (Nothing)
        case Match(None, cases) if cases.nonEmpty &&
            cases.forall { case (p, r) => p.isDefined && r == FnCall("deleted", Vector()) } =>
          val conds = cases.map(c => ce(c._1.get).collect { case (x, BooleanType) => x })
          if (conds.exists(_.isEmpty)) return None
          filters :+= conds.flatten.reduce(_ || _)
        case FnCall("deleted", Vector()) => filters :+= lit(true)
        case ObjLit(fieldExprs) =>
          // whole-root object literal. Typed path first (chainable: the
          // next compiled stage sees real columns); the FRAGMENT path
          // catches what static typing can't — conditional key presence
          // (`if` without else, deleted()), mixed-type arrays — rendering
          // the object to its marshal text directly (sealed as Scalar).
          val typed: Option[Vector[(String, (Column, DataType))]] =
            fieldExprs.foldLeft(Option(Vector.empty[(String, (Column, DataType))])) {
              case (accOpt, (Lit(name: String), ve)) => accOpt.flatMap { acc =>
                ve match {
                  case If(_, _, None) => None // dynamic key presence → fragment
                  case _ => ceField(ve) match {
                    case Some(cv) if fieldOk(cv._2) => Some(setField(acc, name, cv))
                    case _ => None
                  }
                }
              }
              case _ => None
            }
          typed match {
            case Some(fs) => root = RFields(fs)
            case None => fragValue(e) match {
              case Some(frag) => root = RScalar(coalesce(frag, lit("null")))
              case None => return None
            }
          }
        case arr @ ArrLit(_) => fragValue(arr) match {
          // whole-root array literal: marshal text (mixed types welcome)
          case Some(frag) => root = RScalar(coalesce(frag, lit("null")))
          case None => return None
        }
        case other => ce(other) match {
          case Some((c, t)) if t == StringType || t == LongType || t == BooleanType =>
            root = RScalar(if (t == StringType) c else c.cast(StringType))
          // root = <structured value> (map_each chains, merges): content
          // is the marshal text — exactly IToBytes on a structured root
          case Some((c, t @ (_: ArrayType | _: StructType))) => jsonFrag(c, t) match {
            case Some(frag) => root = RScalar(coalesce(frag, lit("null")))
            case None => return None
          }
          case Some((c, t)) if isFloatKind(t) => jsonFrag(c, t) match {
            // scalar double root: Go float formatting, unquoted
            case Some(frag) => root = RScalar(coalesce(frag, lit("null")))
            case None => return None
          }
          case _ => return None
        }
      }
      case AssignRoot(path, e) if path.length == 1 =>
        val name = path.head
        if (name.startsWith(MetaPrefix)) return None
        root match {
          case RScalar(_) => return None // field-on-scalar errors
          case RWholeThis(ovr) => e match {
            // mutation shape: overrides/deletes on top of `this`
            case FnCall("deleted", Vector()) =>
              root = RWholeThis(ovr.filterNot(_._1 == name) :+ (name -> None))
            case _ => constFold(e) match {
              case Some(cv) =>
                root = RWholeThis(ovr.filterNot(_._1 == name) :+ (name -> Some(cv)))
              case None => ceField(e) match {
                // document-dependent override: forces the fragment
                // envelope (decided below) so a per-row null renders as
                // the explicit `"k":null` the interpreter stored
                case Some(cv) =>
                  dynOvr += name
                  root = RWholeThis(ovr.filterNot(_._1 == name) :+ (name -> Some(cv)))
                case None => return None
              }
            }
          }
          case _ =>
            val fs = root match { case RFields(f) => f; case _ => Vector.empty }
            e match {
              case FnCall("deleted", Vector()) =>
                root = RFields(fs.filterNot(_._1 == name))
              case If(_, _, None) => return None // dynamic field absence
              case _ => ceField(e) match {
                case Some(cv) if fieldOk(cv._2) =>
                  root = RFields(setField(fs, name, cv))
                case _ => return None
              }
            }
        }
      case AssignRoot(_, _) => return None // nested paths → interpreter
    }

    /** Post-override output fields of a `root = this` mapping: schema
      * content fields minus deletes, override types applied, new override
      * fields appended — what the envelope will actually serialize. */
    def wholeThisEffective(ovr: Vector[(String, Option[(Column, DataType)])]): Seq[DataType] = {
      val deleted = ovr.collect { case (n, None) => n }.toSet
      val setTypes = ovr.collect { case (n, Some((_, t))) => n -> t }.toMap
      val inputFields = schema.fields.toSeq
        .filterNot(f => f.name.startsWith(MetaPrefix) || deleted(f.name))
      inputFields.map(f => setTypes.getOrElse(f.name, f.dataType)) ++
        setTypes.filterNot { case (n, _) => schema.fieldNames.contains(n) }.values
    }

    /** Ser regime for a `root = this` mapping: the proven to_json envelope
      * when every output type round-trips byte-identically AND no override
      * can be null per-row (constants only), the fragment envelope when
      * doubles / unsorted nested structs / dynamic overrides need
      * marshal-parity rendering, bail when neither promises exact content. */
    def wholeThisSer(ovr: Vector[(String, Option[(Column, DataType)])]): Option[Ser] = {
      val eff = wholeThisEffective(ovr)
      if (dynOvr.isEmpty && eff.forall(wholeThisSafeInner)) Some(SortedDropNull)
      else if (eff.forall(t => jsonFrag(lit(null).cast(t), t).isDefined))
        Some(FragSortedDropNull(ovr.collect { case (n, Some(_)) => n }.toSet))
      else None
    }

    root match {
      // `root = this` on raw (scalar) content means "parse the document" —
      // runtime parse errors belong to the interpreter's error channel
      case RWholeThis(_) if schema.fieldNames.contains(ScalarCol) => return None
      // an array-rooted frame passes through / re-marshals only via an
      // explicit `root = <expr>` rebuild (RScalar); the object envelopes
      // would wrap the array column in a bogus object
      case (RPassthrough | RWholeThis(_)) if schema.fieldNames.contains(ArrayRootCol) =>
        return None
      case RWholeThis(ovr) if wholeThisSer(ovr).isEmpty => return None
      // a content field colliding with the meta transport → bail
      case RFields(fs) if fs.exists(_._1.startsWith(MetaPrefix)) => return None
      case _ => ()
    }

    // last op per meta key wins (interpreter sequencing); a delete must
    // also drop a column inherited from an earlier compiled stage
    val metaFinal: Vector[(String, Option[Column])] =
      metaOps.map(_._1).distinct.map(k => k -> metaOps.filter(_._1 == k).last._2)

    val (ser, project): (Ser, Option[Seq[String] => Seq[(String, Column)]]) = root match {
      // a scalar-shaped input (raw line input / compiled scalar stage)
      // passes through AS the raw string, never re-marshaled as JSON
      case RPassthrough if schema.fieldNames.contains(ScalarCol) => (Scalar, None)
      case RPassthrough => (EnvelopeDefault, None)
      case RWholeThis(Vector()) => (wholeThisSer(Vector.empty).get, None)
      case RWholeThis(ovr) =>
        val deleted = ovr.collect { case (n, None) => n }.toSet
        val setMap = ovr.collect { case (n, Some((c, _))) => n -> c }.toMap
        (wholeThisSer(ovr).get, Some((in: Seq[String]) => {
          val inputNames = contentCols(in).filterNot(deleted)
          val names = (inputNames ++ setMap.keys.filterNot(inputNames.contains)).distinct
          names.map(n => n -> setMap.getOrElse(n, col(n))) ++ metaCols(in).map(n => n -> col(n))
        }))
      case RFields(fs) =>
        val cols = fs.sortBy(_._1).map { case (n, (c, _)) => n -> c }
        // the to_json envelope when every field round-trips exactly; the
        // fragment envelope when doubles/nested need marshal rendering
        val fser = if (fs.forall { case (_, (_, t)) => serializableField(t) })
          ExplicitNullSorted else FragExplicitNullSorted
        (fser, Some((in: Seq[String]) => cols ++ metaCols(in).map(n => n -> col(n))))
      case RScalar(c) =>
        (Scalar, Some((in: Seq[String]) => (ScalarCol -> c) +: metaCols(in).map(n => n -> col(n))))
    }
    // meta writes evaluate against the INPUT frame (Bloblang `this` is
    // always the source document), so they run before filters/projection.
    // A row goes when a filter is TRUE; a null keeps it (SQL 3VL — the
    // interpreter would error the row and keep it too).
    val step = Step(metaFinal.map { case (k, v) => (MetaPrefix + k) -> v }, filters, project)
    Some(Compiled(step.apply, ser, Some(step)))
  }

  /** Types that may appear as output fields with exact content parity. */
  private def serializableField(t: DataType): Boolean = t match {
    case StringType | LongType | BooleanType => true
    case ArrayType(e, _) => serializableField(e)
    case _ => false // double/float/decimal: Go vs Jackson float formatting
  }

  /** `root = this` under the to_json envelope re-marshals the parsed
    * document, so a column type qualifies only when it round-trips
    * to_json → parse → marshal byte-identically: no float kinds (Go
    * whole-float formatting), no maps (unordered keys vs sorted marshal),
    * nested structs only when their field names are already sorted
    * (marshal sorts nested keys; to_json keeps struct order). Types that
    * fail this but render via [[jsonFrag]] use FragSortedDropNull. */
  private def wholeThisSafeInner(t: DataType): Boolean = t match {
    case FloatType | DoubleType | _: DecimalType => false
    case _: MapType => false
    case st: StructType =>
      st.fieldNames.toSeq == st.fieldNames.toSeq.sorted &&
        st.fields.forall(f => wholeThisSafeInner(f.dataType))
    case ArrayType(e, _) => wholeThisSafeInner(e)
    case _ => true // long/int/string/bool/timestamp/date: same renderer both sides
  }

  // ===== expression-level compilation ========================================

  private def isIntKind(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  private def isFloatKind(t: DataType): Boolean = t match {
    case FloatType | DoubleType | _: DecimalType => true
    case _ => false
  }
  private def isNumeric(t: DataType): Boolean = isIntKind(t) || isFloatKind(t)

  /** [[Interp.typeName]] of any NON-NULL value of this static SQL type
    * (null values report "null" at runtime — see the type-test pruning in
    * [[compileMatch]]). None for types outside the compiled value model. */
  private def staticTypeName(t: DataType): Option[String] = t match {
    case StringType => Some("string")
    case BooleanType => Some("bool")
    case t2 if isNumeric(t2) => Some("number")
    case _: ArrayType => Some("array")
    case _: StructType => Some("object")
    case _ => None
  }

  /** ANSI-safe string→number parse guards: under ANSI mode (the session
    * default) a bare cast THROWS on junk instead of returning null, so
    * every string cast sits behind a shape regex and junk takes the
    * null/fallback path, preserving the "junk → null (SQL)" contract. */
  private val IntRe = "^\\s*[+-]?\\d+\\s*$"
  private val FloatRe = "^\\s*[+-]?(\\d+(\\.\\d*)?|\\.\\d+)([eE][+-]?\\d+)?\\s*$"

  private def unifyVals(l: (Column, DataType), r: (Column, DataType)): Option[(Column, Column, DataType)] =
    if (l._2 == r._2) Some((l._1, r._1, l._2))
    else if (isNumeric(l._2) && isNumeric(r._2))
      Some((l._1.cast(DoubleType), r._1.cast(DoubleType), DoubleType))
    else None

  private def numBinVals(op: String, l: (Column, DataType), r: (Column, DataType)): Option[(Column, DataType)] = {
    val (lc, lt) = l; val (rc, rt) = r
    if (!isNumeric(lt) || !isNumeric(rt)) None
    else if (lt == LongType && rt == LongType && op != "/")
      Some((op match {
        case "+" => lc + rc; case "-" => lc - rc; case "*" => lc * rc
        // ANSI long % 0 throws the QUERY; the interpreter errors the ROW.
        // Null is the documented impossible-error deviation for that row.
        case "%" => when(rc =!= 0L, lc % rc)
      }, LongType))
    else {
      val (ld, rd) = (lc.cast(DoubleType), rc.cast(DoubleType))
      Some((op match {
        case "+" => ld + rd; case "-" => ld - rd; case "*" => ld * rd
        case "/" => ld / rd; case "%" => ld % rd
      }, DoubleType))
    }
  }

  /** Interp.fmtDouble as a Column: whole && |d| < 1e15 renders as a Long,
    * else Java Double.toString — which is Spark's double→string cast. */
  private def fmtDoubleCol(d: Column): Column =
    when(d === floor(d) && abs(d) < 1e15, d.cast(LongType).cast(StringType))
      .otherwise(d.cast(StringType))

  /** Go-style string rendering of a value (Interp.toStr) as a Column.
    * Doubles follow the interpreter's fmtDouble rule — every toStrCol
    * consumer (string concat, format, meta writes, templates) stringifies
    * through Interp.toStr on the interpreter side, so the rendering pair
    * stays exact. None for types toStr would marshal (arrays/objects). */
  private def toStrCol(c: Column, t: DataType): Option[Column] = t match {
    case StringType => Some(c)
    case LongType | BooleanType => Some(c.cast(StringType))
    case t2 if isIntKind(t2) => Some(c.cast(LongType).cast(StringType))
    case t2 if isFloatKind(t2) => Some(fmtDoubleCol(c.cast(DoubleType)))
    case _ => None
  }

  /** @param thisCol rebinding of `this` inside a higher-order method
    *   argument (both `x -> ...` lambdas and bare queries rebind the
    *   context to the element — Methods.applyFn, reference
    *   query/methods_structured.go:913). Empty at statement scope, where
    *   `this` is the whole document (compiled as a struct of the content
    *   columns when every method consuming it is itself compilable). */
  private[blob] def compileExpr(e: Expr, schema: StructType,
                                lets: Map[String, (Column, DataType)],
                                env: Map[String, String],
                                thisCol: Option[(Column, DataType)] = None,
                                maps: Map[String, Expr] = Map.empty,
                                depth: Int = 0): Option[(Column, DataType)] = {
    def ce(x: Expr): Option[(Column, DataType)] =
      compileExpr(x, schema, lets, env, thisCol, maps, depth)

    /** Resolve a dot path rooted at `this` against the static schema,
      * normalizing integer kinds to Long and float kinds to Double (the
      * interpreter sees JSON longs/doubles after the envelope round-trip). */
    def resolvePath(segs: Seq[String]): Option[(Column, DataType)] = {
      if (segs.isEmpty) return None
      var t: DataType = schema
      var c: Column = null
      for (seg <- segs) t match {
        case st: StructType => st.find(_.name == seg) match {
          case Some(f) =>
            c = if (c == null) col(seg) else c.getField(seg)
            t = f.dataType
          case None => return None // unknown field: fall back (typo or dynamic)
        }
        case _ => return None
      }
      if (isIntKind(t) && t != LongType) Some((c.cast(LongType), LongType))
      else if (isFloatKind(t) && t != DoubleType) Some((c.cast(DoubleType), DoubleType))
      else t match {
        case StringType | LongType | DoubleType | BooleanType => Some((c, t))
        case ArrayType(el, n) if el == StringType || el == LongType || el == BooleanType =>
          Some((c, ArrayType(el, n)))
        // arrays of flat records: lambda methods (filter/map_each) and
        // generic field access consume these
        case at @ ArrayType(el: StructType, _) if el.fields.forall(f => f.dataType match {
          case StringType | BooleanType => true
          case dt => isNumeric(dt)
        }) => Some((c, at))
        case _ => None // timestamps/binary/maps/nested structs: interpreter
      }
    }

    def pathOf(x: Expr, acc: List[String]): Option[List[String]] = x match {
      case This => Some(acc)
      case Field(t2, n) => pathOf(t2, n :: acc)
      case _ => None
    }

    def numBin(op: String, l: (Column, DataType), r: (Column, DataType)): Option[(Column, DataType)] =
      numBinVals(op, l, r)

    def unify(l: (Column, DataType), r: (Column, DataType)): Option[(Column, Column, DataType)] =
      unifyVals(l, r)

    e match {
      case Lit(s: String) => Some((lit(s), StringType))
      case Lit(l: Long) => Some((lit(l), LongType))
      case Lit(d: Double) => Some((lit(d), DoubleType))
      case Lit(b: Boolean) => Some((lit(b), BooleanType))
      case Lit(_) => None // null literal: only supported via ==/!= special case
      case ObjLit(fields) =>
        // object literal in VALUE position (e.g. built per-element inside
        // map_each): a struct with declaration-order fields — consumers
        // access fields statically, serialization sorts keys statically
        val keys = fields.map { case (Lit(k: String), _) => Some(k); case _ => None }
        if (keys.exists(_.isEmpty) || keys.flatten.distinct.length != keys.length) None
        else {
          val vals = fields.map(f => ce(f._2))
          if (vals.exists(_.isEmpty)) None
          else {
            val named = keys.flatten.zip(vals.flatten)
            Some((struct(named.toIndexedSeq.map { case (k, (c, _)) => c.as(k) }: _*),
              StructType(named.map { case (k, (_, t)) => StructField(k, t, nullable = true) })))
          }
        }
      case This => thisCol.orElse {
        // whole document as a struct of the content columns (raw scalar
        // frames excluded: `this` there means "parse the document", whose
        // runtime errors belong to the interpreter); an array-rooted
        // frame's `this` IS its array column. Only useful when a consuming
        // method (without/merge/map_each target) compiles; a bare
        // `root.x = this` still bails at serializableField.
        schema.find(_.name == ArrayRootCol) match {
          case Some(f) => Some((col(ArrayRootCol), f.dataType))
          case None =>
            val fs = schema.fields.filterNot(_.name.startsWith(MetaPrefix))
            if (fs.isEmpty || schema.fieldNames.contains(ScalarCol)) None
            else Some((struct(fs.toIndexedSeq.map(f => col(f.name).as(f.name)): _*),
              StructType(fs)))
        }
      }
      case RootRef => None
      case VarRef(n) => lets.get(n)
      case MetaRef(_) => None
      case f @ Field(inner, name) =>
        // `this`-rooted paths resolve against the static schema — unless
        // `this` is rebound to an element (thisCol), where they must walk
        // the element struct instead; lambda variables and let-bound
        // structs always access the compiled struct
        (if (thisCol.isEmpty) pathOf(f, Nil).flatMap(resolvePath) else None).orElse {
          ce(inner).flatMap { case (c, t) => t match {
            case st: StructType => st.find(_.name == name).flatMap { fld =>
              val fc = c.getField(name)
              if (isIntKind(fld.dataType) && fld.dataType != LongType)
                Some((fc.cast(LongType), LongType))
              else if (isFloatKind(fld.dataType) && fld.dataType != DoubleType)
                Some((fc.cast(DoubleType), DoubleType))
              else fld.dataType match {
                case StringType | LongType | DoubleType | BooleanType => Some((fc, fld.dataType))
                case at @ ArrayType(el, _) if el == StringType || el == LongType || el == BooleanType =>
                  Some((fc, at))
                // arrays of flat records chain into lambda methods (the
                // release.assets shape) — same gate as resolvePath
                case at @ ArrayType(el: StructType, _) if el.fields.forall(f2 => f2.dataType match {
                  case StringType | BooleanType => true
                  case dt => isNumeric(dt)
                }) => Some((fc, at))
                case st2: StructType => Some((fc, st2)) // chained access
                case _ => None
              }
            }
            // numeric path segment on an array = element access (`this.0`,
            // the csv_formatter shape); try_element_at's null on
            // out-of-bounds is the impossible-error deviation
            case ArrayType(et, _) if name.nonEmpty && name.forall(_.isDigit) =>
              val fc = try_element_at(c, lit(name.toInt + 1))
              if (isIntKind(et) && et != LongType) Some((fc.cast(LongType), LongType))
              else if (isFloatKind(et) && et != DoubleType) Some((fc.cast(DoubleType), DoubleType))
              else et match {
                case StringType | LongType | DoubleType | BooleanType |
                     _: StructType | _: ArrayType => Some((fc, et))
                case _ => None
              }
            case _ => None
          }}
        }
      case FnCall("json", Vector(Lit(p: String))) => resolvePath(p.split('.').toSeq)
      case FnCall("content", Vector()) =>
        // content() compiles only on a SCALAR-shaped frame (raw line input
        // or the output of a compiled scalar mapping), where the content
        // column IS the raw string. On structured frames the interpreter
        // returns the original bytes, which a re-marshal can't promise.
        schema.find(_.name == ScalarCol).collect {
          case f if f.dataType == StringType => (col(ScalarCol), StringType)
        }
      case FnCall("env", Vector(Lit(n: String))) =>
        env.get(n).map(v => (lit(v), StringType)) // absent env → interpreter (null-vs-"null" concat parity)
      case FnCall("meta" | "metadata", Vector(Lit(k: String))) =>
        // metadata reads resolve against the compiled meta transport; a
        // key with no column is genuinely unset on structured frames (the
        // transport carries every compiled `meta` write, and inputs with
        // ambient metadata enter through the envelope path instead) — but
        // like env(), an absent key only compiles where a null is safe
        // (.or fallback below / whole-field positions via ceField)
        schema.fieldNames.find(_ == MetaPrefix + k).map(n => (col(n), StringType))
      case Not(x) => ce(x).collect { case (c, BooleanType) => (!c, BooleanType) }
      case Neg(x) => ce(x).collect {
        case (c, LongType) => (-c, LongType)
        case (c, DoubleType) => (-c, DoubleType)
      }
      case If(c, t, Some(els)) =>
        ce(c).flatMap {
          case (cc, BooleanType) =>
            for {
              tv <- ce(t); ev <- ce(els)
              u <- unify(tv, ev)
            } yield (when(cc, u._1).otherwise(u._2), u._3)
          case _ => None
        }
      case If(_, _, None) => None // VNothing in value position
      case Match(tgtOpt, cases) if cases.nonEmpty =>
        // value position: only matches that ALWAYS produce a value compile
        // here (a deleted()/nothing()/no-match path means VDelete/VNothing,
        // which only an element context can express — compileDeletable)
        compileMatch(tgtOpt, cases, schema, lets, env, thisCol, maps, depth).collect {
          case (v, t, None) => (v, t)
        }
      case Match(_, _) => None
      case Bin("==", l, Lit(null)) => ce(l).map { case (c, _) => (c.isNull, BooleanType) }
      case Bin("==", Lit(null), r) => ce(r).map { case (c, _) => (c.isNull, BooleanType) }
      case Bin("!=", l, Lit(null)) => ce(l).map { case (c, _) => (c.isNotNull, BooleanType) }
      case Bin("!=", Lit(null), r) => ce(r).map { case (c, _) => (c.isNotNull, BooleanType) }
      case Bin(op, le, re) =>
        // int-vs-int comparisons against a literal |v| <= 2^53 compare as
        // LONGS: exactly equivalent to the interpreter's double compare
        // (doubles are exact there, and rounding of a huge column value
        // cannot cross a far-away bounded literal) — and, unlike a
        // double-cast, a bare attribute comparison pushes down to parquet.
        val litSafe = Seq(le, re).exists {
          case Lit(l: Long) => math.abs(l) <= (1L << 53)
          case _ => false
        }
        for {
          l <- ce(le); r <- ce(re)
          out <- compileBin(op, l, r, litSafe, numBin, unify)
        } yield out
      case MethodCall(t, name, args) =>
        compileMethod(t, name, args, ce, schema, lets, env, thisCol, maps, depth)
      case _ => None
    }
  }

  private def compileBin(op: String, l: (Column, DataType), r: (Column, DataType),
                         intLitSafe: Boolean,
                         numBin: (String, (Column, DataType), (Column, DataType)) => Option[(Column, DataType)],
                         unify: ((Column, DataType), (Column, DataType)) => Option[(Column, Column, DataType)])
      : Option[(Column, DataType)] = op match {
    case "|" => unify(l, r).map { case (lc, rc, t) => (coalesce(lc, rc), t) }
    case "&&" if l._2 == BooleanType && r._2 == BooleanType => Some((l._1 && r._1, BooleanType))
    case "||" if l._2 == BooleanType && r._2 == BooleanType => Some((l._1 || r._1, BooleanType))
    case "==" | "!=" =>
      val eq: Option[Column] =
        if (l._2 == StringType && r._2 == StringType) Some(l._1 <=> r._1)
        else if (l._2 == BooleanType && r._2 == BooleanType) Some(l._1 <=> r._1)
        else if (l._2 == LongType && r._2 == LongType && intLitSafe) Some(l._1 <=> r._1)
        else if (isNumeric(l._2) && isNumeric(r._2))
          Some(l._1.cast(DoubleType) <=> r._1.cast(DoubleType))
        else if ((l._2 == StringType && isNumeric(r._2)) || (isNumeric(l._2) && r._2 == StringType))
          Some(lit(false)) // valueEq: string vs number is false, not an error
        else None
      eq.map(c => (if (op == "==") c else !c, BooleanType))
    case "<" | ">" | "<=" | ">=" =>
      val cmp: Option[(Column, Column)] =
        if (l._2 == StringType && r._2 == StringType) Some((l._1, r._1))
        else if (l._2 == LongType && r._2 == LongType && intLitSafe) Some((l._1, r._1))
        else if (isNumeric(l._2) && isNumeric(r._2))
          Some((l._1.cast(DoubleType), r._1.cast(DoubleType)))
        else None
      cmp.map { case (lc, rc) =>
        (op match {
          case "<" => lc < rc; case ">" => lc > rc
          case "<=" => lc <= rc; case _ => lc >= rc
        }, BooleanType)
      }
    case "+" =>
      if (l._2 == StringType)
        toStrCol(r._1, r._2).map(rs => (concat(l._1, rs), StringType))
      else if (r._2 == StringType)
        toStrCol(l._1, l._2).map(ls => (concat(ls, r._1), StringType))
      else if (l._2.isInstanceOf[ArrayType] && l._2 == r._2)
        Some((concat(l._1, r._1), l._2))
      else numBin("+", l, r)
    case "-" | "*" | "/" | "%" => numBin(op, l, r)
    case _ => None
  }

  /** Element/value-context compilation where the expression may yield NO
    * value: deleted(), nothing(), an `if` without else whose condition is
    * false, or a `match` with no matching arm — all VDelete/VNothing in the
    * interpreter, which map_each drops (Methods.scala map_each filter).
    * Returns (value, type, deleteCond): deleteCond None = never deletes;
    * Some(d) = elements where d is true carry no value (the value column
    * is unspecified there and must not be read). */
  private def compileDeletable(e: Expr, schema: StructType,
      lets: Map[String, (Column, DataType)], env: Map[String, String],
      thisCol: Option[(Column, DataType)],
      maps: Map[String, Expr],
      depth: Int): Option[(Column, DataType, Option[Column])] = e match {
    case If(c, t, None) =>
      compileExpr(c, schema, lets, env, thisCol, maps, depth).collect {
        case (cc, BooleanType) => cc
      }.flatMap { cc =>
        compileDeletable(t, schema, lets, env, thisCol, maps, depth).map { case (tv, tt, td) =>
          // condition false (or null — the interpreter would error the row;
          // 3VL deviation, documented in the header) → VNothing → deleted
          (tv, tt, Some(!coalesce(cc, lit(false)) ||
            coalesce(td.getOrElse(lit(false)), lit(false))))
        }
      }
    case Match(tgtOpt, cases) if cases.nonEmpty =>
      compileMatch(tgtOpt, cases, schema, lets, env, thisCol, maps, depth)
    case _ => compileExpr(e, schema, lets, env, thisCol, maps, depth)
      .map { case (c, t) => (c, t, None) }
  }

  /** Generalized `match` compile (interpreter twin: Interp.scala Match eval):
    * the target (explicit, or the current `this`) rebinds `this` for both
    * patterns and results; a pattern evaluating to a Boolean is a predicate,
    * anything else is a valueEq test against the target; `_` (or any arm
    * after it — dead code) is the default. Arms testing `x.type() == "lit"`
    * resolve STATICALLY against x's SQL type: a mismatched arm is pruned
    * before its result compiles, which is what lets arms of heterogeneous
    * result types coexist (the walk_json recursion shape). Returns the
    * deletable triple: deleted()/nothing() arms and a missing default
    * surface as the deletion condition. */
  private def compileMatch(tgtOpt: Option[Expr], cases: Vector[(Option[Expr], Expr)],
      schema: StructType, lets: Map[String, (Column, DataType)], env: Map[String, String],
      thisCol: Option[(Column, DataType)],
      maps: Map[String, Expr],
      depth: Int): Option[(Column, DataType, Option[Column])] = {
    val tgt = compileExpr(tgtOpt.getOrElse(This), schema, lets, env, thisCol, maps, depth)
      .getOrElse(return None)
    val sub = Some(tgt)
    // arms after the first default never run (the default matches first)
    val live = {
      val i = cases.indexWhere(_._1.isEmpty)
      if (i >= 0) cases.take(i + 1) else cases
    }
    val hasDefault = live.last._1.isEmpty

    /** `x.type() == "name"` static resolution: None = not a type test;
      * Some(None) = statically false (prune arm); Some(Some(cond)). */
    def typeTest(pat: Expr): Option[Option[Column]] = {
      def test(x: Expr, s: String): Option[Option[Column]] =
        compileExpr(x, schema, lets, env, sub, maps, depth).flatMap { case (xc, xt) =>
          staticTypeName(xt).map { n =>
            if (s == "null") Some(xc.isNull)
            else if (s == n) Some(xc.isNotNull)
            else None // this arm can never match a value of x's static type
          }
        }
      pat match {
        case Bin("==", MethodCall(x, "type", Vector()), Lit(s: String)) => test(x, s)
        case Bin("==", Lit(s: String), MethodCall(x, "type", Vector())) => test(x, s)
        case _ => None
      }
    }

    // (cond, result): result None = pure deleted()/nothing() arm
    val arms = Vector.newBuilder[(Column, Option[(Column, DataType, Option[Column])])]
    for ((patOpt, resE) <- live) {
      val condOpt: Option[Column] = patOpt match {
        case None => Some(lit(true))
        case Some(pat) => typeTest(pat) match {
          case Some(None) => None // statically false: prune (skip arm entirely)
          case Some(Some(c)) => Some(c)
          case None => compileExpr(pat, schema, lets, env, sub, maps, depth) match {
            case Some((pc, BooleanType)) => Some(pc) // predicate arm
            case Some(pv) => // literal/value pattern: valueEq against target
              val litSafe = pat match {
                case Lit(l: Long) => math.abs(l) <= (1L << 53)
                case _ => false
              }
              compileBin("==", pv, tgt, litSafe, numBinVals, unifyVals)
                .map(_._1) match {
                case Some(c) => Some(c)
                case None => return None
              }
            case None => return None
          }
        }
      }
      condOpt.foreach { cond =>
        resE match {
          case FnCall("deleted", Vector()) | FnCall("nothing", Vector()) =>
            arms += ((cond, None))
          case _ => compileDeletable(resE, schema, lets, env, sub, maps, depth) match {
            case Some(r) => arms += ((cond, Some(r)))
            case None => return None
          }
        }
      }
    }
    val armsV = arms.result()
    val valued = armsV.flatMap(_._2).map(_._2)
    if (valued.isEmpty) return None // every live arm deletes: filter shape, no value
    // unify result types across value arms
    var ut: DataType = valued.head
    for (t <- valued.tail) {
      if (t != ut) {
        if (isNumeric(t) && isNumeric(ut)) ut = DoubleType else return None
      }
    }
    def castTo(c: Column, t: DataType): Column = if (t == ut) c else c.cast(ut)
    val value = armsV.foldRight(lit(null).cast(ut): Column) {
      case ((cond, Some((v, t, _))), acc) => when(cond, castTo(v, t)).otherwise(acc)
      case ((cond, None), acc) => when(cond, lit(null).cast(ut)).otherwise(acc)
    }
    val mayDelete = !hasDefault ||
      armsV.exists { case (_, r) => r.isEmpty || r.exists(_._3.isDefined) }
    val del: Option[Column] =
      if (!mayDelete) None
      else Some(armsV.foldRight(lit(true): Column) { // no arm matched → VNothing
        case ((cond, Some((_, _, d))), acc) =>
          when(cond, d.getOrElse(lit(false))).otherwise(acc)
        case ((cond, None), acc) => when(cond, lit(true)).otherwise(acc)
      })
    Some((value, ut, del))
  }

  /** Method dispatch: only methods whose interpreter twin ([[Methods]]) is
    * EXACTLY expressible as a Column op are compiled; everything else
    * bails to the interpreter. */
  private def compileMethod(t: Expr, name: String, args: Vector[Expr],
                            ce: Expr => Option[(Column, DataType)],
                            schema: StructType, lets: Map[String, (Column, DataType)],
                            env: Map[String, String],
                            thisCol: Option[(Column, DataType)],
                            maps: Map[String, Expr],
                            depth: Int): Option[(Column, DataType)] = {
    lazy val target = ce(t)
    def strTarget: Option[Column] = target.flatMap { case (c, tt) => toStrCol(c, tt) }
    def litStr(i: Int): Option[String] = args.lift(i).collect { case Lit(s: String) => s }
    def q(s: String): String = java.util.regex.Pattern.quote(s)

    /** Int/float normalization applied to every field read (same rule as
      * resolvePath: the interpreter sees JSON longs/doubles). */
    def normField(c: Column, dt: DataType): (Column, DataType) =
      if (isIntKind(dt) && dt != LongType) (c.cast(LongType), LongType)
      else if (isFloatKind(dt) && dt != DoubleType) (c.cast(DoubleType), DoubleType)
      else (c, dt)

    /** Compile-time sequence channel: chains rooted at `key_values()` over
      * a STATIC struct stay a driver-side Vector of per-element Columns, so
      * heterogeneous entry-value types (string/long/bool fields — the
      * csv_formatter shape) survive where no single SQL array type could
      * hold them. Elements are {key, value} entry structs; `sort_by` on the
      * static key sorts driver-side (keys are distinct, so the
      * interpreter's stable sortWith agrees); `map_each` compiles its body
      * once per element against that element's own type; `join` consumes
      * the sequence below. */
    def staticSeq(e0: Expr): Option[Vector[(Option[String], Column, DataType)]] = e0 match {
      case MethodCall(x, "key_values", Vector()) => ce(x).flatMap {
        case (c, st: StructType) => Some(st.fields.toVector.map { f =>
          val (vc, vt) = normField(c.getField(f.name), f.dataType)
          (Option(f.name),
            struct(lit(f.name).as("key"), vc.as("value")),
            StructType(Seq(StructField("key", StringType, nullable = false),
              StructField("value", vt))): DataType)
        })
        case _ => None
      }
      case MethodCall(x, "sort_by", Vector(arg)) => staticSeq(x).flatMap { els =>
        val keyAccess = arg match {
          case Lambda(p, Field(VarRef(p2), "key")) => p2 == p
          case Field(This, "key") => true
          case _ => false
        }
        if (keyAccess && els.forall(_._1.isDefined))
          Some(els.sortBy(_._1.get)) // cmpVals on strings = String.compareTo
        else None
      }
      case MethodCall(x, "map_each", Vector(arg)) => staticSeq(x).flatMap { els =>
        val mapped = els.map { case (_, c, dt) =>
          val bodyC = arg match {
            case lam: Lambda => compileExpr(lam.body, schema,
              lets + (lam.param -> ((c, dt))), env, Some((c, dt)), maps, depth)
            case body => compileExpr(body, schema, lets, env, Some((c, dt)), maps, depth)
          }
          bodyC.map { case (vc, vt) => (None: Option[String], vc, vt) }
        }
        if (mapped.exists(_.isEmpty)) None else Some(mapped.flatten)
      }
      case _ => None
    }

    name match {
      case "uppercase" => strTarget.map(c => (upper(c), StringType))
      case "lowercase" => strTarget.map(c => (lower(c), StringType))
      case "trim" if args.isEmpty =>
        // Java String.trim: strips chars <= U+0020 from both ends (Spark's
        // `trim` only strips ' ')
        strTarget.map(c => (regexp_replace(
          regexp_replace(c, "^[\\x00-\\x20]+", ""), "[\\x00-\\x20]+$", ""), StringType))
      case "trim" => for { c <- strTarget; cut <- litStr(0) } yield
        // trim(cutset): strip any char in the set from both ends
        // (strings.Trim — Spark's trim(trimString) is the exact twin)
        (trim(c, cut), StringType)
      case "trim_prefix" => for { c <- strTarget; p <- litStr(0) } yield
        (when(c.startsWith(p), c.substr(lit(p.length + 1), length(c))).otherwise(c), StringType)
      case "trim_suffix" => for { c <- strTarget; p <- litStr(0) } yield
        (when(c.endsWith(p), c.substr(lit(1), length(c) - p.length)).otherwise(c), StringType)
      case "has_prefix" => strTarget.flatMap(c => args.headOption.flatMap(ce).collect {
        case (a, StringType) => (c.startsWith(a), BooleanType)
      })
      case "has_suffix" => strTarget.flatMap(c => args.headOption.flatMap(ce).collect {
        case (a, StringType) => (c.endsWith(a), BooleanType)
      })
      case "contains" => target.flatMap {
        case (c, StringType) => args.headOption.flatMap(ce).collect {
          case (a, StringType) => (c.contains(a), BooleanType)
        }
        // array membership: valueEq on same-typed scalars is plain
        // equality, which array_contains implements exactly (null array →
        // null → 3VL, the interpreter errors the row: accepted deviation)
        case (c, ArrayType(et, _)) if et == StringType || et == LongType || et == BooleanType =>
          args.headOption.flatMap(ce).collect {
            case (a, at) if at == et => (array_contains(c, a), BooleanType)
          }
        case _ => None // object contains uses valueEq → interpreter
      }
      case "index_of" => for { c <- strTarget; s <- litStr(0) } yield
        ((instr(c, s) - 1).cast(LongType), LongType)
      case "replace_all" => for { c <- strTarget; a <- litStr(0); b <- litStr(1) } yield
        (regexp_replace(c, q(a), java.util.regex.Matcher.quoteReplacement(b)), StringType)
      case "re_match" => for { c <- strTarget; p <- litStr(0) } yield (c.rlike(p), BooleanType)
      case "re_replace_all" => for { c <- strTarget; p <- litStr(0); r <- litStr(1) } yield
        (regexp_replace(c, p, r), StringType)
      case "split" => for { c <- strTarget; sep <- litStr(0) } yield
        (split(c, q(sep), -1), ArrayType(StringType))
      case "length" => target.flatMap {
        case (c, StringType) => Some((length(c).cast(LongType), LongType))
        case (c, ArrayType(_, _)) => Some((size(c).cast(LongType), LongType))
        case _ => None
      }
      case "string" => strTarget.map(c => (c, StringType))
      case "format" => target.flatMap {
        // constant Go format string, %v/%s verbs only: the interpreter
        // maps %v -> %s and String.format-renders Long/Boolean/String args
        // exactly like a cast-to-string concat (Methods.scala:299-308)
        case (_, StringType) => t match {
          case Lit(fmt: String) =>
            val masked = fmt.replace("%%", "\u0000")
            // a dangling trailing '%' is a format ERROR in the interpreter
            // (String.format throws, row errors): never compile it
            if (masked.exists(ch => ch == '%') && !masked.endsWith("%") &&
                !"%[^vs]".r.findFirstIn(masked).isDefined) {
              val pieces = masked.split("%[vs]", -1)
                .map(_.replace("\u0000", "%")).toSeq
              if (pieces.length - 1 != args.length) None // arity error → interpreter
              else {
                val argCols = args.map(a => ce(a).flatMap {
                  case (c, at) => toStrCol(c, at) })
                if (argCols.exists(_.isEmpty)) None
                else {
                  val parts = pieces.map(p => lit(p): Column)
                  val interleaved = parts.head +: argCols.flatten.zip(parts.tail)
                    .flatMap { case (a, p) => Seq(a, p) }
                  Some((concat(interleaved: _*), StringType))
                }
              }
            } else None
          case _ => None // dynamic format string → interpreter
        }
        case _ => None
      }
      case "int64" => target.collect {
        case (c, LongType) => (c, LongType)
        // trunc toward zero, both sides; the guard keeps ANSI cast from
        // THROWING on NaN/overflow (interp saturates there — those rows
        // become null, the documented impossible-error deviation)
        case (c, DoubleType) =>
          (when(!isnan(c) && c >= Long.MinValue.toDouble && c < Long.MaxValue.toDouble,
            c.cast(LongType)), LongType)
        // junk → null (err in interp): accepted deviation. The rlike guard
        // keeps the ANSI-mode cast from THROWING on junk strings.
        case (c, StringType) => (when(c.rlike(IntRe), c.cast(LongType)), LongType)
      }
      case "float64" => target.collect {
        case (c, tt) if isNumeric(tt) => (c.cast(DoubleType), DoubleType)
        case (c, StringType) => (when(c.rlike(FloatRe), c.cast(DoubleType)), DoubleType)
      }
      case "bool" => target.collect {
        case (c, BooleanType) => (c, BooleanType)
        case (c, LongType) => (c =!= 0L, BooleanType)
        case (c, DoubleType) => (c =!= 0.0, BooleanType)
      }
      case "abs" => target.collect {
        case (c, LongType) => (abs(c), LongType)
        case (c, DoubleType) => (abs(c), DoubleType)
      }
      case "round" if args.isEmpty => target.collect {
        case (c, LongType) => (c, LongType)
        // math.round(double) == floor(x + 0.5) as Long; Spark floor returns Long
        case (c, DoubleType) => (floor(c + lit(0.5)), LongType)
      }
      case "sqrt" => numUnary(target, sqrt)
      case "log" => numUnary(target, org.apache.spark.sql.functions.log(_))
      case "log10" => numUnary(target, log10)
      case "sin" => numUnary(target, sin)
      case "cos" => numUnary(target, cos)
      case "tan" => numUnary(target, tan)
      case "pow" => target.flatMap {
        case (c, tt) if isNumeric(tt) =>
          args.headOption.flatMap(ce).collect {
            case (a, at) if isNumeric(at) =>
              (pow(c.cast(DoubleType), a.cast(DoubleType)), DoubleType)
          }
        case _ => None
      }
      case "filter" | "map_each" => target.flatMap {
        case (c, at @ ArrayType(et, _)) => args.headOption.flatMap { arg =>
          // element binding normalizes int/float kinds like resolvePath
          def bindElem(x: Column): (Column, DataType) =
            if (isIntKind(et) && et != LongType) (x.cast(LongType), LongType)
            else if (isFloatKind(et) && et != DoubleType) (x.cast(DoubleType), DoubleType)
            else (x, et)
          // BOTH forms rebind `this` to the element (Methods.applyFn /
          // reference query method context); a named lambda additionally
          // binds its parameter. A bare query IS the body.
          def bodyWith(x: Column): Option[(Column, DataType)] = arg match {
            case lam: Lambda => compileExpr(lam.body, schema,
              lets + (lam.param -> bindElem(x)), env, Some(bindElem(x)), maps, depth)
            case body => compileExpr(body, schema, lets, env, Some(bindElem(x)), maps, depth)
          }
          // element bodies may DELETE (deleted()/nothing()/no-match arms):
          // map_each routes through the deletable channel
          def bodyDel(x: Column): Option[(Column, DataType, Option[Column])] = arg match {
            case lam: Lambda => compileDeletable(lam.body, schema,
              lets + (lam.param -> bindElem(x)), env, Some(bindElem(x)), maps, depth)
            case body => compileDeletable(body, schema, lets, env, Some(bindElem(x)), maps, depth)
          }
          // probe once for compilability + result type, then build the
          // HOF with the real lambda variable (deterministic recompile)
          name match {
            case "filter" => bodyWith(lit(null).cast(et)).flatMap { case (_, bt) =>
              if (bt == BooleanType)
                Some((filter(c, (x: Column) => bodyWith(x).get._1), at))
              else None
            }
            case "map_each" => bodyDel(lit(null).cast(et)).map { case (_, bt, delProbe) =>
              delProbe match {
                case None =>
                  (transform(c, (x: Column) => bodyDel(x).get._1), ArrayType(bt))
                case Some(_) =>
                  // elements the interpreter drops (VDelete/VNothing) ride a
                  // per-element keep flag, filtered out before unwrapping
                  val wrapped = transform(c, (x: Column) => {
                    val (v, _, d) = bodyDel(x).get
                    struct(coalesce(d.get, lit(false)).as("_del"), v.as("_val"))
                  })
                  (transform(filter(wrapped, s => !s.getField("_del")),
                    s => s.getField("_val")), ArrayType(bt))
              }
            }
            case _ => None
          }
        }
        case (c, st: StructType) if name == "map_each" => args.headOption.flatMap { arg =>
          // object map_each: static per-field rebuild with the {key, value}
          // entry context (Methods.scala map_each over VectorMap). The field
          // set is fixed at compile time, so bodies that can DELETE entries
          // (dynamic key absence) stay interpreter.
          val fields = st.fields.toVector.map { f =>
            val (vc, vt) =
              if (isIntKind(f.dataType) && f.dataType != LongType)
                (c.getField(f.name).cast(LongType), LongType: DataType)
              else if (isFloatKind(f.dataType) && f.dataType != DoubleType)
                (c.getField(f.name).cast(DoubleType), DoubleType: DataType)
              else (c.getField(f.name), f.dataType)
            val entry: (Column, DataType) =
              (struct(lit(f.name).as("key"), vc.as("value")),
                StructType(Seq(StructField("key", StringType, nullable = false),
                  StructField("value", vt))))
            val bodyC = arg match {
              case lam: Lambda => compileDeletable(lam.body, schema,
                lets + (lam.param -> entry), env, Some(entry), maps, depth)
              case body => compileDeletable(body, schema, lets, env, Some(entry), maps, depth)
            }
            bodyC.collect { case (v, t2, None) => (f.name, v, t2) }
          }
          if (fields.exists(_.isEmpty) || fields.isEmpty) None
          else {
            val fs = fields.flatten
            Some((struct(fs.map { case (n, v, _) => v.as(n) }: _*),
              StructType(fs.map { case (n, _, t2) => StructField(n, t2, nullable = true) })))
          }
        }
        case _ => None // object filter → interpreter
      }
      case "apply" if args.size == 1 =>
        // named-map application: inline the map's `root = <expr>` body with
        // `this` rebound to the target (Methods.scala `apply`: sub-context
        // with self = target, fresh root). Typed recursion descends the
        // schema (walk_json), so it terminates; the depth cap catches
        // same-type self-recursion, which only terminates dynamically.
        for {
          mapName <- litStr(0)
          body <- maps.get(mapName)
          tv <- target
          r <- if (depth >= 32) None
               else compileExpr(body, schema, lets, env, Some(tv), maps, depth + 1)
        } yield r
      case "unescape_html" if args.isEmpty => target.collect {
        // native Catalyst expression (functions.Exprs) — exact twin of the
        // interpreter's entity decoder, stays inside whole-stage codegen
        case (c, StringType) => (graft.functions.Exprs.unescapeHtml(c), StringType)
      }
      case "without" if args.nonEmpty => target.flatMap {
        // drop top-level keys from an object (methods_structured.go
        // `without`): static struct minus named fields. Dotted paths
        // (nested removal) stay interpreter.
        case (c, st: StructType) =>
          val names = args.map {
            case Lit(s: String) if !s.contains('.') => Some(s)
            case _ => None
          }
          if (names.exists(_.isEmpty)) None
          else {
            val drop = names.flatten.toSet
            val rem = st.fields.filterNot(f => drop(f.name))
            if (rem.isEmpty) None // empty-object result → interpreter
            else Some((struct(rem.toIndexedSeq.map(f => c.getField(f.name).as(f.name)): _*),
              StructType(rem)))
          }
        case _ => None
      }
      case "merge" => target.flatMap {
        // object merge with statically DISJOINT key sets: plain field
        // union, source appended after destination. Colliding keys turn
        // into arrays in the reference (methods_structured.go `merge`) —
        // that shape stays interpreter.
        case (c, st: StructType) => args.headOption.flatMap(ce).flatMap {
          case (c2, st2: StructType) if st.fieldNames.toSet.intersect(st2.fieldNames.toSet).isEmpty =>
            val cols = st.fields.toIndexedSeq.map(f => c.getField(f.name).as(f.name)) ++
              st2.fields.toIndexedSeq.map(f => c2.getField(f.name).as(f.name))
            Some((struct(cols: _*), StructType(st.fields ++ st2.fields)))
          case _ => None
        }
        case _ => None
      }
      case "flatten" if args.isEmpty => target.collect {
        // array-of-arrays → one level flattened (methods_structured.go
        // `flatten`); non-array elements stay interpreter (the reference
        // keeps them verbatim, Spark's flatten would reject the type)
        case (c, ArrayType(at @ ArrayType(_, _), _)) =>
          (org.apache.spark.sql.functions.flatten(c), at)
      }
      case "enumerated" if args.isEmpty => target.collect {
        // {index, value} entry per element (methods_structured.go
        // `enumerated`; index is a Long in the interpreter's value model)
        case (c, ArrayType(et, _)) =>
          (transform(c, (x: Column, i: Column) =>
            struct(i.cast(LongType).as("index"), x.as("value"))),
            ArrayType(StructType(Seq(StructField("index", LongType, nullable = false),
              StructField("value", et)))))
      }
      case "sum" if args.isEmpty => target.flatMap {
        // interpreter: all-Long arrays sum as Long, anything else via
        // toNum as Double — the static element type picks the same lane
        case (c, ArrayType(et, _)) if isIntKind(et) =>
          Some((aggregate(c, lit(0L), (acc, x) => acc + x.cast(LongType)), LongType))
        case (c, ArrayType(et, _)) if isFloatKind(et) =>
          Some((aggregate(c, lit(0.0), (acc, x) => acc + x.cast(DoubleType)), DoubleType))
        case _ => None
      }
      case "keys" if args.isEmpty => target.collect {
        // static struct: the key set is compile-time (the interpreter walks
        // the VectorMap in insertion order = struct field order). A null
        // object errors the row there — impossible-error deviation.
        case (_, st: StructType) =>
          (array(st.fieldNames.toIndexedSeq.map(lit): _*), ArrayType(StringType))
      }
      case "number" if args.size == 1 => target.flatMap { case (c, tt) =>
        // `.number(default)`: parse to the double lane (the interpreter
        // may keep a Long, but every compiled consumer — arithmetic,
        // rendering via fmtDouble, comparisons — agrees on the value).
        // Junk/null take the fallback, exactly the interpreter's default
        // path. No-default number() errors the row on junk: interpreter.
        val parsed: Option[Column] = tt match {
          case t2 if isNumeric(t2) => Some(c.cast(DoubleType))
          case BooleanType => Some(when(c, lit(1.0)).otherwise(lit(0.0)))
          case StringType => Some(when(c.rlike(FloatRe), c.cast(DoubleType)))
          case _ => None
        }
        for {
          p <- parsed
          fb <- args.headOption.flatMap(ce)
          if isNumeric(fb._2)
        } yield (coalesce(p, fb._1.cast(DoubleType)), DoubleType)
      }
      case "sort" if args.isEmpty => target.flatMap {
        case (c, at @ ArrayType(et, _)) if et == StringType || et == LongType || et == DoubleType =>
          // interpreter sort() is ascending cmpVals over uniform scalars —
          // array_sort is the exact twin for these element types.
          // sort_by stays interpreter-only: the interpreter's sortWith is
          // STABLE on key ties, array_sort's comparator form is not.
          Some((array_sort(c), at))
        case _ => None
      }
      case "unique" if args.isEmpty => target.collect {
        // interpreter dedups by marshalJson keeping first occurrence;
        // array_distinct is the exact twin for these element types
        // (double stays out: "1.0" vs 1 marshal formatting)
        case (c, at @ ArrayType(et, _)) if et == StringType || et == LongType || et == BooleanType =>
          (array_distinct(c), at)
      }
      case "append" => target.flatMap {
        case (c, at @ ArrayType(et, _)) if args.nonEmpty =>
          // strict same-type appends only (valueEq coercions → interpreter)
          val vs = args.map(a => ce(a).filter(_._2 == et))
          if (vs.exists(_.isEmpty)) None
          else Some((concat(c, array(vs.flatten.map(_._1): _*)), at))
        case _ => None
      }
      case "join" => target.flatMap {
        // interpreter: string elements only, else row error (compiled
        // subset: static element type, so non-string never reaches here)
        case (c, ArrayType(StringType, _)) =>
          val sep = if (args.isEmpty) Some("") else litStr(0)
          sep.map(sp => (array_join(c, sp), StringType))
        case _ => None
      }.orElse {
        // static-sequence targets (key_values chains): interleaved concat;
        // a null element nulls the result (the interpreter errors the row —
        // documented impossible-error deviation for non-null static fields)
        staticSeq(t).flatMap { els =>
          val sep = if (args.isEmpty) Some("") else litStr(0)
          sep.flatMap { sp =>
            if (!els.forall(_._3 == StringType)) None
            else if (els.isEmpty) Some((lit(""), StringType))
            else Some((concat(els.map(_._2)
              .flatMap(c => Seq(lit(sp): Column, c)).drop(1): _*), StringType))
          }
        }
      }
      case "index" => target.flatMap {
        case (c, ArrayType(et, _)) => args.headOption.flatMap(ce).collect {
          case (i, LongType) =>
            // Bloblang index is 0-based with negative-from-end; Spark
            // element_at is 1-based with the same negative convention.
            // try_ variant: out-of-bounds → null (interpreter errors the
            // row — impossible-error deviation, documented above)
            (try_element_at(c, when(i >= 0, i + 1).otherwise(i)
              .cast(IntegerType)), et)
        }
        case _ => None
      }
      case "slice" =>
        // interpreter sliceSeq: python-style clamp — from/until normalized
        // by `if (i<0) max(0,n+i) else min(i,n)`; works on arrays + strings
        def norm(i: Column, n: Column): Column =
          when(i < 0, greatest(lit(0L), n.cast(LongType) + i))
            .otherwise(least(i, n.cast(LongType)))
        target.flatMap {
          case (c, at @ ArrayType(_, _)) =>
            for {
              f <- args.headOption.flatMap(ce).collect { case (i, LongType) => i }
              uOpt <- args.lift(1) match {
                case None => Some(None)
                case Some(a) => ce(a).collect { case (i, LongType) => Some(i) }
              }
            } yield {
              val n = size(c).cast(LongType)
              val from = norm(f, n)
              val until = uOpt.map(norm(_, n)).getOrElse(n)
              (filter(c, (_, i) => i >= from && i < until), at)
            }
          case (c, tt) => toStrCol(c, tt).flatMap { sc =>
            for {
              f <- args.headOption.flatMap(ce).collect { case (i, LongType) => i }
              uOpt <- args.lift(1) match {
                case None => Some(None)
                case Some(a) => ce(a).collect { case (i, LongType) => Some(i) }
              }
            } yield {
              val n = length(sc).cast(LongType)
              val from = norm(f, n)
              val until = uOpt.map(norm(_, n)).getOrElse(n)
              (sc.substr((from + 1).cast(IntegerType),
                greatest(lit(0L), until - from).cast(IntegerType)), StringType)
            }
          }
        }
      // `.catch(v)` replaces only ERRORS, never nulls — and the compiled
      // subset cannot raise runtime errors (static types), so it is the
      // identity here. `.or(v)` replaces null (and error): coalesce.
      case "catch" => target.map { case (c, tt) => (c, tt) }
      case "or" => t match {
        // `.or(v)` on a metadata key with no transport column: the key is
        // statically unset, the whole expression IS the fallback
        case FnCall("meta" | "metadata", Vector(Lit(k: String)))
            if !schema.fieldNames.contains(MetaPrefix + k) =>
          args.headOption.flatMap(ce)
        // `this.or(v)` over a structured document frame: the whole-document
        // struct is BUILT per row (struct() of the content columns) and is
        // never SQL-null, so the fallback is unreachable — the walk_json
        // `this.or(content())` entry shape. Scalar/array-rooted frames keep
        // the general path (there `this` can genuinely be null/unparsable).
        case This if thisCol.isEmpty && !schema.fieldNames.contains(ScalarCol) &&
            !schema.fieldNames.contains(ArrayRootCol) =>
          target
        case _ => for {
          l <- target; r <- args.headOption.flatMap(ce)
          u <- (if (l._2 == r._2) Some((l._1, r._1, l._2))
                else if (isNumeric(l._2) && isNumeric(r._2))
                  Some((l._1.cast(DoubleType), r._1.cast(DoubleType), DoubleType))
                else None)
        } yield (coalesce(u._1, u._2), u._3)
      }
      case _ => None
    }
  }

  private def numUnary(target: Option[(Column, DataType)],
                       f: Column => Column): Option[(Column, DataType)] =
    target.collect { case (c, tt) if isNumeric(tt) => (f(c.cast(DoubleType)), DoubleType) }

  // ===== interpolation templates =============================================

  /** Compile an interpolated field string (`prefix ${!expr} suffix`,
    * [[Interpolate]]) into ONE native Column over the structured frame —
    * no UDF, no JSON re-parse per row. Each dynamic segment renders via
    * the interpreter's rule (Interpolate.render): null/VNothing → "null",
    * scalars via Interp.toStr. None when any segment falls outside the
    * compiled expression subset (caller falls back to the render UDF). */
  def tryCompileTemplate(template: String, schema: StructType,
                         env: Map[String, String] = Map.empty): Option[Column] = {
    val segs = Interpolate.compile(template)
    val parts = segs.map {
      case Interpolate.Static(s) => Some(lit(s))
      case Interpolate.Dyn(_, e) =>
        compileExpr(e, schema, Map.empty, env).flatMap { case (c, t) =>
          toStrCol(c, t).map(sc => coalesce(sc, lit("null")))
        }
    }
    if (parts.exists(_.isEmpty)) None
    else Some(if (parts.isEmpty) lit("") else concat(parts.flatten: _*))
  }

  // ===== switch checks and case chains =======================================

  /** A `check` (a switch case's condition) as a boolean Column, or None
    * outside the compiled subset. The interpreter counts a check that
    * errors as false; compiled, an error is a null, and the caller counts
    * null as false. `&&`, `||` and `!` at the top of the check follow the
    * interpreter's left-to-right evaluation: an operand that errors makes
    * the whole check null, where SQL's three-valued logic would absorb it
    * (`null OR true`). Below that skeleton an error must reach the check
    * as a null, so shapes that can turn a null into a value return None
    * (the caller falls back to the interpreter): `if`, `match`, a nested
    * `&&`/`||`, `.catch` (compiled as the identity), and `==`/`!=` over
    * anything but literals, variables and field paths.
    * `(this.a > 1) == false` with `a` absent is an error interpreted but
    * `null <=> false`, i.e. false, compiled; `this.kind == "x"` cannot
    * error (an absent field is null in both). */
  def tryCompileCheck(e: Expr, schema: StructType): Option[Column] = {
    val err = lit(null).cast(BooleanType)
    def plain(x: Expr): Boolean = x match {
      case Lit(_) | This | MetaRef(_) | VarRef(_) => true
      case Field(t, _) => plain(t)
      case _ => false
    }
    def subExprs(a: Any): Iterator[Expr] = a match {
      case x: Expr => Iterator(x)
      case p: Product => p.productIterator.flatMap(subExprs)
      case xs: Iterable[_] => xs.iterator.flatMap(subExprs)
      case _ => Iterator.empty
    }
    def absorbsNull(x: Expr): Boolean = x match {
      case _: If | _: Match | Bin("&&" | "||", _, _) | MethodCall(_, "catch", _) => true
      case Bin("==" | "!=", l, r) if !(plain(l) && plain(r)) => true
      case p: Product => p.productIterator.flatMap(subExprs).exists(absorbsNull)
      case _ => false
    }
    def strict(x: Expr): Option[Column] = x match {
      case Bin("&&", l, r) =>
        for (lc <- strict(l); rc <- strict(r))
          yield when(lc.isNull, err).when(!lc, lit(false)).otherwise(rc)
      case Bin("||", l, r) =>
        for (lc <- strict(l); rc <- strict(r))
          yield when(lc.isNull, err).when(lc, lit(true)).otherwise(rc)
      case Not(a) => strict(a).map(!_)
      case _ if absorbsNull(x) => None
      case _ => compileExpr(x, schema, Map.empty, Map.empty).collect { case (c, BooleanType) => c }
    }
    strict(e)
  }

  /** A chain of mappings (a switch case's processors) composed into
    * columns over the chain's input frame: `deleted` is TRUE where a step
    * deletes the row (`dropsAll`: a step is `root = deleted()`, so no row
    * survives), `columns` are the output columns (content and
    * `__meta_*`), `schema` their analyzed types, and `ser` the steps'
    * regimes folded from EnvelopeDefault (see [[combineSer]]). */
  final case class Chain(deleted: Option[Column], dropsAll: Boolean,
                         columns: Seq[(String, Column)], schema: StructType, ser: Ser)

  /** Compile each step against the schema the step before it produces,
    * as a sequential compiled pipeline would; None when a step does not
    * compile. The types come from analysing the composed columns over an
    * empty frame of the input schema. */
  def tryCompileChain(steps: Seq[Mapping], schema: StructType): Option[Chain] = {
    lazy val empty = SparkSession.active.createDataFrame(
      java.util.Collections.emptyList[Row](), schema)
    steps.foldLeft(Option(Chain(None, dropsAll = false,
        schema.fieldNames.toSeq.map(n => n -> col(n)), schema, EnvelopeDefault))) { (acc, m) =>
      for {
        ch <- acc
        c <- tryCompile(m, ch.schema)
        step <- c.step
        (del, out) = step.over(ch.columns)
        outSchema <- try Some(empty.select(out.map { case (n, v) => v.as(n) }: _*).schema)
          catch { case _: org.apache.spark.sql.AnalysisException => None }
      } yield Chain((ch.deleted ++ del).reduceOption(_ || _),
        ch.dropsAll || step.filters.contains(lit(true)), out, outSchema, combineSer(ch.ser, c.ser))
    }
  }

  // ===== value-model schema inference ========================================

  /** Infer a static StructType from parsed JSON documents (the Bloblang
    * value model: Long/Double/Boolean/String/Vector/VectorMap/null), or
    * None when the documents are not uniformly-typed objects. Lets callers
    * with schemaless JSON (golden tests, ad-hoc configs) reach the
    * compiled path instead of defaulting to the interpreter. */
  def inferSchema(docs: Seq[Any]): Option[StructType] = {
    def tpe(v: Any): Option[DataType] = v match {
      case null | Bloblang.VNothing => Some(NullType)
      case _: String => Some(StringType)
      case _: Long => Some(LongType)
      case _: Double => Some(DoubleType)
      case _: Boolean => Some(BooleanType)
      case a: Vector[Any @unchecked] =>
        a.foldLeft(Option(NullType: DataType)) { (acc, e) =>
          for { t1 <- acc; t2 <- tpe(e); u <- unifyT(t1, t2) } yield u
        }.map(ArrayType(_, containsNull = true))
      case m: scala.collection.immutable.VectorMap[String @unchecked, Any @unchecked] =>
        val fields = m.toSeq.map { case (k, fv) => tpe(fv).map(StructField(k, _, nullable = true)) }
        if (fields.exists(_.isEmpty)) None else Some(StructType(fields.flatten))
      case _ => None
    }
    def unifyT(a: DataType, b: DataType): Option[DataType] = (a, b) match {
      case (x, y) if x == y => Some(x)
      case (NullType, x) => Some(x)
      case (x, NullType) => Some(x)
      case (LongType, DoubleType) | (DoubleType, LongType) => Some(DoubleType)
      case (ArrayType(x, _), ArrayType(y, _)) => unifyT(x, y).map(ArrayType(_, true))
      case (x: StructType, y: StructType) =>
        val keys = (x.fieldNames ++ y.fieldNames).distinct
        val fs = keys.map { k =>
          (x.find(_.name == k), y.find(_.name == k)) match {
            case (Some(f1), Some(f2)) => unifyT(f1.dataType, f2.dataType).map(StructField(k, _, true))
            case (Some(f1), None) => Some(StructField(k, f1.dataType, true))
            case (None, Some(f2)) => Some(StructField(k, f2.dataType, true))
            case _ => None
          }
        }
        if (fs.exists(_.isEmpty)) None else Some(StructType(fs.flatten.toSeq))
      case _ => None
    }
    val merged = docs.foldLeft(Option(new StructType(): DataType)) { (acc, d) =>
      for {
        t1 <- acc
        t2 <- tpe(d)
        st2 <- t2 match { case s: StructType => Some(s); case _ => None }
        u <- unifyT(t1, st2)
      } yield u
    }
    def scrubNull(s: StructType): StructType =
      // a NullType field never resolved: give it the string fallback the
      // JSON reader would (value is always null there anyway); an EMPTY
      // object document is fine — mappings over `{}` build output purely
      // from literals/env()
      StructType(s.fields.map(f => if (f.dataType == NullType) f.copy(dataType = StringType) else f))
    merged.collect { case s: StructType => scrubNull(s) }.orElse {
      // ARRAY-rooted documents ([...] at the top): one ArrayRootCol column
      // holding the array; `this` compiles to it (github-releases shape)
      docs.foldLeft(Option(NullType: DataType)) { (acc, d) =>
        for {
          t1 <- acc
          t2 <- tpe(d)
          at2 <- t2 match { case a: ArrayType => Some(a); case _ => None }
          u <- unifyT(t1, at2)
        } yield u
      }.collect { case at: ArrayType =>
        val el = at.elementType match { case s: StructType => scrubNull(s); case o => o }
        StructType(Seq(StructField(ArrayRootCol, ArrayType(el, containsNull = true),
          nullable = true)))
      }
    }
  }
}
