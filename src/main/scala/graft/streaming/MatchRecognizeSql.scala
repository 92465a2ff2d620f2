package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

import graft.streaming.PatternMatch._

/** SQL-syntax entry for MATCH_RECOGNIZE — a clause parser and expression
  * compiler onto the generic NFA ([[PatternMatch]]), covering the
  * reference's IT-case grammar surface (reference:
  * flink-table-planner-blink StreamExecMatch.scala:68 compiles the
  * parsed clause, MatchCodeGenerator.scala:82 codegens DEFINE/MEASURES,
  * and stream/sql/MatchRecognizeITCase.scala exercises the grammar),
  * while Spark's parser has no MATCH_RECOGNIZE production at all.
  *
  * One entry, [[sqlDf]]: ARBITRARY DataFrames, schema-driven field
  * registry, composite or empty `PARTITION BY`, arbitrary `ORDER BY`
  * columns with ASC/DESC (reference MatchRecognizeITCase.scala:169-183
  * partitions a 4-column table by two keys; :230 orders by three),
  * batch AND streaming through the one executor
  * [[PatternMatch.matchRows]].
  *
  * Grammar (the reference IT-case surface):
  *
  * {{{
  * SELECT * FROM <table> MATCH_RECOGNIZE (
  *   [PARTITION BY col [, col ...]]
  *   ORDER BY col [ASC|DESC] [, ...]
  *   [MEASURES [FINAL|RUNNING] <expr> AS <alias> [, ...]]
  *   [ONE ROW PER MATCH | ALL ROWS PER MATCH]
  *   [AFTER MATCH SKIP PAST LAST ROW | SKIP TO NEXT ROW
  *     | SKIP TO FIRST <var> | SKIP TO LAST <var>]
  *   PATTERN ( <var><quant> ... )  -- quant: ? + * ?? +? *? {n} {n,} {n,m}
  *   [WITHIN INTERVAL '<n>' <SECOND|MINUTE|HOUR|DAY>]
  *   [DEFINE <var> AS <bool-expr> [, ...]]
  * )
  * }}}
  *
  * The expression language covers the reference IT cases: AND/OR/NOT,
  * comparisons, IS [NOT] NULL, [NOT] LIKE, arithmetic (+ - * /), string
  * and numeric literals, bare fields (DEFINE: the current row; MEASURES:
  * the universal variable's last row), `VAR.field`, cross-variable
  * navigation `FIRST(expr[, n])` / `LAST(expr[, n])` over rows already
  * bound in the attempt (RUNNING semantics — the row under DEFINE
  * evaluation counts as bound, so `LAST(DOWN.price, 1)` is the
  * previous DOWN row and `LAST(A.name, 2) IS NULL` holds when A bound
  * fewer than 3 rows; MatchRecognizeITCase.scala:178-182,404-409),
  * input navigation `PREV(expr[, n])` / `NEXT(expr[, n])` at arbitrary
  * offsets in both modes (r14 — the streaming executor retains the last
  * k consumed rows as the predecessor marker, k = the deepest PREV
  * offset declared; r15 — also in MEASURES, anchored at the match's
  * LAST row under FINAL semantics and at each output row under ALL
  * ROWS, navigating the contiguous input window captured with the
  * match; r16 — NEXT in MEASURES streams too, via DELAYED EMISSION:
  * the executor holds an adjudicated match until its successor rows
  * close, then emits), aggregates `COUNT(*)`, `COUNT(V.*)`,
  * `COUNT/SUM/MIN/MAX/AVG(expr)` (COUNT(expr) skips null evaluations,
  * per SQL), `CLASSIFIER()` / `MATCH_NUMBER()`, and `MATCH_ROWTIME()`
  * (the last matched row's primary order value, the reference's
  * MatchRowTimeFunction — enables windowed GROUP BY over the clause
  * result, MatchRecognizeITCase.testWindowedGroupingAppliedTo...), and
  * the SQL:2016 `FINAL` / `RUNNING` modifiers on an aggregate or
  * FIRST/LAST in MEASURES (`FINAL COUNT(B.*)` on an ALL ROWS row is the
  * whole match's count; DEFINE rejects FINAL at parse time).
  *
  * Bounded quantifiers `{n}` / `{n,}` / `{n,m}` carry the reference's
  * POSSESSIVE-greedy semantics (see [[PatternMatch.Times]]): the
  * IT-case `PATTERN (DOWN{2,} UP)` expectations are only reproducible
  * without backtracking into the run. One documented preferment
  * divergence: where an optional/greedy step can either TAKE a row or
  * be skipped so a later step completes the match on that same row
  * (e.g. `... C D? E` when a row satisfies both D and E), graft keeps
  * SQL:2016 static greedy preferment (D takes — Trino/Oracle
  * behavior), while the reference's streaming NFA emits the moment any
  * branch reaches a final state, leaving D empty
  * (`MatchRecognizeITCase.testAggregates`; pinned with the full
  * analysis in `MatchRecognizeAnySpec`).
  *
  * ONE ROW PER MATCH output is partition columns + MEASURES aliases
  * (FINAL semantics). ALL ROWS PER MATCH outputs every input column +
  * the measures, RUNNING per matched row unless marked FINAL. Anything
  * outside the grammar fails loudly at parse time rather than
  * mis-executing.
  */
object MatchRecognizeSql {

  // =====================================================================
  // Expression AST
  // =====================================================================
  private sealed trait Ex
  private final case class Lit(v: Any, dt: DataType) extends Ex
  /** Bare field of the context row (DEFINE: the current row; inside a
    * navigation: the navigated row). */
  private final case class CurField(field: String) extends Ex
  /** `VAR.field` placeholder — rewritten during parse finalization to
    * either a CurField (inside its own navigation) or LAST(v, 0). */
  private final case class VarField(variable: String, field: String) extends Ex
  /** FIRST/LAST logical navigation over bound rows. variable None = the
    * universal row-pattern variable (all bound rows in order). */
  private final case class Nav(first: Boolean, variable: Option[String],
      expr: Ex, off: Int) extends Ex
  /** PREV/NEXT physical navigation over the key's input order. */
  private final case class InputNav(dir: Int, expr: Ex, off: Int) extends Ex
  private final case class Arith(op: Char, l: Ex, r: Ex) extends Ex
  private final case class Neg(e: Ex) extends Ex
  private final case class Cmp(op: String, l: Ex, r: Ex) extends Ex
  private final case class IsNullEx(e: Ex, negated: Boolean) extends Ex
  private final case class LikeEx(e: Ex, pattern: String, negated: Boolean) extends Ex
  private final case class AndEx(l: Ex, r: Ex) extends Ex
  private final case class OrEx(l: Ex, r: Ex) extends Ex
  private final case class NotEx(e: Ex) extends Ex
  /** fn in COUNT/SUM/MIN/MAX/AVG; expr None = COUNT(*) / COUNT(V.*). */
  private final case class AggEx(fn: String, variable: Option[String],
      expr: Option[Ex]) extends Ex
  private case object ClassifierEx extends Ex
  private case object MatchNumberEx extends Ex
  /** `MATCH_ROWTIME()` — parse-time sugar, rewritten during parse
    * finalization to universal `LAST(<primary order column>)` (the last
    * matched row's event time, the reference's
    * `MatchRowTimeFunction`). */
  private case object MatchRowtimeEx extends Ex
  /** SQL:2016 `FINAL` on an aggregate or FIRST/LAST navigation in
    * MEASURES: evaluated over the WHOLE match's bindings even on an
    * ALL ROWS PER MATCH row, where every measure is RUNNING by default.
    * (`RUNNING` parses to the bare expression.) */
  private final case class FinalEx(e: Ex) extends Ex

  private final case class Parsed(partCols: Seq[String],
      orderKeys: Seq[(String, Boolean)],
      measures: Seq[(String, Ex)], allRows: Boolean, skip: SkipStrategy,
      pattern: Seq[(String, Quant)], within: Option[java.time.Duration],
      defines: Map[String, Ex])

  // =====================================================================
  // Field access (schema-driven registry; reference MatchRecognizeITCase
  // runs the clause over arbitrary registered tables)
  // =====================================================================
  private final class RowAccess(schema: StructType) extends Serializable {
    private val byLower =
      schema.fieldNames.map(_.toLowerCase).zipWithIndex.toMap
    def indexOf(name: String): Option[Int] = byLower.get(name.toLowerCase)
    def canonical(i: Int): String = schema.fieldNames(i)
    def dataType(i: Int): DataType = schema.fields(i).dataType
    def fieldNames: Seq[String] = schema.fieldNames.toSeq
  }

  // =====================================================================
  // Evaluation
  // =====================================================================
  /** Sentinel for a value that CANNOT BE KNOWN YET in streaming (a NEXT
    * reference past a non-final buffer tail). Propagates through every
    * operator — even IS NULL — and surfaces as Undecided at a predicate
    * root, so the NFA holds the row instead of mis-deciding. */
  private case object Pending

  /** Evaluation environment: the pinned context row (for bare fields and
    * navigated sub-expressions), the attempt/match bindings (`boundF`,
    * RUNNING; `finalF`, the whole match for FINAL), and — in DEFINE
    * position — the key's input order. */
  private final class Env(
      val cur: Option[Row],
      boundF: Option[String] => IndexedSeq[Row],
      inputF: Int => Option[Row],
      pendingF: Int => Boolean,
      val classifier: String,
      val matchNo: Long,
      finalF: Option[String] => IndexedSeq[Row]) {
    def bound(v: Option[String]): IndexedSeq[Row] = boundF(v)
    def inputAt(off: Int): Option[Row] = inputF(off)
    def inputPending(off: Int): Boolean = pendingF(off)
    def withCur(r: Row): Env = new Env(Some(r), boundF, inputF, pendingF,
      classifier, matchNo, finalF)
    def finalView: Env =
      new Env(cur, finalF, inputF, pendingF, classifier, matchNo, finalF)
  }

  private type Eval = Env => Any

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

  /** Static result type of an expression — drives the output schema and
    * the arithmetic mode. Integral arithmetic stays exact in Long; any
    * fractional/decimal operand promotes to Double (documented
    * simplification: decimal-typed MEASURE arithmetic returns DOUBLE). */
  private def typeOf(e: Ex, acc: RowAccess): DataType = e match {
    case Lit(_, dt) => dt
    case CurField(f) => acc.dataType(fieldIdx(acc, f))
    case VarField(_, f) => acc.dataType(fieldIdx(acc, f))
    case Nav(_, _, inner, _) => typeOf(inner, acc)
    case InputNav(_, inner, _) => typeOf(inner, acc)
    case Neg(inner) =>
      if (isIntegral(typeOf(inner, acc))) LongType else DoubleType
    case Arith(_, l, r) =>
      if (isIntegral(typeOf(l, acc)) && isIntegral(typeOf(r, acc))) LongType
      else DoubleType
    case AggEx("COUNT", _, _) => LongType
    case AggEx("AVG", _, _) => DoubleType
    case AggEx("SUM", _, Some(inner)) =>
      if (isIntegral(typeOf(inner, acc))) LongType else DoubleType
    case AggEx(_, _, Some(inner)) => typeOf(inner, acc) // MIN/MAX
    case AggEx(fn, _, None) => sys.error(s"$fn requires an argument")
    case ClassifierEx => StringType
    case MatchNumberEx => LongType
    case FinalEx(inner) => typeOf(inner, acc)
    case _: Cmp | _: IsNullEx | _: LikeEx | _: AndEx | _: OrEx | _: NotEx =>
      BooleanType
  }

  private def fieldIdx(acc: RowAccess, f: String): Int =
    acc.indexOf(f).getOrElse(sys.error(
      s"unknown field '$f' (have: ${acc.fieldNames.mkString(", ")})"))

  private def toD(a: Any): Double = a match {
    case d: Double => d
    case f: Float => f.toDouble
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case s: Short => s.toDouble
    case b: Byte => b.toDouble
    case d: java.math.BigDecimal => d.doubleValue()
    case d: BigDecimal => d.toDouble
    case other => sys.error(
      s"cannot use ${other.getClass.getSimpleName} numerically")
  }
  private def toL(a: Any): Long = a match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case other => sys.error(
      s"cannot use ${other.getClass.getSimpleName} as an integer")
  }

  /** SQL ordering comparison; both sides non-null. */
  private def cmpVals(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) => x.compareTo(y)
    case (x: Timestamp, y: Timestamp) => x.compareTo(y)
    case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y)
    case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
    case _ => java.lang.Double.compare(toD(a), toD(b))
  }

  private def likeRegex(pattern: String): java.util.regex.Pattern = {
    val sb = new StringBuilder
    pattern.foreach {
      case '%' => sb.append(".*")
      case '_' => sb.append('.')
      case c => sb.append(java.util.regex.Pattern.quote(c.toString))
    }
    java.util.regex.Pattern.compile(sb.toString, java.util.regex.Pattern.DOTALL)
  }

  /** Compile to a closure over Env. Values follow SQL 3-valued logic:
    * null propagates; Pending (streaming-undecidable) dominates except
    * where Kleene logic already decides (false AND x, true OR x).
    *
    * `lenient` marks positions whose value feeds the predicate root only
    * through AND/OR (never through NOT / IS NULL / a comparison, which all
    * distinguish FALSE from NULL). There the root maps FALSE and NULL to
    * the same outcome (Unsat), so AND(Pending, null) — whose truth value
    * is confined to {FALSE, NULL} — is already decided and must not hold
    * the NFA buffer as Undecided (advice r10). */
  private def compile(e: Ex, acc: RowAccess,
      lenient: Boolean = false): Eval = e match {
    case Lit(v, _) => _ => v
    case CurField(f) =>
      val i = fieldIdx(acc, f)
      env => env.cur.getOrElse(sys.error(
        s"field '$f' has no context row here")).get(i)
    case VarField(v, f) =>
      // post-finalization this only remains as sugar for LAST(v, 0)
      compile(Nav(first = false, Some(v), CurField(f), 0), acc)
    case Nav(first, variable, inner, off) =>
      val fInner = compile(inner, acc)
      env => {
        val rows = env.bound(variable)
        val idx = if (first) off else rows.length - 1 - off
        if (idx < 0 || idx >= rows.length) null
        else fInner(env.withCur(rows(idx)))
      }
    case InputNav(dir, inner, off) =>
      val fInner = compile(inner, acc)
      env => env.inputAt(dir * off) match {
        case Some(r) => fInner(env.withCur(r))
        case None => if (dir > 0 && env.inputPending(off)) Pending else null
      }
    case Neg(inner) =>
      val f = compile(inner, acc)
      val intg = isIntegral(typeOf(inner, acc))
      env => f(env) match {
        case null => null
        case Pending => Pending
        case v => if (intg) -toL(v) else -toD(v)
      }
    case Arith(op, l, r) =>
      val (fl, fr) = (compile(l, acc), compile(r, acc))
      val intg = isIntegral(typeOf(l, acc)) && isIntegral(typeOf(r, acc))
      env => (fl(env), fr(env)) match {
        case (null, _) | (_, null) => null
        case (Pending, _) | (_, Pending) => Pending
        case (x, y) =>
          if (intg) {
            // fail loudly like Calcite's runtime: integer division by zero
            // and silent Long wraparound both raise, instead of yielding a
            // NULL that quietly un-matches the predicate
            val (a, b) = (toL(x), toL(y))
            op match {
              case '+' => Math.addExact(a, b)
              case '-' => Math.subtractExact(a, b)
              case '*' => Math.multiplyExact(a, b)
              case '/' =>
                if (b == 0) throw new ArithmeticException(
                  "MATCH_RECOGNIZE: integer division by zero in DEFINE/MEASURES")
                else a / b
            }
          } else {
            val (a, b) = (toD(x), toD(y))
            op match {
              case '+' => a + b
              case '-' => a - b
              case '*' => a * b
              case '/' => a / b
            }
          }
      }
    case Cmp(op, l, r) =>
      val (fl, fr) = (compile(l, acc), compile(r, acc))
      env => (fl(env), fr(env)) match {
        case (null, _) | (_, null) => null
        case (Pending, _) | (_, Pending) => Pending
        case (x, y) =>
          val c = cmpVals(x, y)
          val b = op match {
            case "=" => c == 0
            case "<>" | "!=" => c != 0
            case "<" => c < 0
            case "<=" => c <= 0
            case ">" => c > 0
            case ">=" => c >= 0
          }
          java.lang.Boolean.valueOf(b)
      }
    case IsNullEx(inner, negated) =>
      val f = compile(inner, acc)
      env => f(env) match {
        case Pending => Pending // cannot know yet whether it will be null
        case v => java.lang.Boolean.valueOf((v == null) != negated)
      }
    case LikeEx(inner, pattern, negated) =>
      val f = compile(inner, acc)
      val re = likeRegex(pattern)
      env => f(env) match {
        case null => null
        case Pending => Pending
        case s: String => java.lang.Boolean.valueOf(re.matcher(s).matches() != negated)
        case other => sys.error(s"LIKE over non-string ${other.getClass.getSimpleName}")
      }
    case AndEx(l, r) =>
      val (fl, fr) = (compile(l, acc, lenient), compile(r, acc, lenient))
      env => {
        val a = fl(env)
        if (a == java.lang.Boolean.FALSE) java.lang.Boolean.FALSE
        else {
          val b = fr(env)
          if (b == java.lang.Boolean.FALSE) java.lang.Boolean.FALSE
          // Pending AND null can only resolve to FALSE or NULL; when the
          // root folds those together (lenient), the conjunction is
          // already decided — emit null instead of withholding as Pending
          else if (lenient && (a == Pending && b == null ||
            a == null && b == Pending)) null
          else if (a == Pending || b == Pending) Pending
          else if (a == null || b == null) null
          else java.lang.Boolean.TRUE
        }
      }
    case OrEx(l, r) =>
      // OR(Pending, null) stays Pending even at the root: the Pending side
      // may yet resolve TRUE (Sat) while null pins the alternative at
      // Unsat — genuinely undecided, unlike the AND dual
      val (fl, fr) = (compile(l, acc, lenient), compile(r, acc, lenient))
      env => {
        val a = fl(env)
        if (a == java.lang.Boolean.TRUE) java.lang.Boolean.TRUE
        else {
          val b = fr(env)
          if (b == java.lang.Boolean.TRUE) java.lang.Boolean.TRUE
          else if (a == Pending || b == Pending) Pending
          else if (a == null || b == null) null
          else java.lang.Boolean.FALSE
        }
      }
    case NotEx(inner) =>
      val f = compile(inner, acc)
      env => f(env) match {
        case null => null
        case Pending => Pending
        case b: java.lang.Boolean => java.lang.Boolean.valueOf(!b)
        case other => sys.error(s"NOT over non-boolean $other")
      }
    case AggEx(fn, variable, exprOpt) =>
      val fInner = exprOpt.map(compile(_, acc))
      val intg = exprOpt.forall(ex => isIntegral(typeOf(ex, acc)))
      env => {
        val rows = env.bound(variable)
        fn match {
          case "COUNT" => fInner match {
            case None => rows.size.toLong
            // COUNT(expr) skips rows where the expression is null (SQL;
            // the old front-end silently counted them — advice r9)
            case Some(f) =>
              rows.count(r => f(env.withCur(r)) != null).toLong
          }
          case "SUM" =>
            val vs = rows.flatMap(r => Option(fInner.get(env.withCur(r))))
            if (vs.isEmpty) null
            else if (intg) vs.map(toL).sum
            else vs.map(toD).sum
          case "AVG" =>
            val vs = rows.flatMap(r => Option(fInner.get(env.withCur(r))))
            if (vs.isEmpty) null else vs.map(toD).sum / vs.size
          case "MIN" | "MAX" =>
            val vs = rows.flatMap(r => Option(fInner.get(env.withCur(r))))
            if (vs.isEmpty) null
            else if (fn == "MIN") vs.reduce((a, b) => if (cmpVals(a, b) <= 0) a else b)
            else vs.reduce((a, b) => if (cmpVals(a, b) >= 0) a else b)
        }
      }
    case ClassifierEx => env => env.classifier
    case MatchNumberEx => env => env.matchNo
    case FinalEx(inner) =>
      val f = compile(inner, acc)
      env => f(env.finalView)
  }

  /** A compiled DEFINE predicate: boolean root collapsed to the NFA's
    * tri-state (TRUE → Sat; FALSE/NULL → Unsat; Pending → Undecided). */
  private def compilePred(e: Ex, acc: RowAccess)
      : MatchCtx => PredRes = {
    val f = compile(e, acc, lenient = true)
    ctx => f(defineEnv(ctx)) match {
      case java.lang.Boolean.TRUE => Sat
      case Pending => Undecided
      case _ => Unsat
    }
  }

  private def defineEnv(ctx: MatchCtx): Env =
    new Env(Some(ctx.row), ctx.boundRows, ctx.inputAt,
      ctx.pendingAt, "", 0L, ctx.boundRows)

  // =====================================================================
  // AST walks (validation)
  // =====================================================================
  private def children(e: Ex): Seq[Ex] = e match {
    case Nav(_, _, i, _) => Seq(i)
    case InputNav(_, i, _) => Seq(i)
    case Arith(_, l, r) => Seq(l, r)
    case Neg(i) => Seq(i)
    case Cmp(_, l, r) => Seq(l, r)
    case IsNullEx(i, _) => Seq(i)
    case LikeEx(i, _, _) => Seq(i)
    case AndEx(l, r) => Seq(l, r)
    case OrEx(l, r) => Seq(l, r)
    case NotEx(i) => Seq(i)
    case AggEx(_, _, i) => i.toSeq
    case FinalEx(i) => Seq(i)
    case _ => Nil
  }
  private def walk(e: Ex)(f: Ex => Unit): Unit = {
    f(e); children(e).foreach(walk(_)(f))
  }
  private def referencedVars(e: Ex): Set[String] = {
    val b = Set.newBuilder[String]
    walk(e) {
      case Nav(_, Some(v), _, _) => b += v
      case VarField(v, _) => b += v
      case AggEx(_, Some(v), _) => b += v
      case _ => ()
    }
    b.result()
  }
  /** Deepest PREV offset in a DEFINE — the streaming executor sizes
    * its O(k) predecessor marker by it (r14: arbitrary physical
    * offsets on streams, matching the reference CEP). */
  private def maxPrevOffset(e: Ex): Int = {
    var m = 0
    walk(e) {
      case InputNav(d, _, off) if d < 0 => m = math.max(m, off)
      case _ => ()
    }
    m
  }
  private def usesInputNav(e: Ex): Boolean = {
    var b = false
    walk(e) { case _: InputNav => b = true; case _ => () }
    b
  }
  /** Deepest physical (PREV, NEXT) offsets across a set of expressions —
    * sizes the per-match navigation context MEASURES-side PREV/NEXT
    * reads (r15). */
  private def navDepths(es: Iterable[Ex]): (Int, Int) = {
    var (p, n) = (0, 0)
    es.foreach(walk(_) {
      case InputNav(d, _, off) if d < 0 => p = math.max(p, off)
      case InputNav(d, _, off) if d > 0 => n = math.max(n, off)
      case _ => ()
    })
    (p, n)
  }

  // =====================================================================
  // Tokenizer (unchanged model: words, numbers, 'strings', operators)
  // =====================================================================
  private def tokenize(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'') { // string literal, '' escapes
        val sb = new StringBuilder("'")
        i += 1
        var closed = false
        while (i < s.length && !closed) {
          val d = s.charAt(i)
          if (d == '\'' && i + 1 < s.length && s.charAt(i + 1) == '\'') {
            sb.append('\''); i += 2
          } else if (d == '\'') { closed = true; i += 1 }
          else { sb.append(d); i += 1 }
        }
        require(closed, s"unterminated string literal in: $s")
        out += sb.append('\'').result()
      } else if (c.isLetter || c == '_') {
        val j = s.indexWhere(ch => !(ch.isLetterOrDigit || ch == '_'), i)
        val end = if (j < 0) s.length else j
        out += s.substring(i, end); i = end
      } else if (c.isDigit) {
        var j = i
        while (j < s.length && (s.charAt(j).isDigit || s.charAt(j) == '.')) j += 1
        out += s.substring(i, j); i = j
      } else if ((c == '<' || c == '>' || c == '!') && i + 1 < s.length &&
          (s.charAt(i + 1) == '=' || (c == '<' && s.charAt(i + 1) == '>'))) {
        out += s.substring(i, i + 2); i += 2
      } else { out += c.toString; i += 1 }
    }
    out.result()
  }

  // =====================================================================
  // Parser
  // =====================================================================
  private final class P(toks: Vector[String]) {
    var i = 0
    def peek: String = if (i < toks.length) toks(i) else ""
    def peekAt(k: Int): String = if (i + k < toks.length) toks(i + k) else ""
    def peekIs(kw: String): Boolean = peek.equalsIgnoreCase(kw)
    def next(): String = { val t = peek; i += 1; t }
    def expect(kw: String): String = {
      require(peekIs(kw), s"expected '$kw' but found '$peek' (token $i)")
      next()
    }
    def accept(kw: String): Boolean =
      if (peekIs(kw)) { i += 1; true } else false
    def acceptWords(kws: String*): Boolean = {
      if (kws.indices.forall(k => i + k < toks.length &&
          toks(i + k).equalsIgnoreCase(kws(k)))) { i += kws.length; true }
      else false
    }
    def ident(): String = {
      val t = next()
      require(t.nonEmpty && (t.charAt(0).isLetter || t.charAt(0) == '_'),
        s"expected identifier, found '$t'")
      t
    }
    def intLit(): Int = {
      val t = next()
      require(t.nonEmpty && t.forall(_.isDigit), s"expected integer, found '$t'")
      t.toInt
    }
  }

  private val ReservedInExpr = Set("AND", "OR", "NOT", "IS", "NULL", "LIKE",
    "TRUE", "FALSE", "AS")

  /** Parse one clause; measure/define expressions are finalized
    * (VarField sugar resolved, variables validated) afterward. */
  private def parse(text: String): Parsed = {
    val p = new P(tokenize(text))
    if (p.accept("SELECT")) { p.expect("*"); p.expect("FROM"); p.ident() }
    p.expect("MATCH_RECOGNIZE"); p.expect("(")

    var partCols = Seq.empty[String]
    if (p.acceptWords("PARTITION", "BY")) {
      val b = Seq.newBuilder[String]
      b += p.ident()
      while (p.accept(",")) b += p.ident()
      partCols = b.result()
    }

    p.expect("ORDER"); p.expect("BY")
    val ordB = Seq.newBuilder[(String, Boolean)]
    def orderKey(): Unit = {
      val c = p.ident()
      val asc = if (p.accept("DESC")) false else { p.accept("ASC"); true }
      ordB += ((c, asc))
    }
    orderKey()
    while (p.accept(",")) orderKey()
    val orderKeys = ordB.result()

    var measures = Seq.empty[(String, Ex)]
    if (p.accept("MEASURES")) {
      val ms = Seq.newBuilder[(String, Ex)]
      var more = true
      while (more) {
        val ex = parseExpr(p)
        p.expect("AS")
        val alias = p.ident()
        ms += ((alias, ex))
        more = p.accept(",")
      }
      measures = ms.result()
    }

    var allRows = false
    if (p.acceptWords("ONE", "ROW", "PER", "MATCH")) ()
    else if (p.acceptWords("ALL", "ROWS", "PER", "MATCH")) allRows = true

    var skip: SkipStrategy = SkipPastLastRow
    if (p.acceptWords("AFTER", "MATCH", "SKIP")) {
      if (p.acceptWords("PAST", "LAST", "ROW")) skip = SkipPastLastRow
      else if (p.acceptWords("TO", "NEXT", "ROW")) skip = SkipToNextRow
      else if (p.acceptWords("TO", "FIRST")) skip = SkipToFirst(p.ident())
      else if (p.acceptWords("TO", "LAST")) skip = SkipToLast(p.ident())
      else sys.error(s"unsupported AFTER MATCH SKIP form at '${p.peek}'")
    }

    p.expect("PATTERN"); p.expect("(")
    val pat = Seq.newBuilder[(String, Quant)]
    while (!p.peekIs(")")) {
      val v = p.ident()
      val q: Quant =
        if (p.accept("+")) { if (p.accept("?")) PlusReluctant else Plus }
        else if (p.accept("*")) { if (p.accept("?")) StarReluctant else Star }
        else if (p.accept("?")) { if (p.accept("?")) OptReluctant else Opt }
        else if (p.accept("{")) {
          val min = p.intLit()
          val (mn, mx) =
            if (p.accept(",")) {
              if (p.peekIs("}")) (min, None)
              else (min, Some(p.intLit()))
            } else (min, Some(min)) // {n} = exactly n
          p.expect("}")
          mx.foreach(m => require(m >= mn && m > 0,
            s"invalid bounded quantifier {$mn,$m}"))
          // `{n,m}?` (r14): the reluctant combination — shortest
          // in-range binding first, Flink CEP's times(n,m).reluctant;
          // the bare form keeps the reference's possessive-greedy
          // semantics (see PatternMatch.Times)
          if (p.accept("?")) TimesReluctant(mn, mx) else Times(mn, mx)
        }
        else One
      pat += ((v, q))
    }
    p.expect(")")
    val patternVars = pat.result()
    require(patternVars.nonEmpty, "PATTERN must name at least one variable")

    var within: Option[java.time.Duration] = None
    if (p.accept("WITHIN")) {
      p.expect("INTERVAL")
      val lit = p.next()
      require(lit.startsWith("'") && lit.endsWith("'"),
        s"WITHIN INTERVAL needs a quoted count, got $lit")
      val n = lit.substring(1, lit.length - 1).trim.toLong
      val unit = p.ident().toUpperCase.stripSuffix("S")
      within = Some(unit match {
        case "SECOND" => java.time.Duration.ofSeconds(n)
        case "MINUTE" => java.time.Duration.ofMinutes(n)
        case "HOUR" => java.time.Duration.ofHours(n)
        case "DAY" => java.time.Duration.ofDays(n)
        case u => sys.error(s"unsupported WITHIN unit '$u'")
      })
    }

    var defines = Map.empty[String, Ex]
    if (p.accept("DEFINE")) {
      var more = true
      while (more) {
        val v = p.ident()
        p.expect("AS")
        defines += (v -> parseExpr(p))
        more = p.accept(",")
      }
    }
    p.expect(")")
    p.accept("AS") // optional trailing alias
    if (p.peek.nonEmpty && p.peek.matches("[A-Za-z_][A-Za-z0-9_]*")) p.next()
    require(p.peek.isEmpty,
      s"trailing tokens after MATCH_RECOGNIZE: '${p.peek}'")

    val knownVars = patternVars.map(_._1).toSet
    defines.keys.foreach(v => require(knownVars(v),
      s"DEFINE names '$v' which is not a PATTERN variable ($knownVars)"))
    // SQL:2016: a DEFINE sees only the rows bound so far — FINAL is a
    // MEASURES-only modifier
    defines.foreach { case (v, ex) =>
      var fin = false
      walk(ex) { case _: FinalEx => fin = true; case _ => () }
      require(!fin, s"FINAL is only allowed in MEASURES (found in DEFINE $v)")
    }
    (defines.values ++ measures.map(_._2)).foreach { ex =>
      referencedVars(ex).foreach(v => require(knownVars(v),
        s"expression references '$v' which is not a PATTERN variable " +
          s"($knownVars)"))
    }
    // MATCH_ROWTIME() sugar: the last matched row's primary order value
    val orderCol = orderKeys.headOption.map(_._1).getOrElse("")
    def deRowtime(ex: Ex): Ex = ex match {
      case MatchRowtimeEx =>
        require(orderCol.nonEmpty, "MATCH_ROWTIME() requires an ORDER BY")
        Nav(first = false, variable = None, CurField(orderCol), 0)
      case Arith(op, l, r) => Arith(op, deRowtime(l), deRowtime(r))
      case Neg(e) => Neg(deRowtime(e))
      case Cmp(op, l, r) => Cmp(op, deRowtime(l), deRowtime(r))
      case IsNullEx(e, n) => IsNullEx(deRowtime(e), n)
      case LikeEx(e, pat, n) => LikeEx(deRowtime(e), pat, n)
      case AndEx(l, r) => AndEx(deRowtime(l), deRowtime(r))
      case OrEx(l, r) => OrEx(deRowtime(l), deRowtime(r))
      case NotEx(e) => NotEx(deRowtime(e))
      case other => other // leaves + Nav/InputNav/AggEx (no nesting)
    }
    Parsed(partCols, orderKeys, measures.map { case (a, e) =>
      (a, deRowtime(e)) }, allRows, skip, patternVars,
      within, defines.map { case (v, e) => (v, deRowtime(e)) })
  }

  // ---- expression parsing (precedence climbing) ----
  private def parseExpr(p: P): Ex = parseOr(p)

  private def parseOr(p: P): Ex = {
    var l = parseAnd(p)
    while (p.accept("OR")) l = OrEx(l, parseAnd(p))
    l
  }
  private def parseAnd(p: P): Ex = {
    var l = parseNot(p)
    while (p.accept("AND")) l = AndEx(l, parseNot(p))
    l
  }
  private def parseNot(p: P): Ex =
    if (p.accept("NOT")) NotEx(parseNot(p)) else parsePredicate(p)

  private def parsePredicate(p: P): Ex = {
    val l = parseAdditive(p)
    if (p.accept("IS")) {
      val neg = p.accept("NOT")
      p.expect("NULL")
      IsNullEx(l, neg)
    } else if (p.peekIs("NOT") && p.peekAt(1).equalsIgnoreCase("LIKE")) {
      p.next(); p.next()
      LikeEx(l, strLit(p), negated = true)
    } else if (p.accept("LIKE")) {
      LikeEx(l, strLit(p), negated = false)
    } else if (Set("=", "<>", "!=", "<", "<=", ">", ">=")(p.peek)) {
      val op = p.next()
      Cmp(op, l, parseAdditive(p))
    } else l
  }

  private def strLit(p: P): String = {
    val t = p.next()
    require(t.startsWith("'") && t.endsWith("'") && t.length >= 2,
      s"expected string literal, found '$t'")
    t.substring(1, t.length - 1)
  }

  private def parseAdditive(p: P): Ex = {
    var l = parseMultiplicative(p)
    var more = true
    while (more) {
      if (p.accept("+")) l = Arith('+', l, parseMultiplicative(p))
      else if (p.accept("-")) l = Arith('-', l, parseMultiplicative(p))
      else more = false
    }
    l
  }
  private def parseMultiplicative(p: P): Ex = {
    var l = parseUnary(p)
    var more = true
    while (more) {
      if (p.accept("*")) l = Arith('*', l, parseUnary(p))
      else if (p.accept("/")) l = Arith('/', l, parseUnary(p))
      else more = false
    }
    l
  }
  private def parseUnary(p: P): Ex =
    if (p.accept("-")) Neg(parseUnary(p)) else parsePrimary(p)

  private val AggFns = Set("COUNT", "SUM", "MIN", "MAX", "AVG")

  private def parsePrimary(p: P): Ex = {
    val t = p.peek
    if (t.startsWith("'")) { p.next(); Lit(t.substring(1, t.length - 1), StringType) }
    else if (t.nonEmpty && t.charAt(0).isDigit) {
      p.next()
      if (t.contains('.')) Lit(t.toDouble, DoubleType)
      else Lit(t.toLong, LongType)
    }
    else if (p.accept("(")) { val e = parseExpr(p); p.expect(")"); e }
    else if (p.accept("TRUE")) Lit(java.lang.Boolean.TRUE, BooleanType)
    else if (p.accept("FALSE")) Lit(java.lang.Boolean.FALSE, BooleanType)
    else if (t.equalsIgnoreCase("FIRST") || t.equalsIgnoreCase("LAST")) {
      val first = t.equalsIgnoreCase("FIRST")
      p.next(); p.expect("(")
      val inner = parseExpr(p)
      val off = if (p.accept(",")) p.intLit() else 0
      p.expect(")")
      mkNav(first, inner, off)
    }
    else if (t.equalsIgnoreCase("PREV") || t.equalsIgnoreCase("NEXT")) {
      val dir = if (t.equalsIgnoreCase("PREV")) -1 else 1
      p.next(); p.expect("(")
      val inner = parseExpr(p)
      val off = if (p.accept(",")) p.intLit() else 1
      p.expect(")")
      require(!hasNav(inner) && !usesInputNav(inner),
        "PREV/NEXT cannot nest navigation")
      InputNav(dir, stripVarsToCur(inner, "PREV/NEXT"), off)
    }
    else if (Set("FINAL", "RUNNING")(t.toUpperCase) &&
        (AggFns ++ Set("FIRST", "LAST"))(p.peekAt(1).toUpperCase) &&
        p.peekAt(2) == "(") {
      p.next()
      val inner = parsePrimary(p)
      if (t.equalsIgnoreCase("FINAL")) FinalEx(inner) else inner
    }
    else if (AggFns(t.toUpperCase)) {
      val fn = t.toUpperCase
      p.next(); p.expect("(")
      val agg =
        if (fn == "COUNT" && p.accept("*")) AggEx("COUNT", None, None)
        else if (fn == "COUNT" && p.peekAt(1) == "." && p.peekAt(2) == "*") {
          val v = p.ident(); p.next(); p.next() // ident . *
          AggEx("COUNT", Some(v), None)
        } else {
          val inner = parseExpr(p)
          require(!hasNav(inner) && !usesInputNav(inner) && !hasAgg(inner),
            s"$fn argument must be a row-level expression")
          val vars = referencedVars(inner)
          require(vars.size <= 1,
            s"$fn argument references multiple pattern variables ($vars)")
          AggEx(fn, vars.headOption,
            Some(stripVarsToCur(inner, fn)))
        }
      p.expect(")")
      agg
    }
    else if (t.equalsIgnoreCase("CLASSIFIER")) {
      p.next(); p.expect("("); p.expect(")"); ClassifierEx
    }
    else if (t.equalsIgnoreCase("MATCH_NUMBER")) {
      p.next(); p.expect("("); p.expect(")"); MatchNumberEx
    }
    else if (t.equalsIgnoreCase("MATCH_ROWTIME")) {
      p.next(); p.expect("("); p.expect(")"); MatchRowtimeEx
    }
    else {
      val id = p.ident()
      require(!ReservedInExpr(id.toUpperCase),
        s"unexpected keyword '$id' in expression")
      if (p.accept(".")) VarField(id, p.ident())
      else CurField(id)
    }
  }

  /** Finalize a FIRST/LAST navigation: its argument may reference ONE
    * pattern variable (`FIRST(DOWN.price + DOWN.tax + 1)`) or none (the
    * universal variable: `LAST(price, 7)`,
    * MatchRecognizeITCase.scala:445-466); the refs pin to the navigated
    * row. */
  private def mkNav(first: Boolean, inner: Ex, off: Int): Ex = {
    require(!hasNav(inner) && !usesInputNav(inner) && !hasAgg(inner),
      "FIRST/LAST cannot nest navigation or aggregates")
    val vars = referencedVars(inner)
    require(vars.size <= 1,
      s"FIRST/LAST argument references multiple pattern variables ($vars)")
    Nav(first, vars.headOption, stripVarsToCur(inner, "FIRST/LAST"), off)
  }

  private def hasNav(e: Ex): Boolean = {
    var b = false
    walk(e) { case _: Nav => b = true; case _ => () }
    b
  }
  private def hasAgg(e: Ex): Boolean = {
    var b = false
    walk(e) { case _: AggEx => b = true; case _ => () }
    b
  }

  /** Replace `V.field` refs with bare CurField inside a navigation whose
    * row is already pinned to V. */
  private def stripVarsToCur(e: Ex, what: String): Ex = e match {
    case VarField(_, f) => CurField(f)
    case Nav(f, v, i, o) => Nav(f, v, stripVarsToCur(i, what), o)
    case InputNav(d, i, o) => InputNav(d, stripVarsToCur(i, what), o)
    case Arith(op, l, r) => Arith(op, stripVarsToCur(l, what), stripVarsToCur(r, what))
    case Neg(i) => Neg(stripVarsToCur(i, what))
    case Cmp(op, l, r) => Cmp(op, stripVarsToCur(l, what), stripVarsToCur(r, what))
    case IsNullEx(i, n) => IsNullEx(stripVarsToCur(i, what), n)
    case LikeEx(i, pat, n) => LikeEx(stripVarsToCur(i, what), pat, n)
    case AndEx(l, r) => AndEx(stripVarsToCur(l, what), stripVarsToCur(r, what))
    case OrEx(l, r) => OrEx(stripVarsToCur(l, what), stripVarsToCur(r, what))
    case NotEx(i) => NotEx(stripVarsToCur(i, what))
    case other => other
  }

  // =====================================================================
  // Shared emission
  // =====================================================================
  /** FINAL-semantics measure environment over a complete match.
    * Physical PREV/NEXT in MEASURES (r15) anchors at the LAST matched
    * row (SQL:2016 FINAL semantics) and navigates the contiguous input
    * window `preCtx ++ matched ++ postCtx` the scan captured with the
    * match. */
  private def finalEnv(bound: Seq[Bound],
      matchNo: Long, preCtx: IndexedSeq[Row] = IndexedSeq.empty,
      postCtx: IndexedSeq[Row] = IndexedSeq.empty): Env = {
    val whole = wholeMatch(bound)
    val all = whole(None)
    val lastCls = bound.reverse.find(_.rows.nonEmpty).map(_.name).getOrElse("")
    val phys = preCtx ++ all ++ postCtx
    val anchor = preCtx.length + all.length - 1
    new Env(None, whole,
      off => { val j = anchor + off
        if (j >= 0 && j < phys.length) Some(phys(j)) else None },
      _ => false, lastCls, matchNo, whole)
  }

  /** The bindings of a complete match by variable (None = all rows). */
  private def wholeMatch(bound: Seq[Bound]): Option[String] => IndexedSeq[Row] = {
    val byVar = bound.map(b => b.name -> b.rows.toIndexedSeq).toMap
    val all = bound.flatMap(_.rows).toIndexedSeq
    v => v.map(byVar.getOrElse(_, Vector.empty[Row])).getOrElse(all)
  }

  /** RUNNING-semantics rows of a match: for each matched row in order,
    * (row, env truncated to the rows seen so far) — SQL's ALL ROWS PER
    * MATCH measure semantics; FINAL measures still see the whole match.
    * Physical PREV/NEXT anchors at the current output row. */
  private def runningEnvs(bound: Seq[Bound],
      matchNo: Long, preCtx: IndexedSeq[Row] = IndexedSeq.empty,
      postCtx: IndexedSeq[Row] = IndexedSeq.empty): Iterator[(Row, Env)] = {
    val seq = bound.flatMap(b => b.rows.map(r => (b.name, r))).toIndexedSeq
    val phys = preCtx ++ seq.map(_._2) ++ postCtx
    val whole = wholeMatch(bound)
    seq.indices.iterator.map { p =>
      val sofar = seq.take(p + 1)
      val (cls, row) = seq(p)
      val anchor = preCtx.length + p
      val env = new Env(Some(row),
        v => sofar.collect { case (n, r) if v.forall(_ == n) => r },
        off => { val j = anchor + off
          if (j >= 0 && j < phys.length) Some(phys(j)) else None },
        _ => false, cls, matchNo, whole)
      (row, env)
    }
  }

  // =====================================================================
  // Entry: arbitrary-schema DataFrame (batch or streaming)
  // =====================================================================
  /** Parse + execute `text` over any DataFrame — schema-driven field
    * registry, composite or empty PARTITION BY, arbitrary ORDER BY.
    * ONE ROW PER MATCH returns partition columns + measures; ALL ROWS
    * PER MATCH returns every input column + RUNNING (or FINAL)
    * measures. Both modes run [[PatternMatch.matchRows]]; a STREAMING
    * input follows its watermark protocol: the leading ORDER BY column
    * must be an ascending timestamp; physical PREV/NEXT offsets are
    * arbitrary (r14 — the retained predecessor marker holds the deepest
    * declared PREV depth); `delay` is the watermark. */
  def sqlDf(df: DataFrame, text: String, delay: String = "0 seconds")
      : DataFrame = {
    val q = parse(text)
    val acc = new RowAccess(df.schema)
    // resolve partition/order column names against the schema, loudly
    val partCols = q.partCols.map(c => acc.canonical(fieldIdx(acc, c)))
    val orderKeys = q.orderKeys.map { case (c, asc) =>
      (acc.canonical(fieldIdx(acc, c)), asc)
    }
    val steps = compileSteps(q, acc)
    val measureFields = q.measures.map { case (alias, ex) =>
      StructField(alias, typeOf(ex, acc))
    }
    val measureEvals = q.measures.map { case (_, ex) => compile(ex, acc) }
    // physical PREV/NEXT in MEASURES (r15): size the per-match input
    // context the scan captures; streaming NEXT is served by delayed
    // emission (r16) — the executor holds a match until the context closes
    val (measPrev, measNext) = navDepths(q.measures.map(_._2))

    val (outSchema, emit) =
      if (q.allRows)
        (StructType(df.schema.fields.toSeq ++ measureFields),
          (_: Row, matchNo: Long, bound: Seq[Bound], pre: IndexedSeq[Row],
              post: IndexedSeq[Row]) =>
            runningEnvs(bound, matchNo, pre, post).map { case (row, env) =>
              Row.fromSeq(row.toSeq ++ measureEvals.map(_(env)))
            })
      else
        (StructType(partCols.map(c => df.schema(df.schema.fieldIndex(c))) ++
          measureFields),
          (key: Row, matchNo: Long, bound: Seq[Bound], pre: IndexedSeq[Row],
              post: IndexedSeq[Row]) => {
            val env = finalEnv(bound, matchNo, pre, post)
            Iterator.single(Row.fromSeq(key.toSeq ++ measureEvals.map(_(env))))
          })
    PatternMatch.matchRows(df, partCols, orderKeys, steps, q.skip, q.within,
      emit, Encoders.row(outSchema), delay, measPrev, measNext)
  }

  private def compileSteps(q: Parsed, acc: RowAccess)
      : Seq[GStep] = q.pattern.map { case (v, quant) =>
    q.defines.get(v) match {
      case None => GStep(v, quant, _ => Sat) // SQL default: any row
      case Some(ex) =>
        GStep(v, quant, compilePred(ex, acc),
          prevDepth = maxPrevOffset(ex))
    }
  }
}
