package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Cast, Divide, EvalMode, Expression, Generator, GenericInternalRow, IntegralDivide, JoinedRow, Literal, MutableProjection, Not, Or, RuntimeReplaceable, SpecificInternalRow, SubqueryExpression, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate, First, Last}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.Sql.Scan
import graft.streaming.PatternMatch._

/** SQL-syntax entry for MATCH_RECOGNIZE — a clause parser onto the
  * generic NFA ([[PatternMatch]]), covering the reference's IT-case
  * grammar surface (reference: flink-table-planner-blink
  * StreamExecMatch.scala:68 compiles the parsed clause,
  * MatchCodeGenerator.scala:82 codegens DEFINE/MEASURES, and
  * stream/sql/MatchRecognizeITCase.scala exercises the grammar), while
  * Spark's parser has no MATCH_RECOGNIZE production at all.
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
  * The expression language of DEFINE and MEASURES is Spark SQL's, as
  * the reference compiles them with its one expression code generator:
  * each DEFINE body and MEASURES item is cut out of the clause as text,
  * parsed by Spark's `parseExpression`, typed by Spark's analyzer and
  * evaluated by Spark's codegen'd projections. On top of it come the
  * pattern functions, each rewritten into a slot of a per-evaluation
  * context row ([[Slot]]) that the executor fills: `VAR.field` (the
  * variable's last bound row); bare fields (DEFINE: the current row;
  * MEASURES: the universal variable's last row); cross-variable
  * navigation `FIRST(expr[, n])` / `LAST(expr[, n])` over rows already
  * bound in the attempt (RUNNING semantics — the row under DEFINE
  * evaluation counts as bound, so `LAST(DOWN.price, 1)` is the previous
  * DOWN row and `LAST(A.name, 2) IS NULL` holds when A bound fewer than
  * 3 rows; MatchRecognizeITCase.scala:178-182,404-409); input navigation
  * `PREV(expr[, n])` / `NEXT(expr[, n])` at arbitrary offsets in both
  * modes (a streaming DEFINE holds a row whose NEXT has not arrived; in
  * MEASURES it anchors at the match's LAST row under FINAL semantics and
  * at each output row under ALL ROWS, and a stream holds the match until
  * its successor rows close — DELAYED EMISSION); aggregates `COUNT(*)`,
  * `COUNT(V.*)`, `COUNT/SUM/MIN/MAX/AVG(expr)`, folded with Spark's own
  * aggregate functions; `CLASSIFIER()` / `MATCH_NUMBER()`; and
  * `MATCH_ROWTIME()` (the last matched row's primary order value, the
  * reference's MatchRowTimeFunction — enables windowed GROUP BY over the
  * clause result, MatchRecognizeITCase.testWindowedGroupingAppliedTo...).
  * The SQL:2016 `FINAL` / `RUNNING` modifiers apply to an aggregate or
  * FIRST/LAST in MEASURES (`FINAL COUNT(B.*)` on an ALL ROWS row is the
  * whole match's count; DEFINE rejects FINAL). Result types are Spark's,
  * with one exception kept from the reference: `/` over two integral
  * operands divides integrally (Calcite's rule; Spark's analyzer would
  * return DOUBLE), and division by zero raises. A function outside this
  * surface (an unknown aggregate, a window function) fails and names
  * itself.
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
  // Slots: the pattern-specific values an expression reads
  // =====================================================================
  /** A value the executor computes per evaluation; the Catalyst
    * expression reads it as an attribute. `inner` is a row-level
    * expression over ONE input row (for [[Agg]], the aggregate call —
    * Spark's `DeclarativeAggregate` once resolved); `fin` is SQL:2016
    * FINAL: the whole match's rows, even on an ALL ROWS PER MATCH row. */
  private sealed trait Slot extends Serializable
  /** FIRST/LAST(inner, off) over the rows bound to `v` (None = the
    * universal variable: every bound row). `V.col` is LAST(V.col, 0). */
  private final case class Nav(first: Boolean, v: Option[String],
      inner: Expression, off: Int, fin: Boolean) extends Slot
  /** PREV (off < 0) / NEXT (off > 0) over the key's input order. */
  private final case class Phys(off: Int, inner: Expression) extends Slot
  /** COUNT/SUM/MIN/MAX/AVG over the rows bound to `v`. */
  private final case class Agg(v: Option[String], inner: Expression,
      fin: Boolean) extends Slot
  private case object Classifier extends Slot
  private case object MatchNumber extends Slot

  private def slotName(k: Int): String = s"slot#$k"

  private def slotType(s: Slot): DataType = s match {
    case n: Nav => n.inner.dataType
    case p: Phys => p.inner.dataType
    case a: Agg => a.inner.dataType
    case Classifier => StringType
    case MatchNumber => LongType
  }

  private val NavFns = Set("first", "last")
  private val PhysFns = Set("prev", "next")
  private val AggFns = Set("count", "sum", "min", "max", "avg")
  /** `FINAL <call>` travels through Spark's parser as `FINAL(<call>)`. */
  private val FinalFn = "final"
  private val PatternFns = NavFns ++ PhysFns ++ AggFns ++
    Set("classifier", "match_number", "match_rowtime", FinalFn)

  /** A parsed call by lower-case name. Spark's parser returns a
    * one-argument FIRST/LAST as its own `first`/`last` aggregate (with
    * IGNORE NULLS it stays Spark's, and fails as unsupported). */
  private object Call {
    def unapply(e: Expression): Option[(String, Seq[Expression])] = e match {
      case f: UnresolvedFunction if f.nameParts.length == 1 =>
        val name = f.nameParts.head.toLowerCase(java.util.Locale.ROOT)
        require(!PatternFns(name) || !(f.isDistinct || f.filter.isDefined ||
          f.ignoreNulls), s"${name.toUpperCase} in MATCH_RECOGNIZE takes no " +
          "DISTINCT, FILTER or IGNORE NULLS")
        Some((name, f.arguments))
      case AggregateExpression(First(c, false), _, _, _, _) => Some(("first", Seq(c)))
      case AggregateExpression(Last(c, false), _, _, _, _) => Some(("last", Seq(c)))
      case _ => None
    }
  }

  /** Rewrites parsed DEFINE bodies (`measures = false`: a bare field is
    * the current row) or MEASURES items (a bare field is the universal
    * variable's last row): every pattern-specific call becomes the
    * attribute of a [[Slot]], which leaves plain Spark SQL. Identical
    * calls share one slot. */
  private final class Slotter(vars: Set[String], orderCol: String,
      measures: Boolean) {
    val slots = scala.collection.mutable.LinkedHashMap.empty[Slot, Int]

    private def slot(s: Slot): Expression =
      UnresolvedAttribute(Seq(slotName(slots.getOrElseUpdate(s, slots.size))))

    private def known(v: String): String = {
      require(vars(v), s"expression references '$v' which is not a " +
        s"PATTERN variable (${vars.mkString(", ")})")
      v
    }

    def rewrite(e: Expression, where: String): Expression = e match {
      case Call(FinalFn, args) =>
        require(measures, s"FINAL is only allowed in MEASURES (found in $where)")
        slot(args match {
          case Seq(c @ Call(fn, _)) if NavFns(fn) || AggFns(fn) => call(c, fin = true)
          case _ => throw new IllegalArgumentException(
            s"FINAL applies to an aggregate or FIRST/LAST (in $where)")
        })
      case Call(fn, _) if NavFns(fn) || AggFns(fn) => slot(call(e, fin = false))
      case Call(fn, args) if PhysFns(fn) =>
        val (_, inner) = rowLevel(fn, args, "PREV/NEXT cannot nest navigation")
        val off = offset(fn, args, 1)
        slot(Phys(if (fn == "prev") -off else off, inner))
      case Call("classifier", Seq()) => slot(Classifier)
      case Call("match_number", Seq()) => slot(MatchNumber)
      case Call("match_rowtime", Seq()) =>
        require(orderCol.nonEmpty, "MATCH_ROWTIME() requires an ORDER BY")
        slot(Nav(first = false, None, UnresolvedAttribute(Seq(orderCol)), 0,
          fin = false))
      case a: UnresolvedAttribute if a.nameParts.length > 1 =>
        slot(Nav(first = false, Some(known(a.nameParts.head)),
          UnresolvedAttribute(a.nameParts.tail), 0, fin = false))
      case a: UnresolvedAttribute if measures =>
        slot(Nav(first = false, None, a, 0, fin = false))
      case _: UnresolvedStar => throw new IllegalArgumentException(
        s"only COUNT(*) and COUNT(<var>.*) take a star (in $where)")
      case other => other.mapChildren(rewrite(_, where))
    }

    private def call(e: Expression, fin: Boolean): Slot = e match {
      case Call(fn, args) if NavFns(fn) =>
        val (v, inner) = rowLevel(fn, args,
          "FIRST/LAST cannot nest navigation or aggregates")
        Nav(fn == "first", v, inner, offset(fn, args, 0), fin)
      case Call("count", Seq(UnresolvedStar(Some(Seq(v))))) =>
        Agg(Some(known(v)), UnresolvedFunction("count", Seq(Literal(1)),
          isDistinct = false), fin)
      case Call(fn, args) =>
        require(args.length == 1, s"${fn.toUpperCase} takes one argument")
        val (v, inner) = rowLevel(fn, args,
          s"${fn.toUpperCase} argument must be a row-level expression")
        Agg(v, UnresolvedFunction(fn, Seq(inner), isDistinct = false), fin)
    }

    /** A navigation or aggregate argument: a row-level expression over
      * the rows of at most one variable, its `V.` qualifiers dropped. */
    private def rowLevel(fn: String, args: Seq[Expression],
        nested: String): (Option[String], Expression) = {
      require(args.nonEmpty, s"${fn.toUpperCase} needs an argument")
      val e = args.head
      require(!e.exists {
        case Call(f, _) => PatternFns(f)
        case _ => false
      }, nested)
      val vs = e.collect {
        case a: UnresolvedAttribute if a.nameParts.length > 1 => known(a.nameParts.head)
      }.distinct
      require(vs.size <= 1, s"${fn.toUpperCase} argument references " +
        s"multiple pattern variables (${vs.mkString(", ")})")
      (vs.headOption, e.transform {
        case a: UnresolvedAttribute if a.nameParts.length > 1 =>
          UnresolvedAttribute(a.nameParts.tail)
      })
    }

    private def offset(fn: String, args: Seq[Expression], default: Int): Int =
      args match {
        case Seq(_) => default
        case Seq(_, Literal(n: Int, IntegerType)) if n >= 0 => n
        case _ => throw new IllegalArgumentException(s"${fn.toUpperCase} " +
          s"takes (expr[, non-negative integer offset]), got (${args.mkString(", ")})")
      }
  }

  // =====================================================================
  // Analysis: Spark types every expression
  // =====================================================================
  /** Spark's analysis of `exprs` over `relation`, as one `Project` (or,
    * for aggregate calls, one global `Aggregate`), with integral `/`
    * made integral and RuntimeReplaceable expressions replaced the way
    * Spark's optimizer replaces them. */
  private def analyze(spark: SparkSession, exprs: Seq[Expression],
      relation: LogicalPlan, aggregate: Boolean): Seq[Expression] =
    if (exprs.isEmpty) Nil
    else {
      val items = exprs.zipWithIndex.map { case (e, i) => Alias(e, s"_$i")() }
      def run(plan: LogicalPlan) = Bridge.ofRows(spark, plan).queryExecution.analyzed
      val first = run(if (aggregate) Aggregate(Nil, items, relation, None)
        else Project(items, relation))
      val divided = first.transformAllExpressions(integralDivide)
      val analyzed = if (divided == first) first else run(divided)
      val out = analyzed match {
        case Project(list, _: LocalRelation) if !aggregate => list
        case Aggregate(Nil, list, _: LocalRelation, _) if aggregate => list
        case other => unsupported(other)
      }
      if (out.exists(_.exists(_.isInstanceOf[SubqueryExpression])))
        unsupported(analyzed)
      out.map { case a: Alias => replaced(a.child) }
    }

  /** `/` over two integral operands divides integrally (the reference's
    * Calcite rule — `SUM(price * weight) / SUM(weight)` is a BIGINT),
    * where Spark's analyzer widens both sides to DOUBLE; division by
    * zero raises. */
  private val integralDivide: PartialFunction[Expression, Expression] = {
    case Divide(Widened(l), Widened(r), _) => IntegralDivide(l, r, EvalMode.ANSI)
  }

  /** An integral operand that Spark's analyzer cast to DOUBLE (not a
    * cast the statement wrote). */
  private object Widened {
    def unapply(e: Expression): Option[Expression] = e match {
      case c @ Cast(child, DoubleType, _, _)
          if c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty =>
        child.dataType match {
          case ByteType | ShortType | IntegerType | LongType => Some(child)
          case _ => None
        }
      case _ => None
    }
  }

  private def replaced(e: Expression): Expression = e match {
    case r: RuntimeReplaceable => replaced(r.replacement)
    case _ => e.mapChildren(replaced)
  }

  private def unsupported(plan: LogicalPlan): Nothing = {
    val fn = plan.collect { case n => n.expressions }.flatten.flatMap(_.collectFirst {
      case a: AggregateExpression => a.aggregateFunction.prettyName
      case w: WindowExpression => w.windowFunction.prettyName
      case g: Generator => g.prettyName
      case _: SubqueryExpression => "a subquery"
    }).headOption.getOrElse(plan.nodeName)
    throw new IllegalArgumentException(s"MATCH_RECOGNIZE cannot evaluate " +
      s"$fn: DEFINE and MEASURES take row-level expressions, " +
      "PREV/NEXT/FIRST/LAST, COUNT/SUM/MIN/MAX/AVG, CLASSIFIER(), " +
      "MATCH_NUMBER() and MATCH_ROWTIME()")
  }

  /** Resolve every slot's inner expression over the input relation: one
    * analysis for the row-level ones, one for the aggregate calls. */
  private def resolveSlots(spark: SparkSession, slots: IndexedSeq[Slot],
      input: Seq[Attribute]): IndexedSeq[Slot] = {
    val rel = LocalRelation(input)
    val rows = analyze(spark, slots.collect {
      case n: Nav => n.inner
      case p: Phys => p.inner
    }, rel, aggregate = false).iterator
    val aggs = analyze(spark, slots.collect { case a: Agg => a.inner }, rel,
      aggregate = true).iterator.map {
      case a: AggregateExpression => a.aggregateFunction
      case e => e
    }
    slots.map {
      case n: Nav => n.copy(inner = rows.next())
      case p: Phys => p.copy(inner = rows.next())
      case a: Agg => a.copy(inner = aggs.next())
      case s => s
    }
  }

  // =====================================================================
  // Evaluation (in the task: codegen'd projections do not serialize)
  // =====================================================================
  /** What the slots of one evaluation read: the rows bound so far
    * (`running`) and in the whole match (`whole`, for FINAL) by variable
    * (None = all), the key's input order around the anchor row, and
    * CLASSIFIER() / MATCH_NUMBER(). */
  private final class Env(val running: Option[String] => IndexedSeq[Row],
      val whole: Option[String] => IndexedSeq[Row],
      val inputAt: Int => Option[Row], val pendingAt: Int => Boolean,
      val classifier: String, val matchNo: Long)

  /** A value that CANNOT BE KNOWN YET on a stream: a NEXT slot past a
    * non-final buffer tail. */
  private case object Pending

  /** Row → InternalRow over the input fields `exprs` read (the others
    * stay null); the returned row is reused. */
  private def converter(exprs: Seq[Expression],
      input: Seq[Attribute]): Row => InternalRow = {
    val used = input.indices.filter(i =>
      exprs.exists(_.references.contains(input(i)))).toArray
    val toCatalyst = used.map(i =>
      CatalystTypeConverters.createToCatalystConverter(input(i).dataType))
    val out = new GenericInternalRow(input.length)
    r => {
      var k = 0
      while (k < used.length) {
        out.update(used(k), toCatalyst(k)(r.get(used(k))))
        k += 1
      }
      out
    }
  }

  /** One side's slots (all DEFINEs, or all MEASURES), filled per
    * evaluation into `row` (field k = slot k); `pending(k)` marks a
    * slot whose value cannot be known yet. */
  private final class Slots(slots: IndexedSeq[Slot], input: Seq[Attribute])
      extends Serializable {
    def width: Int = slots.length
    @transient lazy val row = new GenericInternalRow(width)
    @transient lazy val pending = new Array[Boolean](width)
    @transient private lazy val evals: Array[Env => Any] =
      slots.map(compile).toArray

    def fill(env: Env, which: Array[Int]): Unit = {
      var j = 0
      while (j < which.length) {
        val k = which(j)
        val v = evals(k)(env)
        pending(k) = v.asInstanceOf[AnyRef] eq Pending
        row.update(k, if (pending(k)) null else v)
        j += 1
      }
    }

    private def rowFn(inner: Expression): Row => Any = {
      val p = MutableProjection.create(Seq(inner), input)
      val conv = converter(Seq(inner), input)
      r => p(conv(r)).get(0, inner.dataType)
    }

    private def compile(s: Slot): Env => Any = s match {
      case Nav(first, v, inner, off, fin) =>
        val f = rowFn(inner)
        env => {
          val rows = if (fin) env.whole(v) else env.running(v)
          val i = if (first) off else rows.length - 1 - off
          if (i < 0 || i >= rows.length) null else f(rows(i))
        }
      case Phys(off, inner) =>
        val f = rowFn(inner)
        env => env.inputAt(off) match {
          case Some(r) => f(r)
          case None => if (off > 0 && env.pendingAt(off)) Pending else null
        }
      case Agg(v, d: DeclarativeAggregate, fin) =>
        // Spark's own fold: initial values, per-row update over
        // (buffer ++ input row), evaluate
        val buf = new SpecificInternalRow(d.aggBufferAttributes.map(_.dataType))
        val init = MutableProjection.create(d.initialValues).target(buf)
        val update = MutableProjection.create(d.updateExpressions,
          d.aggBufferAttributes ++ input).target(buf)
        val result = MutableProjection.create(Seq(d.evaluateExpression),
          d.aggBufferAttributes)
        val conv = converter(d.children, input)
        val join = new JoinedRow
        env => {
          init(InternalRow.empty)
          (if (fin) env.whole(v) else env.running(v))
            .foreach(r => update(join(buf, conv(r))))
          result(buf).get(0, d.dataType)
        }
      case Classifier => env => UTF8String.fromString(env.classifier)
      case MatchNumber => env => env.matchNo
      case other => sys.error(s"unresolved slot $other")
    }
  }

  /** Kleene view of a DEFINE: AND/OR/NOT over leaves, split only above
    * leaves that read a NEXT slot (the one source of Pending). A leaf
    * reading a pending slot is Pending whatever its operators, IS NULL
    * included. */
  private sealed trait Tri extends Serializable
  private final case class Leaf(id: Int, next: Seq[Int]) extends Tri
  private final case class TAnd(l: Tri, r: Tri) extends Tri
  private final case class TOr(l: Tri, r: Tri) extends Tri
  private final case class TNot(c: Tri) extends Tri

  private final val T = 1
  private final val F = 0
  private final val N = -1 // SQL NULL
  private final val P = 2 // Pending

  /** A DEFINE condition as the NFA's tri-state predicate (TRUE → Sat;
    * FALSE/NULL → Unsat; Pending → Undecided) over the context row
    * (the DEFINE slots ++ the current input row). */
  private final class Define(v: String, cond: Expression, slots: Slots,
      slotAttrs: Seq[Attribute], nextSlots: Set[Int], input: Seq[Attribute])
      extends (MatchCtx => PredRes) with Serializable {
    private val used: Array[Int] = slotAttrs.indices
      .filter(k => cond.references.contains(slotAttrs(k))).toArray
    private val leaves = scala.collection.mutable.ArrayBuffer.empty[Expression]
    private val tree: Tri = tri(cond)
    @transient private lazy val leafEvals =
      leaves.map(e => MutableProjection.create(Seq(e), slotAttrs ++ input)).toArray
    @transient private lazy val conv = converter(Seq(cond), input)
    @transient private lazy val joined = new JoinedRow

    private def tri(e: Expression): Tri = {
      val next = slotAttrs.indices.filter(k =>
        nextSlots(k) && e.references.contains(slotAttrs(k)))
      (next.nonEmpty, e) match {
        case (true, And(l, r)) => TAnd(tri(l), tri(r))
        case (true, Or(l, r)) => TOr(tri(l), tri(r))
        case (true, Not(c)) => TNot(tri(c))
        case _ => leaves += e; Leaf(leaves.length - 1, next)
      }
    }

    /** Kleene logic with Pending dominating except where FALSE AND x /
      * TRUE OR x already decide. `lenient` marks positions that reach
      * the root only through AND/OR: there FALSE and NULL both mean
      * Unsat, so AND(Pending, NULL) is already decided (NULL). */
    private def eval(t: Tri, lenient: Boolean): Int = t match {
      case Leaf(id, next) =>
        if (next.exists(slots.pending(_))) P
        else {
          val r = leafEvals(id)(joined)
          if (r.isNullAt(0)) N else if (r.getBoolean(0)) T else F
        }
      case TAnd(l, r) =>
        val a = eval(l, lenient)
        if (a == F) F
        else {
          val b = eval(r, lenient)
          if (b == F) F
          else if (lenient && (a == P && b == N || a == N && b == P)) N
          else if (a == P || b == P) P
          else if (a == N || b == N) N
          else T
        }
      case TOr(l, r) =>
        // OR(Pending, NULL) stays Pending even at the root: the Pending
        // side may yet resolve TRUE
        val a = eval(l, lenient)
        if (a == T) T
        else {
          val b = eval(r, lenient)
          if (b == T) T
          else if (a == P || b == P) P
          else if (a == N || b == N) N
          else F
        }
      case TNot(c) => eval(c, lenient = false) match {
        case T => F
        case F => T
        case x => x
      }
    }

    def apply(ctx: MatchCtx): PredRes = {
      slots.fill(new Env(ctx.boundRows, ctx.boundRows, ctx.inputAt,
        ctx.pendingAt, v, 0L), used)
      joined(slots.row, conv(ctx.row))
      eval(tree, lenient = true) match {
        case T => Sat
        case P => Undecided
        case _ => Unsat
      }
    }
  }

  /** The MEASURES, evaluated over the measure slots into Scala values. */
  private final class Measures(exprs: Seq[Expression], slots: Slots,
      slotAttrs: Seq[Attribute]) extends Serializable {
    private val types = exprs.map(_.dataType)
    @transient private lazy val proj = MutableProjection.create(exprs, slotAttrs)
    @transient private lazy val toScala =
      types.map(CatalystTypeConverters.createToScalaConverter).toArray
    @transient private lazy val all = (0 until slots.width).toArray

    def apply(env: Env): Seq[Any] = {
      slots.fill(env, all)
      val out = proj(slots.row)
      types.indices.map(i => toScala(i)(out.get(i, types(i))))
    }
  }

  // =====================================================================
  // Clause parser
  // =====================================================================
  private final case class Parsed(partCols: Seq[String],
      orderKeys: Seq[(String, Boolean)],
      measures: Seq[(String, Expression)], allRows: Boolean, skip: SkipStrategy,
      pattern: Seq[(String, Quant)], within: Option[java.time.Duration],
      defines: Seq[(String, Expression)])

  /** Tokenizer of the clause skeleton (words, numbers, 'strings',
    * operators); expressions never reach it. */
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

  private final class P(toks: Vector[String]) {
    var i = 0
    def peek: String = if (i < toks.length) toks(i) else ""
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

  private val MeasuresEnd = java.util.regex.Pattern.compile(
    "(?i)\\b(?:(?:ONE\\s+ROW|ALL\\s+ROWS)\\s+PER\\s+MATCH\\b" +
      "|AFTER\\s+MATCH\\s+SKIP\\b|PATTERN\\s*\\(|DEFINE\\b)")

  /** The MEASURES and DEFINE item lists cut out of the clause with the
    * front door's one scanner ([[graft.Sql.Scan]]: literals and comments
    * never match): the clause without them, for the clause parser, and
    * each list's items. An item ends at a top-level comma; the MEASURES
    * list ends at the next clause keyword, the DEFINE list at the
    * clause's closing parenthesis. */
  private def cutLists(text: String): (String, Seq[String], Seq[String]) = {
    val s = new Scan(text)
    val kw = s.indexOfWord("MATCH_RECOGNIZE", 0)
    require(kw >= 0, "expected MATCH_RECOGNIZE")
    val open = text.indexWhere(!_.isWhitespace, kw + "MATCH_RECOGNIZE".length)
    require(open >= 0 && text.charAt(open) == '(',
      "expected '(' after MATCH_RECOGNIZE")
    val close = s.balancedClose(open)
    // top(i): code at parenthesis depth 0 of the clause body
    val top = new Array[Boolean](text.length)
    var depth = 0
    for (i <- open + 1 until close if s.code(i)) {
      if (text.charAt(i) == ')') depth -= 1
      top(i) = depth == 0
      if (text.charAt(i) == '(') depth += 1
    }
    def at(i: Int) = top(i) && text.charAt(i - 1) != '.'
    def word(w: String): Int = {
      var i = s.indexOfWord(w, open)
      while (i >= 0 && i < close && !at(i)) i = s.indexOfWord(w, i + 1)
      if (i >= 0 && i < close) i else -1
    }
    val m = word("MEASURES")
    val d = word("DEFINE")
    require(m < 0 || d < 0 || m < d, "MEASURES must precede DEFINE")
    val mEnd = if (m < 0) -1 else {
      val mm = MeasuresEnd.matcher(text).region(m + "MEASURES".length, close)
      var e = close
      while (e == close && mm.find()) if (at(mm.start())) e = mm.start()
      e
    }
    def items(what: String, from: Int, to: Int): Seq[String] = {
      val commas = (from until to).filter(i => top(i) && text.charAt(i) == ',')
      val out = (from +: commas.map(_ + 1)).zip(commas :+ to)
        .map { case (a, b) => text.substring(a, b).trim }
      require(out.forall(_.nonEmpty), s"empty $what item")
      out
    }
    (splice(text, Seq((m, mEnd, " "), (d, close, " ")).filter(_._1 >= 0)),
      if (m < 0) Nil else items("MEASURES", m + "MEASURES".length, mEnd),
      if (d < 0) Nil else items("DEFINE", d + "DEFINE".length, close))
  }

  private val Modifier = java.util.regex.Pattern.compile(
    "(?i)\\b(FINAL|RUNNING)\\s+(?:COUNT|SUM|MIN|MAX|AVG|FIRST|LAST)\\s*\\(")

  /** Strip each SQL:2016 `FINAL`/`RUNNING` prefix of an aggregate or
    * FIRST/LAST call, which Spark's parser has no production for.
    * RUNNING is the default and drops; FINAL stays as `FINAL(<call>)`. */
  private def modifiers(item: String): String = {
    val s = new Scan(item)
    val m = Modifier.matcher(item)
    val edits = Iterator.continually(m.find()).takeWhile(identity)
      .filter(_ => s.code(m.start()))
      .flatMap { _ =>
        if (m.group(1).equalsIgnoreCase("RUNNING")) Seq((m.start(), m.end(1), ""))
        else {
          val close = s.balancedClose(m.end() - 1)
          Seq((m.start(), m.end(1), "FINAL("), (close + 1, close + 1, ")"))
        }
      }.toSeq.sortBy(_._1)
    splice(item, edits)
  }

  /** `text` with each (from, until) range, in order, replaced. */
  private def splice(text: String, edits: Seq[(Int, Int, String)]): String = {
    val out = new StringBuilder
    var i = 0
    edits.foreach { case (a, b, ins) =>
      out.append(text.substring(i, a)).append(ins); i = b
    }
    out.append(text.substring(i)).result()
  }

  private val DefineItem = "(?s)([A-Za-z_][A-Za-z0-9_]*)\\s+(?i:AS)\\s+(.*)".r

  /** Parse one clause: the skeleton with the clause parser, each DEFINE
    * body and MEASURES item with Spark's `parseExpression`. */
  private def parse(spark: SparkSession, text: String): Parsed = {
    val (skeleton, measureItems, defineItems) = cutLists(text)
    val p = new P(tokenize(skeleton))
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
    p.expect(")")
    p.accept("AS") // optional trailing alias
    if (p.peek.nonEmpty && p.peek.matches("[A-Za-z_][A-Za-z0-9_]*")) p.next()
    require(p.peek.isEmpty,
      s"trailing tokens after MATCH_RECOGNIZE: '${p.peek}'")

    val parser = spark.sessionState.sqlParser
    val measures = measureItems.map { item =>
      parser.parseExpression(modifiers(item)) match {
        case a: Alias => (a.name, a.child)
        case _ => throw new IllegalArgumentException(
          s"MEASURES item needs AS <alias>: '$item'")
      }
    }
    val knownVars = patternVars.map(_._1).toSet
    val defines = defineItems.map {
      case DefineItem(v, body) =>
        require(knownVars(v),
          s"DEFINE names '$v' which is not a PATTERN variable ($knownVars)")
        (v, parser.parseExpression(modifiers(body)))
      case item => throw new IllegalArgumentException(
        s"expected '<variable> AS <condition>' in DEFINE, found '$item'")
    }
    Parsed(partCols, orderKeys, measures, allRows, skip, patternVars,
      within, defines)
  }

  // =====================================================================
  // Shared emission
  // =====================================================================
  /** Input navigation around `anchor` of a contiguous row window. */
  private def physical(rows: IndexedSeq[Row], anchor: Int): Int => Option[Row] =
    off => rows.lift(anchor + off)

  /** FINAL-semantics measure environment over a complete match.
    * Physical PREV/NEXT in MEASURES anchors at the LAST matched row
    * (SQL:2016 FINAL semantics) and navigates the contiguous input
    * window `preCtx ++ matched ++ postCtx` the scan captured with the
    * match. */
  private def finalEnv(bound: Seq[Bound], matchNo: Long,
      preCtx: IndexedSeq[Row], postCtx: IndexedSeq[Row]): Env = {
    val whole = wholeMatch(bound)
    val all = whole(None)
    val lastCls = bound.reverse.find(_.rows.nonEmpty).map(_.name).getOrElse("")
    new Env(whole, whole, physical(preCtx ++ all ++ postCtx,
      preCtx.length + all.length - 1), _ => false, lastCls, matchNo)
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
  private def runningEnvs(bound: Seq[Bound], matchNo: Long,
      preCtx: IndexedSeq[Row], postCtx: IndexedSeq[Row]): Iterator[(Row, Env)] = {
    val seq = bound.flatMap(b => b.rows.map(r => (b.name, r))).toIndexedSeq
    val phys = preCtx ++ seq.map(_._2) ++ postCtx
    val whole = wholeMatch(bound)
    seq.indices.iterator.map { p =>
      val sofar = seq.take(p + 1)
      val (cls, row) = seq(p)
      (row, new Env(v => sofar.collect { case (n, r) if v.forall(_ == n) => r },
        whole, physical(phys, preCtx.length + p), _ => false, cls, matchNo))
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
    * arbitrary (the retained predecessor marker holds the deepest
    * declared PREV depth); `delay` is the watermark. */
  def sqlDf(df: DataFrame, text: String, delay: String = "0 seconds")
      : DataFrame = {
    val spark = df.sparkSession
    val q = parse(spark, text)
    def field(c: String): String = df.schema.fieldNames
      .find(_.equalsIgnoreCase(c)).getOrElse(sys.error(
        s"unknown field '$c' (have: ${df.schema.fieldNames.mkString(", ")})"))
    val partCols = q.partCols.map(field)
    val orderKeys = q.orderKeys.map { case (c, asc) => (field(c), asc) }
    val input: Seq[Attribute] =
      df.schema.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    val vars = q.pattern.map(_._1).toSet
    val orderCol = orderKeys.headOption.map(_._1).getOrElse("")

    val defSlotter = new Slotter(vars, orderCol, measures = false)
    val defs = q.defines.map { case (v, e) => (v, defSlotter.rewrite(e, s"DEFINE $v")) }
    val measSlotter = new Slotter(vars, orderCol, measures = true)
    val meas = q.measures.map { case (a, e) => (a, measSlotter.rewrite(e, s"MEASURES $a")) }
    val resolved = resolveSlots(spark,
      defSlotter.slots.keys.toIndexedSeq ++ measSlotter.slots.keys, input)
    val (defSlots, measSlots) = resolved.splitAt(defSlotter.slots.size)
    def attrs(slots: Seq[Slot]): Seq[Attribute] = slots.zipWithIndex.map {
      case (s, k) => AttributeReference(slotName(k), slotType(s))()
    }

    // DEFINE: one analysis over (slots ++ input), the current row's fields
    val defAttrs = attrs(defSlots)
    val conds = analyze(spark, defs.map(_._2), LocalRelation(defAttrs ++ input),
      aggregate = false)
    val defSlotsEval = new Slots(defSlots, input)
    val nextSlots = defSlots.indices.filter(k => defSlots(k) match {
      case Phys(off, _) => off > 0
      case _ => false
    }).toSet
    val byVar = defs.map(_._1).zip(conds).toMap
    val steps = q.pattern.map { case (v, quant) =>
      byVar.get(v) match {
        case None => GStep(v, quant, _ => Sat) // SQL default: any row
        case Some(cond) =>
          require(cond.dataType == BooleanType,
            s"DEFINE $v must be a boolean condition, got ${cond.dataType.sql}")
          val prevDepth = defSlots.indices.collect {
            case k if cond.references.contains(defAttrs(k)) => defSlots(k)
          }.collect { case Phys(off, _) if off < 0 => -off }.foldLeft(0)(math.max)
          GStep(v, quant, new Define(v, cond, defSlotsEval, defAttrs, nextSlots,
            input), prevDepth)
      }
    }

    // MEASURES: one analysis over the slots alone
    val measAttrs = attrs(measSlots)
    val measExprs = analyze(spark, meas.map(_._2), LocalRelation(measAttrs),
      aggregate = false)
    val measures = new Measures(measExprs, new Slots(measSlots, input), measAttrs)
    val measureFields = meas.map(_._1).zip(measExprs).map { case (alias, e) =>
      StructField(alias, e.dataType)
    }
    // physical PREV/NEXT in MEASURES: size the per-match input context
    // the scan captures; streaming NEXT is served by delayed emission —
    // the executor holds a match until the context closes
    val offs = measSlots.collect { case Phys(off, _) => off }
    val (measPrev, measNext) =
      (offs.map(-_).foldLeft(0)(math.max), offs.foldLeft(0)(math.max))

    val (outSchema, emit) =
      if (q.allRows)
        (StructType(df.schema.fields.toSeq ++ measureFields),
          (_: Row, matchNo: Long, bound: Seq[Bound], pre: IndexedSeq[Row],
              post: IndexedSeq[Row]) =>
            runningEnvs(bound, matchNo, pre, post).map { case (row, env) =>
              Row.fromSeq(row.toSeq ++ measures(env))
            })
      else
        (StructType(partCols.map(c => df.schema(df.schema.fieldIndex(c))) ++
          measureFields),
          (key: Row, matchNo: Long, bound: Seq[Bound], pre: IndexedSeq[Row],
              post: IndexedSeq[Row]) =>
            Iterator.single(Row.fromSeq(key.toSeq ++
              measures(finalEnv(bound, matchNo, pre, post)))))
    PatternMatch.matchRows(df, partCols, orderKeys, steps, q.skip, q.within,
      emit, Encoders.row(outSchema), delay, measPrev, measNext)
  }
}
