package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedHaving, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal, Subtract}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Sort}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DayTimeIntervalType

/** The reference's group-window SQL surface, rewritten to Spark's
  * grouping expressions (reference: flink-table planner-blink — the
  * `TUMBLE`/`HOP`/`SESSION` GROUP BY functions with their `_START` /
  * `_END` / `_ROWTIME` / `_PROCTIME` auxiliaries, exercised across
  * `runtime/batch/sql/agg/WindowAggregateITCase.scala:59-744` and
  * `runtime/stream/sql/WindowAggregateITCase.scala:71-100`; window
  * assignment semantics `TumblingWindowAssigner.java:34`,
  * `SlidingWindowAssigner.java:40`, `SessionWindowAssigner.java:37`).
  *
  * Spark parses every one of these calls as an `UnresolvedFunction`, and
  * spells the identical [start, end) epoch-aligned windows
  * `window(ts, size[, slide])` and `session_window(ts, gap)`, so the
  * translation is a rewrite of Spark's parsed plan in front of the
  * analyzer ([[graft.Sql]] step 3) — the plan underneath is Spark's
  * native (and streaming-capable) windowed aggregate, never a custom
  * operator:
  *
  *   - `TUMBLE(ts, size)`        → `window(ts, size)`
  *   - `HOP(ts, slide, size)`    → `window(ts, size, slide)`  (note the
  *     reference's slide-first argument order; Spark takes size first)
  *   - `SESSION(ts, gap)`        → `session_window(ts, gap)`
  *   - `X_START(args)` / `X_END(args)` → the grouping struct's
  *     `start` / `end` fields
  *   - `X_ROWTIME(args)` → `end - INTERVAL '0.001' SECOND` — the
  *     reference's rowtime attribute is the window end minus 1 ms
  *     (its timestamps are millisecond-precision; emitting the last
  *     contained instant keeps downstream event-time logic from
  *     leaking the row into the next window)
  *   - `X_PROCTIME(args)` → rejected: a proc-time attribute is a
  *     wall-clock processing artifact with no batch/SQL value; the
  *     proc-time executors take DataFrames directly.
  *
  * A size is a day-time interval literal, which Spark's parser already
  * reads as microseconds (`INTERVAL '5.111' SECOND` → 5111000); it
  * reaches `window()` as a duration string. Month/year intervals are not
  * fixed durations — the reference likewise rejects them for group
  * windows — and fail loudly.
  *
  * `TUMBLE(PROCTIME() | <registered proc-time attribute>, size)` groups
  * on the wall clock: its `Aggregate` runs as
  * [[ProcTimeWindows.procTumbleAgg]] instead. HOP/SESSION over proc-time
  * are rejected (sliding/merging wall-clock assigners have no checkable
  * collapse).
  *
  * Rows with a NULL group-window timestamp are dropped by both engines
  * (reference `WindowAggregateITCase.testNullValueInputTimestamp` —
  * "null columns are dropped"; Spark's time-window rewrite filters
  * `isnotnull(ts)`), so the rewrite preserves that semantic for free.
  *
  * Contract, enforced fail-loud: an auxiliary must repeat the family
  * and arguments of the grouping call of ITS OWN query block (the
  * reference's planner resolves an auxiliary against its block's
  * GROUP BY window and rejects a mismatch). A block is an `Aggregate`
  * with the HAVING and ORDER BY directly above it; distinct group
  * windows may coexist across blocks — each carries its own `window`
  * struct — so an auxiliary in block A that repeats block B's window
  * arguments fails loudly instead of silently emitting block A's
  * bounds.
  */
object GroupWindowSql {

  private val Families = Seq("TUMBLE", "HOP", "SESSION")
  private val Suffixes = Seq("", "_START", "_END", "_ROWTIME", "_PROCTIME")

  /** One group-window call `<family><suffix>(args)`; an empty suffix is
    * the grouping call itself. */
  private final case class Call(family: String, suffix: String,
      args: Seq[Expression]) {
    /** What an auxiliary must repeat: family and arguments, names
      * case-folded. */
    def key: (String, Seq[Expression]) = (family, args.map(_.transform {
      case a: UnresolvedAttribute => UnresolvedAttribute(a.nameParts.map(_.toLowerCase))
      case f: UnresolvedFunction => f.copy(nameParts = f.nameParts.map(_.toLowerCase))
    }))
    def procTime: Boolean = args.headOption.exists(TemporalSql.isProcTime)
    def sql: String = s"$family$suffix(${args.map(_.sql).mkString(", ")})"
  }

  private def call(e: Expression): Option[Call] = e match {
    case f: UnresolvedFunction if f.nameParts.size == 1 =>
      val n = f.nameParts.head.toUpperCase
      (for (fam <- Families; sfx <- Suffixes if n == fam + sfx)
        yield Call(fam, sfx, f.arguments)).headOption
    case _ => None
  }

  private def calls(e: Expression): Seq[Call] = e.collect(Function.unlift(call))

  private def groupsOf(a: Aggregate): Seq[Call] =
    a.groupingExpressions.flatMap(calls).filter(_.suffix.isEmpty)

  /** The `Aggregate` of the block `n` belongs to: itself, or the one
    * under the HAVING / ORDER BY directly above it. */
  private def block(n: LogicalPlan): Option[Aggregate] = n match {
    case a: Aggregate => Some(a)
    case h: UnresolvedHaving => block(h.child)
    case s: Sort => block(s.child)
    case _ => None
  }

  /** Rewrite every group-window call of the parsed `plan`, CTE bodies
    * and subqueries included; `plan` itself when it has none. */
  def translate(spark: SparkSession, plan: LogicalPlan): LogicalPlan = {
    val all = graft.Sql.nodes(plan).flatMap(_.expressions.flatMap(calls))
    if (all.isEmpty) return plan
    val groups = all.filter(_.suffix.isEmpty)
    graft.Sql.everywhere(plan) {
      case a: Aggregate if groupsOf(a).exists(_.procTime) => procTumble(spark, a)
      case n if n.expressions.exists(_.exists(call(_).isDefined)) =>
        val own = block(n).map(groupsOf).getOrElse(Nil)
        n.transformExpressionsDown(Function.unlift((e: Expression) =>
          call(e).map(expr(_, own, groups))))
    }
  }

  /** The Spark expression for one call; `own` are the grouping calls of
    * the call's block, `all` those of the whole statement. */
  private def expr(c: Call, own: Seq[Call], all: Seq[Call]): Expression = {
    val struct = if (c.family == "SESSION") "session_window" else "window"
    c.suffix match {
      case "" =>
        require(!c.procTime, procTimeGroups(c))
        val (fn, arity, args) = c.family match {
          case "TUMBLE" => ("window", "(time_attr, size)", Seq(0, 1))
          // reference order is slide-then-size; Spark is size-then-slide
          case "HOP" => ("window", "(time_attr, slide, size)", Seq(0, 2, 1))
          case "SESSION" => ("session_window", "(time_attr, gap)", Seq(0, 1))
        }
        require(c.args.size == args.size,
          s"${c.family} takes $arity; got ${c.args.size} arguments")
        UnresolvedFunction(fn, c.args.head +: args.tail.map(i =>
          Literal(s"${micros(c.args(i))} microseconds")), isDistinct = false)
      case "_PROCTIME" =>
        sys.error(s"${c.family}_PROCTIME is not supported: proc-time " +
          "attributes are wall-clock artifacts with no SQL/batch " +
          "meaning — use the proc-time DataFrame executors " +
          "(graft.streaming) for proc-time composition")
      case sfx =>
        require(!c.procTime, wallClock(c))
        require(own.exists(_.key == c.key),
          s"group-window auxiliary ${c.sql} must repeat its own query " +
            "block's GROUP BY window; this block " +
            (if (own.isEmpty) "has no group window in GROUP BY"
             else "groups by " + own.map(_.sql).mkString("; ")) +
            (if (all.exists(_.key == c.key))
              " (a DIFFERENT block groups by that window — write the " +
                "auxiliary in the block whose GROUP BY it repeats)"
             else ""))
        val bound = UnresolvedAttribute(Seq(struct,
          if (sfx == "_START") "start" else "end"))
        if (sfx == "_ROWTIME") Subtract(bound,
          Literal(1000L, DayTimeIntervalType(DayTimeIntervalType.SECOND)))
        else bound
    }
  }

  private def procTimeGroups(c: Call): String =
    s"${c.family}(${c.args.head.sql}, …) groups by a proc-time attribute: " +
      "proc-time group windows are not supported at the SQL front door " +
      "(wall-clock bounds cannot be oracle-checked) — use the proc-time " +
      "DataFrame executors (graft.streaming.OverAggregates / CountWindows)"

  private def wallClock(c: Call): String =
    s"${c.family}${c.suffix} on a PROC-TIME window is the wall clock " +
      "itself — window bounds never surface through SQL (not " +
      "oracle-checkable); select keys and aggregates only"

  /** A window size in microseconds: a day-time interval literal. */
  private def micros(e: Expression): Long = e match {
    case Literal(us: Long, _: DayTimeIntervalType) => us
    case other => sys.error(
      "group-window size must be a day-time interval literal " +
        s"(INTERVAL '<n>' DAY|HOUR|MINUTE|SECOND), got: ${other.sql} — " +
        "month/year intervals are not fixed durations")
  }

  /** r16: the reference's PROC-TIME TUMBLE spelling — `SELECT
    * keys/aggs … GROUP BY TUMBLE(PROCTIME(), size)[, keys]` (stream
    * WindowAggregateITCase proc-time cases) — as
    * [[ProcTimeWindows.procTumbleAgg]] over the `Aggregate`'s child.
    * The select list holds bare group keys and COUNT/SUM/MIN/MAX/AVG
    * calls with an alias (deterministic output names for the oracle
    * compare); window auxiliaries (`TUMBLE_START`/`_END`) are rejected —
    * they ARE the wall clock, and never surface through SQL. */
  private def procTumble(spark: SparkSession, a: Aggregate): LogicalPlan = {
    val (wins, keyExprs) = a.groupingExpressions.partition(call(_).isDefined)
    val w = call(wins.head).get
    require(w.family == "TUMBLE", procTimeGroups(w))
    require(wins.size == 1, "more than one TUMBLE in GROUP BY")
    require(w.args.size == 2,
      s"TUMBLE takes (time_attr, size); got ${w.args.size} arguments")
    val keys = keyExprs.map {
      case k: UnresolvedAttribute => k.nameParts.last
      case k => sys.error(s"proc-time TUMBLE groups by columns, got ${k.sql}")
    }
    val AggFns = Set("COUNT", "SUM", "MIN", "MAX", "AVG")
    val items = a.aggregateExpressions.map { e =>
      require(calls(e).isEmpty, wallClock(calls(e).head))
      e match {
        case k: UnresolvedAttribute =>
          require(keys.exists(_.equalsIgnoreCase(k.nameParts.last)),
            s"select item '${k.name}' is not a GROUP BY key")
          Left(k.nameParts.last)
        case Alias(f: UnresolvedFunction, alias)
            if AggFns.contains(f.nameParts.last.toUpperCase) =>
          val fn = f.nameParts.last.toUpperCase
          val arg = f.arguments match {
            case Seq(Literal(1, _)) if fn == "COUNT" => None // COUNT(*)
            case Seq(c: UnresolvedAttribute) => Some(c.nameParts.last)
            case Seq(_: UnresolvedStar) =>
              throw new IllegalArgumentException(
                s"$fn(*) is not an aggregate; name a column")
            case other => sys.error(s"proc-time TUMBLE aggregates take one " +
              s"column, got $fn(${other.map(_.sql).mkString(", ")})")
          }
          Right(OverAggregates.Agg(fn, arg, alias, f.isDistinct))
        case other => sys.error("a proc-time TUMBLE selects GROUP BY keys " +
          "and aliased COUNT/SUM/MIN/MAX/AVG(column) calls, got " + other.sql)
      }
    }
    val aggs = items.collect { case Right(agg) => agg }
    require(aggs.nonEmpty, "no aggregate in the SELECT list")
    val out = ProcTimeWindows.procTumbleAgg(
      Bridge.ofRows(spark, translate(spark, a.child)), keys,
      java.time.Duration.of(micros(w.args(1)), java.time.temporal.ChronoUnit.MICROS),
      aggs)
    // the statement's select order; the wall-clock w_start_ms never
    // surfaces through SQL (not oracle-checkable) — the executor API
    // exposes it for callers that want it
    out.select(items.map(_.fold(col, agg => col(agg.alias))): _*)
      .queryExecution.analyzed
  }
}
