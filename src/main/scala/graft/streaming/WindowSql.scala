package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Ascending, Attribute, CurrentRow, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, NamedExpression, RangeFrame, RowFrame, SpecifiedWindowFrame, UnresolvedWindowExpression, UnspecifiedFrame, WindowExpression, WindowFrame, UnboundedPreceding => FromUnbounded}
import org.apache.spark.sql.catalyst.plans.logical.{FlatMapGroupsWithState, Filter, LogicalPlan, Project, Sort, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DayTimeIntervalType, IntegerType, LongType}

/** The one SQL entry for the streaming WINDOW families — OVER frame
  * aggregates and the `ROW_NUMBER()` rank/dedup filter — read from
  * Spark's own PARSED plan, the way the reference's planner rules match
  * nodes of the one Calcite tree (reference: flink-table-planner-blink
  * .../stream/StreamExecOverAggregate.scala:56 routing on the frame and
  * the row-time vs proc-time order key; StreamExecDeduplicateRule.scala
  * matching `ROW_NUMBER() = 1`; StreamExecRank for any other rank
  * range; IT surface OverWindowITCase, RankITCase, DeduplicateITCase).
  *
  * The rewrite: parse the statement once, inline its `WITH` bodies,
  * substitute named windows (`WindowsSubstitution`), then for each
  * `Project` whose window expressions compute over a routed subtree,
  * run the Project's child as a DataFrame, run the executor on it with
  * the keys, frame and aggregates read from the `WindowSpecDefinition`,
  * replace each window expression with a reference to the executor's
  * output column, and put the executor's plan in the child's place.
  * Spark analyzes everything else — wrappers (`ROUND`, `CAST`,
  * arithmetic), pass-through and qualified columns, joins, derived
  * tables, the rank `Filter` and the outer `ORDER BY`.
  *
  * Dispatch:
  *  - `ROW_NUMBER()` → [[RankOps.rankRows]], `k` from the `rn <= k` /
  *    `rn < k` / `rn = k` filter directly above (the filter itself
  *    stays, so `rn = k` keeps only rank k — RankITCase.testTopNth);
  *    `ORDER BY proctime [DESC]` orders on arrival (keep-first /
  *    keep-last dedup);
  *  - a row-time order key → [[OverAggregates.overAggregates]] with
  *    UNBOUNDED / ROWS n / RANGE UNBOUNDED (SQL peers; also the default
  *    frame under ORDER BY) / RANGE t PRECEDING, t an INTERVAL or bare
  *    epoch microseconds;
  *  - `ORDER BY proctime[, tie-break…]` → the bounded proc-time frames,
  *    [[OverAggregates.procRowsAggregates]] /
  *    [[OverAggregates.procRangeAggregates]].
  *
  * Every window item of one SELECT list must share one spec (one
  * operator pass, the reference's per-window physical operator); any
  * function other than ROW_NUMBER/COUNT/SUM/AVG/MIN/MAX, a FOLLOWING
  * frame, or a spec without ORDER BY fails loudly and names the cause.
  * The parsed plan is read, not the analyzed one: Spark's analyzer
  * rejects three shapes graft serves (`ORDER BY proctime, ts, id`,
  * composite-key RANGE frames, bare-microsecond RANGE bounds on a
  * timestamp key) before any rule could see them. */
object WindowSql {

  import OverAggregates.{Agg, Frame, RangePreceding, RangeUnbounded,
    RowsPreceding, UnboundedPreceding}

  private val supported = Seq("ROW_NUMBER", "COUNT", "SUM", "AVG", "MIN", "MAX")

  /** Run an OVER or ROW_NUMBER statement against an arbitrary DataFrame
    * (batch or streaming). The statement's one table name is nominal:
    * the DataFrame IS the table, under that name (so `t.col` resolves),
    * in every FROM clause, CTE body and derived table of the statement.
    *
    * `batchNative` (default ON): a BATCH input plans as Spark's own
    * WindowExec — codegen'd and spill-aware — for every shape the native
    * window expresses: OVER frames on a row-time key ([[nativeBatch]];
    * RANGE only on a single timestamp key) and value-ordered ranks, with
    * the rank filter pushed into WindowGroupLimit
    * ([[RankOps.rankRowsBatchNative]]). Pass false to force the stateful
    * executors' batch collapse (the correctness gate does, so the
    * declared queries keep exercising the streaming executors; the
    * specs pin both paths row-identical, decimal exactness included).
    * DISTINCT aggregates and `proctime` orders always take the
    * executors. */
  def sqlDf(df: DataFrame, text: String,
      batchNative: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val plan = prepare(spark, spark.sessionState.sqlParser.parsePlan(text))
    val tables = plan.collectWithSubqueries {
      case r: UnresolvedRelation => r.multipartIdentifier.mkString(".").toLowerCase
    }.distinct
    require(tables.size == 1, "sqlDf reads its DataFrame as the statement's " +
      s"one table; found ${tables.size} (${tables.mkString(", ")}) — " +
      "register views and use graft.Sql.sql for joins")
    plan.foreach(p => require(p.isInstanceOf[Project] || !hasWindow(p),
      "window functions are served in a SELECT list; found one in " +
        s"${p.nodeName} — compute it in a derived table first"))
    val source = df.queryExecution.analyzed
    val bound = plan.transformUpWithSubqueries {
      case r: UnresolvedRelation =>
        SubqueryAlias(r.multipartIdentifier.last, source)
    }
    Bridge.ofRows(spark, rewrite(spark, bound, batchNative && !df.isStreaming,
      strict = true).get)
  }

  /** The front door's streaming route ([[graft.Sql.sql]]): splice every
    * window Project whose child reads a stream; None when none does (the
    * statement is then Spark's alone — windows over static data, or
    * over a static side of a stream-static join, plan natively).
    * `plan` comes from [[prepare]]. */
  private[graft] def route(spark: SparkSession,
      plan: LogicalPlan): Option[DataFrame] = {
    if (!plan.exists(hasWindow) || !readsStream(spark, plan)) return None
    rewrite(spark, plan, native = false, strict = false)
      .map(Bridge.ofRows(spark, _))
  }

  /** Parse-tree normalization shared by both entries: inline every
    * `WITH` body in place of its name (a CTE is a named subquery; no
    * temp view is registered) and substitute `WINDOW` definitions. */
  private[graft] def prepare(spark: SparkSession,
      parsed: LogicalPlan): LogicalPlan = {
    def inline(p: LogicalPlan, defs: Seq[(String, LogicalPlan)]): LogicalPlan =
      if (defs.isEmpty) p else p.transformUpWithSubqueries {
        case r: UnresolvedRelation if r.multipartIdentifier.size == 1 =>
          defs.reverse.find(_._1.equalsIgnoreCase(r.multipartIdentifier.head))
            .map(_._2).getOrElse(r)
      }
    val flat = parsed.transformUpWithSubqueries {
      case w: UnresolvedWith =>
        val defs = w.cteRelations.foldLeft(Seq.empty[(String, LogicalPlan)]) {
          case (acc, r) => acc :+ (r._1 -> inline(r._2, acc))
        }
        inline(w.child, defs)
    }
    spark.sessionState.analyzer.WindowsSubstitution(flat)
  }

  /** A spliced executor: the plan that replaces a Project's child, the
    * child's own columns re-exposed under their names and qualifiers,
    * and the columns the executor added. */
  private[graft] final case class Spliced(plan: LogicalPlan,
      restored: Seq[Attribute], added: Seq[Attribute])

  /** Run `exec` over the analyzed `child` and splice its plan back into
    * the parsed statement. `keys` are the statement's key expressions;
    * `exec` receives them as column names of its input — a plain column
    * reference (qualified or not) names the child's column, anything
    * else is computed into an extra input column first. Child columns
    * that share a name (a join's two `id`s) reach the executor renamed
    * apart; the returned plan restores every child column with its
    * original name and qualifier, then appends what `exec` added. */
  private[graft] def splice(spark: SparkSession, child: DataFrame,
      keys: Seq[Expression])(
      exec: (DataFrame, Seq[String]) => DataFrame): Spliced = {
    val childPlan = child.queryExecution.analyzed
    val out = childPlan.output
    val lower = out.map(_.name.toLowerCase)
    val names = out.indices.map(i =>
      if (lower.count(_ == lower(i)) == 1) out(i).name
      else s"${out(i).name}__$i")
    val resolver = spark.sessionState.conf.resolver
    val extra = scala.collection.mutable.ArrayBuffer.empty[(String, Expression)]
    val keyNames = keys.map { k =>
      val hit = k match {
        case u: UnresolvedAttribute =>
          childPlan.resolve(u.nameParts, resolver).collect {
            case a: Attribute => out.indexWhere(_.exprId == a.exprId)
          }.filter(_ >= 0)
        case _ => None
      }
      hit.map(names).getOrElse {
        val n = s"__k${extra.size}"
        extra += n -> k
        n
      }
    }
    val input =
      if (names == out.map(_.name) && extra.isEmpty) child
      else child.select(out.zip(names).map { case (a, n) =>
        Bridge.column(a).as(n) } ++ extra.map { case (n, e) =>
        Bridge.column(e).as(n) }: _*)
    val res = exec(input, keyNames).queryExecution.analyzed
    val restored = out.indices.map(i =>
      Alias(res.output(i), out(i).name)(qualifier = out(i).qualifier))
    val added = res.output.drop(input.columns.length)
    Spliced(Project(restored ++ added, res), restored.map(_.toAttribute), added)
  }

  /** Splice every routed window Project of `plan`; None when `strict` is
    * off and nothing read a stream. In strict mode (sqlDf) every window
    * Project routes and analysis errors surface as they are. */
  private def rewrite(spark: SparkSession, plan: LogicalPlan,
      native: Boolean, strict: Boolean): Option[LogicalPlan] = {
    var routed = false
    var streamed = false
    def rw(p: LogicalPlan, filter: Option[Expression]): LogicalPlan = p match {
      case r if r.resolved => r // an analyzed subtree holds no parsed window
      case f: Filter => f.copy(child = rw(f.child, Some(f.condition)))
      case sa: SubqueryAlias => sa.copy(child = rw(sa.child, filter))
      case pr: Project if hasWindow(pr) =>
        val child = rw(pr.child, None)
        val childDf =
          if (strict) Some(Bridge.ofRows(spark, child))
          else scala.util.Try(Bridge.ofRows(spark, child)).toOption
            .filter(_.isStreaming)
        childDf.fold(pr.copy(child = child): LogicalPlan) { df =>
          routed = true
          streamed ||= df.isStreaming
          allowChainedStateful(spark, df)
          spliceProject(spark, pr, df, filter, native)
        }
      case other => other.mapChildren(rw(_, None))
    }
    val out = rw(plan, None)
    require(!streamed || !out.exists {
      case s: Sort => s.global
      case _ => false
    }, "the trailing ORDER BY is a batch presentation order; a continuous " +
      "stream has no final order — drop it on streaming inputs")
    if (routed || strict) Some(out) else None
  }

  private def spliceProject(spark: SparkSession, pr: Project,
      child: DataFrame, filter: Option[Expression],
      native: Boolean): LogicalPlan = {
    val wins = pr.projectList.flatMap(_.collect {
      case w: WindowExpression => w
      case u: UnresolvedWindowExpression => sys.error(
        s"OVER references undefined window '${u.windowSpec.name}'")
    }).distinct
    val fns = wins.map(fnOf)
    val names = fns.map(_.nameParts.last.toUpperCase)
    // reference parity: StreamExecRank supports only ROW_NUMBER on a
    // stream and throws on the other rank types (StreamExecRank.scala:
    // 139-143) — same message
    Seq("RANK", "DENSE_RANK").foreach { fn =>
      require(!names.contains(fn), s"$fn() on streaming table is not " +
        "supported currently (reference parity: only ROW_NUMBER ranks a " +
        "stream)")
    }
    names.find(!supported.contains(_)).foreach { fn =>
      sys.error(s"window function $fn() is not supported on the streaming " +
        s"OVER/rank route; supported: ${supported.mkString(", ")}")
    }
    val specs = wins.map(_.windowSpec).distinct
    require(specs.size == 1,
      "every OVER item must share one window spec (one operator pass); " +
        s"found ${specs.size} distinct specs")
    val spec = specs.head
    require(spec.orderSpec.nonEmpty, "a streaming OVER/rank window needs " +
      "ORDER BY an event-time column or proctime: a stream has no " +
      "whole-partition frame")
    spec.orderSpec.foreach(o => require(
      o.nullOrdering == o.direction.defaultNullOrdering,
      s"explicit NULLS ordering is not supported in a window ORDER BY: ${o.sql}"))
    val parts = spec.partitionSpec
    val s = if (names.contains("ROW_NUMBER")) {
      require(wins.size == 1,
        "ROW_NUMBER() must be the only window function of its SELECT list")
      val rn = pr.projectList.collectFirst {
        case Alias(_: WindowExpression, n) => n
      }.getOrElse(sys.error("ROW_NUMBER() needs an alias for its rank filter"))
      val k = rankBound(filter, rn)
      val arrival = spec.orderSpec.map(o => isProctime(o.child, child))
      val order = spec.orderSpec.zip(arrival).collect { case (o, false) => o.child }
      splice(spark, child, parts ++ order) { (in, cols) =>
        val (partCols, orderCols) = cols.splitAt(parts.size)
        val it = orderCols.iterator
        val orderKeys = spec.orderSpec.zip(arrival).map { case (o, arr) =>
          (if (arr) "proctime" else it.next(), o.direction == Ascending)
        }
        if (native && !arrival.contains(true))
          RankOps.rankRowsBatchNative(in, partCols, orderKeys, k, Some("__rn"))
        else RankOps.rankRows(in, partCols, orderKeys, k, Some("__rn"))
      }
    } else {
      spec.orderSpec.foreach(o => require(o.direction == Ascending,
        s"OVER frames fold in ascending order; found ${o.sql}"))
      val procTime = isProctime(spec.orderSpec.head.child, child)
      val order = spec.orderSpec.drop(if (procTime) 1 else 0).map(_.child)
      val frame = frameOf(spec.frameSpecification)
      val args = wins.zip(fns).map { case (w, f) =>
        require(f.filter.isEmpty && !f.ignoreNulls,
          s"FILTER / IGNORE NULLS are not supported on OVER: ${w.sql}")
        f.arguments match {
          case Seq(l: Literal) if l.value != null && !f.isDistinct &&
              f.nameParts.last.equalsIgnoreCase("COUNT") => None
          case Seq(e) => Some(e)
          case as => sys.error(
            s"${f.nameParts.last} OVER takes one argument, got ${as.size}")
        }
      }
      splice(spark, child, parts ++ order ++ args.flatten) { (in, cols) =>
        val (partCols, rest) = cols.splitAt(parts.size)
        val (orderCols, argCols) = rest.splitAt(order.size)
        val it = argCols.iterator
        val aggs = OverAggregates.normalizeAggs(
          fns.zip(args).zipWithIndex.map { case ((f, a), i) =>
            Agg(f.nameParts.last.toUpperCase, a.map(_ => it.next()),
              s"__w$i", f.isDistinct)
          })
        if (procTime) frame match {
          // proc-time ROWS/RANGE: arrival-order frames; the ORDER BY
          // columns after `proctime` are the intra-batch determinism key
          // (micro-batch rendering of the reference's arrival order)
          case RowsPreceding(n) => OverAggregates.procRowsAggregates(in,
            partCols, orderCols, n, aggs)
          case RangePreceding(h) => OverAggregates.procRangeAggregates(in,
            partCols, orderCols, h, aggs)
          case _ => sys.error(
            "proc-time unbounded OVER is not supported: ORDER BY proctime " +
              "covers bounded ROWS and RANGE frames only; order by an " +
              "event-time column for an unbounded frame")
        } else {
          (if (native) nativeBatch(in, partCols, orderCols, frame, aggs)
           else None).getOrElse(OverAggregates.overAggregates(in, partCols,
            orderCols, frame, aggs))
        }
      }
    }
    val ref = wins.zip(s.added).toMap[Expression, Expression]
    Project(pr.projectList.flatMap {
      case UnresolvedStar(None) => s.restored
      case e => Seq(e.transformDown {
        case w: WindowExpression => ref(w)
      }.asInstanceOf[NamedExpression])
    }, s.plan)
  }

  private def fnOf(w: WindowExpression): UnresolvedFunction =
    w.windowFunction match {
      case f: UnresolvedFunction => f
      case other => sys.error(s"unsupported window function ${other.sql}")
    }

  /** The rank bound `k` from the filter directly above a ROW_NUMBER
    * subquery: `rn <= k`, `rn < k` (k-1) or `rn = k`, among any other
    * conjuncts. */
  private def rankBound(filter: Option[Expression], rn: String): Int = {
    def isRn(e: Expression): Boolean = e match {
      case u: UnresolvedAttribute => u.nameParts.last.equalsIgnoreCase(rn)
      case _ => false
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case c => Seq(c)
    }
    object K {
      def unapply(e: Expression): Option[Int] = e match {
        case Literal(v: Int, _) => Some(v)
        case Literal(v: Long, _) if v.isValidInt => Some(v.toInt)
        case _ => None
      }
    }
    val hits = filter.toSeq.flatMap(conjuncts).filter(_.exists(isRn))
    require(hits.nonEmpty, s"ROW_NUMBER() over a stream needs a rank filter " +
      s"on its alias directly above the subquery: WHERE $rn <= k or " +
      s"WHERE $rn = k")
    val k = hits.map {
      case EqualTo(a, K(k)) if isRn(a) => k
      case EqualTo(K(k), a) if isRn(a) => k
      case LessThanOrEqual(a, K(k)) if isRn(a) => k
      case GreaterThanOrEqual(K(k), a) if isRn(a) => k
      case LessThan(a, K(k)) if isRn(a) => k - 1
      case GreaterThan(K(k), a) if isRn(a) => k - 1
      case other => sys.error(s"rank filter must be '$rn = k', '$rn <= k' " +
        s"or '$rn < k'; found '${other.sql}'")
    }.min
    require(k >= 1, s"rank bound must be >= 1, got $k")
    k
  }

  /** `proctime` / `proctime()` in a window ORDER BY is the arrival
    * pseudo-column, unless the input carries a real `proctime` column. */
  private def isProctime(e: Expression, child: DataFrame): Boolean = e match {
    case u: UnresolvedAttribute =>
      u.nameParts.size == 1 && u.name.equalsIgnoreCase("proctime") &&
        !child.columns.contains("proctime")
    case f: UnresolvedFunction =>
      f.nameParts.last.equalsIgnoreCase("proctime") && f.arguments.isEmpty
    case _ => false
  }

  private def frameOf(f: WindowFrame): Frame = {
    def bad = sys.error(s"unsupported OVER frame ${f.sql}: frames end at " +
      "CURRENT ROW and start at UNBOUNDED PRECEDING or <n> PRECEDING")
    // a literal PRECEDING bound parses as its negation; ROWS counts
    // rows, RANGE also takes a day-time INTERVAL
    def preceding(e: Expression, rows: Boolean): Long =
      (scala.util.Try(e.eval()).getOrElse(bad), e.dataType) match {
        case (n: Int, _: IntegerType) if n <= 0 => -n.toLong
        case (n: Long, _: LongType) if n <= 0 => -n
        case (n: Long, _: DayTimeIntervalType) if !rows && n <= 0 => -n
        case (i: org.apache.spark.unsafe.types.CalendarInterval, _)
            if !rows && i.months == 0 && i.days <= 0 && i.microseconds <= 0 =>
          -(i.days * 86400000000L + i.microseconds)
        case _ => bad
      }
    f match {
      case UnspecifiedFrame => RangeUnbounded // SQL default under ORDER BY
      case SpecifiedWindowFrame(RowFrame, FromUnbounded, CurrentRow) =>
        UnboundedPreceding
      case SpecifiedWindowFrame(RangeFrame, FromUnbounded, CurrentRow) =>
        RangeUnbounded
      case SpecifiedWindowFrame(RowFrame, lo, CurrentRow) =>
        val n = preceding(lo, rows = true)
        if (!n.isValidInt) bad
        RowsPreceding(n.toInt)
      case SpecifiedWindowFrame(RangeFrame, lo, CurrentRow) =>
        // an INTERVAL bound or bare epoch microseconds on the time key
        RangePreceding(java.time.Duration.ofNanos(
          Math.multiplyExact(preceding(lo, rows = false), 1000L)))
      case _ => bad
    }
  }

  private def hasWindow(p: LogicalPlan): Boolean =
    p.expressions.exists(_.exists {
      case _: WindowExpression | _: UnresolvedWindowExpression => true
      case _ => false
    })

  /** Whether any table the parsed `plan` names, or any analyzed subtree
    * the front door spliced into it (an embedded MATCH_RECOGNIZE, a
    * proc-time TUMBLE), is a stream — the cheap gate in front of
    * analyzing whole subtrees. */
  private[graft] def readsStream(spark: SparkSession,
      plan: LogicalPlan): Boolean =
    plan.collectWithSubqueries {
      case r: UnresolvedRelation => r
      case p if p.resolved && p.isStreaming => p
    }.distinct.exists {
      case r: UnresolvedRelation =>
        scala.util.Try(Bridge.ofRows(spark, r).isStreaming).getOrElse(false)
      case _ => true
    }

  /** When a splice composes a stateful executor ATOP another graft
    * stateful executor (rank over a derived table computing an OVER
    * aggregate), Spark's UnsupportedOperationChecker conservatively
    * rejects the chain — `checkStreamingQueryGlobalWatermarkLimit`
    * refuses ANY stateful operator downstream of a
    * flatMapGroupsWithState in append mode, because an arbitrary FMGWS
    * may emit rows older than the global watermark which a downstream
    * event-time operator would silently drop. The graft chain is safe by
    * construction: the inner executor emits a row only once the
    * watermark has passed its event time, the projection drops the
    * event-time column, and the outer executor (rank/top-n) keys on
    * ordinary columns with order-insensitive state — no downstream
    * late-row filter exists to drop anything. Spark's sanctioned escape
    * is the session conf below (error → logged warning), which this
    * route and the front door's streaming top-n ([[graft.Sql]]'s sort
    * route; its rank executor keeps no watermark either) set ONLY when
    * the spliced child actually contains a stateful executor. */
  private[graft] def allowChainedStateful(spark: SparkSession,
      df: DataFrame): Unit = {
    val stateful = df.isStreaming && df.queryExecution.logical.exists {
      case _: FlatMapGroupsWithState => true
      case _ => false
    }
    if (stateful) spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled",
      "false")
  }

  /** The native-WindowExec batch plan for an expressible spec, or None
    * to fall back to the stateful executor (DISTINCT aggregates, or a
    * RANGE frame not on one timestamp key). Output columns match the
    * executor's types and values bit-for-bit: frames fold left-to-right
    * in the same order (doubles), decimal SUM casts to the executor's
    * DecimalType(38, s), and AVG over decimal divides the EXACT decimal
    * sum as the executor does. */
  private def nativeBatch(df: DataFrame, parts: Seq[String],
      orderCols: Seq[String], frame: Frame,
      aggs: Seq[Agg]): Option[DataFrame] = {
    import org.apache.spark.sql.expressions.{Window, WindowSpec}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DecimalType, TimestampType}
    // same loud up-front contract as the executor: a non-numeric SUM
    // must fail here, not as an ANSI cast error mid-query
    OverAggregates.checkAggs(df.schema, aggs)
    // Spark's WindowExec rejects DISTINCT window aggregates — those
    // always take the stateful executor's collapse
    if (aggs.exists(_.distinct)) return None
    val base =
      if (parts.isEmpty) Window.partitionBy()
      else Window.partitionBy(parts.map(col): _*)
    val w: WindowSpec = frame match {
      case UnboundedPreceding => base.orderBy(orderCols.map(col): _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      case RangeUnbounded => base.orderBy(orderCols.map(col): _*)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      case RowsPreceding(n) => base.orderBy(orderCols.map(col): _*)
        .rowsBetween(-n.toLong, 0L)
      case RangePreceding(h) =>
        // native rangeBetween needs ONE numeric order key; the executor
        // frames on the leading timestamp's epoch micros — same math
        if (orderCols.size != 1) return None
        val c = orderCols.head
        if (df.schema(df.schema.fieldIndex(c)).dataType != TimestampType)
          return None
        base.orderBy(unix_micros(col(c)))
          .rangeBetween(-(h.toNanos / 1000), 0L)
    }
    val out = aggs.foldLeft(df) { case (acc, Agg(fn, colOpt, alias, _)) =>
      val expr = (fn, colOpt) match {
        case ("COUNT", None) => count(lit(1)).over(w)
        case ("COUNT", Some(c)) => count(col(c)).over(w)
        case (f, Some(c)) =>
          val isDec = df.schema(df.schema.fieldIndex(c)).dataType match {
            case d: DecimalType => Some(d)
            case _ => None
          }
          (f, isDec) match {
            case ("SUM", Some(d)) => sum(col(c)).over(w)
              .cast(DecimalType(DecimalType.MAX_PRECISION, d.scale))
            case ("AVG", Some(_)) => // exact decimal sum, then one division
              (sum(col(c)).over(w).cast("double") / count(col(c)).over(w))
            case ("SUM", None) => sum(col(c)).over(w)
            case ("AVG", None) => avg(col(c)).over(w)
            case ("MIN", _) => min(col(c)).over(w)
            case ("MAX", _) => max(col(c)).over(w)
            case other => sys.error(s"unreachable agg $other")
          }
        case other => sys.error(s"unreachable agg $other")
      }
      acc.withColumn(alias, expr)
    }
    Some(out)
  }
}
