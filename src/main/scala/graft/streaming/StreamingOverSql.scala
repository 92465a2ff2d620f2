package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, round}

/** SQL text entry for the STREAMING OVER-aggregate family — the same
  * move as [[MatchRecognizeSql]] for pattern matching: a thin clause
  * mapper from the reference's streaming OVER shapes (reference:
  * flink-table-planner-blink .../stream/StreamExecOverAggregate.scala:56
  * routing on the window's ROWS/RANGE bound and row-time vs proc-time
  * order key, and the OverWindowITCase query texts) onto the
  * general-schema executors in [[OverAggregates]], so a reference user
  * can paste the `OVER (PARTITION BY k ORDER BY rowtime ROWS/RANGE
  * BETWEEN ... PRECEDING AND CURRENT ROW)` clause over any DataFrame
  * instead of calling the API.
  *
  * Accepted grammar (anything else fails loudly — mis-executing a
  * clause silently is worse than rejecting it):
  *
  * {{{
  * SELECT item [, item]* FROM <ident>
  * [WINDOW <name> AS ( spec )] [ORDER BY out [, out]*]
  * item  := <column>
  *        | [ROUND(] agg OVER ( spec | <name> ) [, digits)] [AS alias]
  * agg   := COUNT(*) | COUNT([DISTINCT] col) | SUM([DISTINCT] col)
  *        | AVG([DISTINCT] col) | MIN(col) | MAX(col)
  * spec  := [PARTITION BY col [, col]*]
  *          ORDER BY col [, col]* | proctime [, col]*
  *          frame
  * frame := ROWS UNBOUNDED PRECEDING
  *        | ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  *        | ROWS BETWEEN <n> PRECEDING AND CURRENT ROW
  *        | RANGE UNBOUNDED PRECEDING
  *        | RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  *        | RANGE BETWEEN <micros> PRECEDING AND CURRENT ROW
  *        | RANGE BETWEEN INTERVAL '<n>' DAY|HOUR|MINUTE|SECOND
  *                        PRECEDING AND CURRENT ROW
  * }}}
  *
  * Dispatch mirrors the reference's `StreamExecOverAggregate` routing:
  * a row-time order key runs [[OverAggregates.overAggregates]] with the
  * parsed frame (UNBOUNDED, RANGE UNBOUNDED with SQL peer semantics,
  * ROWS n, RANGE t PRECEDING); `ORDER BY proctime` routes the bounded
  * frames to [[OverAggregates.procRowsAggregates]] /
  * [[OverAggregates.procRangeAggregates]] (reference
  * ProcTimeRowsBoundedPrecedingFunction /
  * ProcTimeRangeBoundedPrecedingFunction), with any ORDER BY columns
  * after `proctime` as the intra-batch determinism key. Every OVER item
  * in one statement must share one window spec — that is one operator
  * pass, exactly the constraint the reference's per-window physical
  * operator imposes. DISTINCT aggregates (`COUNT/SUM/AVG(DISTINCT col)`
  * — the reference's DistinctView family) always execute on the stateful
  * operator's collapse: Spark's WindowExec rejects distinct window
  * aggregates.
  */
object StreamingOverSql {

  import OverAggregates.{Frame, RangePreceding, RangeUnbounded,
    RowsPreceding, UnboundedPreceding}

  private final case class Spec(partCol: String, orderCols: Seq[String],
      procTime: Boolean, frame: Frame)

  private sealed trait Item
  private final case class PassThrough(name: String) extends Item
  private final case class Measure(fn: String, arg: String, alias: String,
      spec: Either[String, Spec], roundDigits: Option[Int],
      distinct: Boolean = false) extends Item

  /** Run a streaming-OVER SQL statement against an ARBITRARY DataFrame
    * (batch or streaming), executed by [[OverAggregates]] the way
    * [[MatchRecognizeSql.sqlDf]] is executed by
    * [[PatternMatch.matchRows]] (reference surface: the
    * OverWindowITCase shapes — string/composite/absent PARTITION BY,
    * COUNT/SUM/MIN/MAX/AVG over any numeric column, UNBOUNDED / ROWS n /
    * RANGE t PRECEDING frames). `FROM <ident>` is nominal: the DataFrame
    * IS the table. `ORDER BY proctime` frames ROWS n and RANGE t in
    * arrival order through [[OverAggregates.procRowsAggregates]] /
    * [[OverAggregates.procRangeAggregates]]; a proc-time UNBOUNDED frame
    * is rejected rather than mis-executed.
    *
    * `batchNative` (default ON, r12): a BATCH row-time input plans as
    * Spark's own WindowExec — whole-stage-codegen'd, spill-aware, the
    * 100 TB batch plan — for every frame the native window expresses
    * (UNBOUNDED / ROWS always; RANGE when the order key is the single
    * timestamp, framed on epoch micros exactly like the executor).
    * Pass false to force the stateful executor's batch collapse (the
    * correctness gate does for q133–q138, so the declared queries keep
    * exercising the streaming executor; `StreamingOverSqlSpec` pins the
    * two paths row-identical, decimal exactness included). */
  def sqlDf(df: DataFrame, text: String,
      batchNative: Boolean = true): DataFrame = {
    val p = new MatchRecognizeSql.P(MatchRecognizeSql.tokenize(text))
    p.expect("SELECT")
    val items = scala.collection.mutable.ArrayBuffer.empty[Item]
    items += parseItem(p, df)
    while (p.accept(",")) items += parseItem(p, df)
    p.expect("FROM")
    p.ident()
    var windows = Map.empty[String, Spec]
    if (p.accept("WINDOW")) {
      do {
        val name = p.ident().toLowerCase
        p.expect("AS"); p.expect("(")
        windows += name -> parseSpec(p, df)
        p.expect(")")
      } while (p.accept(","))
    }
    val outOrder = scala.collection.mutable.ArrayBuffer.empty[String]
    if (p.accept("ORDER")) {
      p.expect("BY")
      do outOrder += p.ident().toLowerCase while (p.accept(","))
    }
    require(p.peek.isEmpty, s"unexpected trailing tokens from '${p.peek}'")

    val measures = items.collect { case m: Measure => m }
    require(measures.nonEmpty, "no OVER aggregate in SELECT list")
    val specs = measures.map {
      case Measure(_, _, _, Left(name), _, _) =>
        windows.getOrElse(name, sys.error(
          s"OVER references undefined window '$name'"))
      case Measure(_, _, _, Right(s), _, _) => s
    }
    require(specs.distinct.size == 1,
      "every OVER item must share one window spec (one operator pass); " +
        s"found ${specs.distinct.size} distinct specs")
    val spec = specs.head
    // MIN/MAX(DISTINCT) normalize to the plain aggregates up front
    // (extrema are dedup-invariant), so they also take the native batch
    // route below — only COUNT/SUM/AVG(DISTINCT) must decline it
    val aggs = OverAggregates.normalizeAggs(measures.map(m =>
      OverAggregates.Agg(m.fn,
        if (m.arg == "*" || m.arg == "1") None else Some(m.arg), m.alias,
        m.distinct)).toSeq)
    val parts = spec.partCol.split(',').toSeq.filter(_.nonEmpty)
    val out = nativeBatch(df, spec, aggs, parts, batchNative).getOrElse {
      if (spec.procTime) spec.frame match {
        // proc-time ROWS/RANGE: arrival-order frames on any schema; the
        // trailing ORDER BY columns are the intra-batch determinism key
        // (micro-batch rendering of the reference's arrival order)
        case RowsPreceding(n) => OverAggregates.procRowsAggregates(df,
          parts, spec.orderCols.filterNot(_ == "proctime"), n, aggs)
        case RangePreceding(h) => OverAggregates.procRangeAggregates(df,
          parts, spec.orderCols.filterNot(_ == "proctime"), h, aggs)
        case _ => sys.error(
          "proc-time unbounded OVER is not supported: ORDER BY proctime " +
            "covers bounded ROWS and RANGE frames only; order by an " +
            "event-time column for an unbounded frame")
      } else OverAggregates.overAggregates(df, parts, spec.orderCols,
        spec.frame, aggs)
    }
    val cols = items.map {
      case PassThrough(name) => col(name)
      case Measure(_, _, alias, _, dig, _) =>
        dig.fold(col(alias))(d => round(col(alias), d)).as(alias)
    }
    val sel = out.select(cols.toSeq: _*)
    if (outOrder.isEmpty) sel else sel.orderBy(outOrder.map(col).toSeq: _*)
  }

  /** The native-WindowExec batch plan for an expressible spec, or None
    * to fall back to the stateful executor (streaming, proc-time, or a
    * RANGE frame with a composite order key). Output columns match the
    * executor's types and values bit-for-bit: frames fold left-to-right
    * in the same order (doubles), decimal SUM casts to the executor's
    * DecimalType(38, s), and AVG over decimal divides the EXACT decimal
    * sum as the executor does. */
  private def nativeBatch(df: DataFrame, spec: Spec,
      aggs: Seq[OverAggregates.Agg], parts: Seq[String],
      enabled: Boolean): Option[DataFrame] = {
    import org.apache.spark.sql.expressions.{Window, WindowSpec}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DecimalType, TimestampType}
    if (!enabled || df.isStreaming || spec.procTime) return None
    // same loud up-front contract as the executor: a non-numeric SUM
    // must fail here, not as an ANSI cast error mid-query
    OverAggregates.checkAggs(df.schema, aggs)
    // Spark's WindowExec rejects DISTINCT window aggregates — those
    // always take the stateful executor's collapse
    if (aggs.exists(_.distinct)) return None
    val base =
      if (parts.isEmpty) Window.partitionBy()
      else Window.partitionBy(parts.map(col): _*)
    val w: WindowSpec = spec.frame match {
      case UnboundedPreceding => base.orderBy(spec.orderCols.map(col): _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      case RangeUnbounded => base.orderBy(spec.orderCols.map(col): _*)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      case RowsPreceding(n) => base.orderBy(spec.orderCols.map(col): _*)
        .rowsBetween(-n.toLong, 0L)
      case RangePreceding(h) =>
        // native rangeBetween needs ONE numeric order key; the executor
        // frames on the leading timestamp's epoch micros — same math
        if (spec.orderCols.size != 1) return None
        val c = spec.orderCols.head
        if (df.schema(df.schema.fieldIndex(c)).dataType != TimestampType)
          return None
        base.orderBy(unix_micros(col(c)))
          .rangeBetween(-(h.toNanos / 1000), 0L)
    }
    val out = aggs.foldLeft(df) { case (acc, OverAggregates.Agg(fn, colOpt, alias, _)) =>
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

  private def parseItem(p: MatchRecognizeSql.P, df: DataFrame): Item = {
    val rounded = p.acceptWords("ROUND", "(")
    val t = p.peek.toUpperCase
    if (Set("COUNT", "SUM", "MAX", "AVG", "MIN").contains(t) &&
        p.peekAt(1) == "(") {
      p.next(); p.expect("(")
      val distinct = p.accept("DISTINCT")
      val arg0 = p.next()
      p.expect(")")
      val arg = if (arg0 == "*" || arg0 == "1") arg0 else {
        val a = arg0.toLowerCase
        require(df.columns.contains(a),
          s"$t($arg0): no such column in ${df.columns.mkString(", ")}")
        a
      }
      require(t == "COUNT" || (arg != "*" && arg != "1"),
        s"$t requires a value column, found $t($arg0)")
      require(!distinct || (arg != "*" && arg != "1"),
        s"DISTINCT requires a value column, found $t(DISTINCT $arg0)")
      p.expect("OVER")
      val spec: Either[String, Spec] =
        if (p.accept("(")) { val s = parseSpec(p, df); p.expect(")"); Right(s) }
        else Left(p.ident().toLowerCase)
      val digits = if (rounded) {
        p.expect(","); val d = p.intLit(); p.expect(")"); Some(d)
      } else None
      val alias =
        if (p.accept("AS")) p.ident().toLowerCase
        else sys.error(s"alias required for $t OVER (the driver compare " +
          "matches columns by name)")
      Measure(t, arg, alias, spec, digits, distinct)
    } else {
      require(!rounded, "ROUND(...) wraps only an aggregate OVER item")
      val name = p.ident().toLowerCase
      require(df.columns.contains(name),
        s"pass-through column '$name' not in ${df.columns.mkString(", ")}")
      PassThrough(name)
    }
  }

  /** General-schema window spec: PARTITION BY is optional (the reference
    * IT cases use non-partitioned OVER) and composite; ORDER BY names any
    * input columns (the executor enforces the leading-timestamp contract
    * where streaming/RANGE requires it). Encodes the partition columns
    * comma-joined in Spec.partCol so the shared-spec equality check
    * stays structural. */
  private def parseSpec(p: MatchRecognizeSql.P, df: DataFrame): Spec = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    if (p.accept("PARTITION")) {
      p.expect("BY")
      do parts += p.ident().toLowerCase while (p.accept(","))
    }
    p.expect("ORDER"); p.expect("BY")
    val orderCols = scala.collection.mutable.ArrayBuffer.empty[String]
    do orderCols += p.ident().toLowerCase while (p.accept(","))
    val procTime = orderCols.headOption.contains("proctime")
    if (procTime && p.accept("(")) p.expect(")")
    (parts ++ orderCols.filterNot(_ == "proctime")).foreach(c =>
      require(df.columns.contains(c),
        s"window spec column '$c' not in ${df.columns.mkString(", ")}"))
    val frame = parseFrame(p)
    Spec(parts.mkString(","), orderCols.toSeq, procTime, frame)
  }

  private def parseFrame(p: MatchRecognizeSql.P): Frame = {
    if (p.accept("ROWS")) {
      if (p.acceptWords("UNBOUNDED", "PRECEDING")) UnboundedPreceding
      else {
        p.expect("BETWEEN")
        if (p.acceptWords("UNBOUNDED", "PRECEDING")) {
          p.expect("AND"); p.expect("CURRENT"); p.expect("ROW")
          UnboundedPreceding
        } else {
          val n = p.intLit()
          p.expect("PRECEDING"); p.expect("AND")
          p.expect("CURRENT"); p.expect("ROW")
          RowsPreceding(n)
        }
      }
    } else if (p.accept("RANGE")) {
      if (p.acceptWords("UNBOUNDED", "PRECEDING")) return RangeUnbounded
      p.expect("BETWEEN")
      if (p.acceptWords("UNBOUNDED", "PRECEDING")) {
        p.expect("AND"); p.expect("CURRENT"); p.expect("ROW")
        return RangeUnbounded
      }
      val us: Long =
        if (p.accept("INTERVAL")) {
          val lit = p.next()
          require(lit.length >= 2 && lit.head == '\'' && lit.last == '\'',
            s"INTERVAL expects a quoted value, found $lit")
          val n = lit.substring(1, lit.length - 1).trim.toLong
          val unit = p.next().toUpperCase.stripSuffix("S")
          val perUnit = unit match {
            case "DAY" => 86400000000L
            case "HOUR" => 3600000000L
            case "MINUTE" => 60000000L
            case "SECOND" => 1000000L
            case u => sys.error(s"unsupported INTERVAL unit $u")
          }
          n * perUnit
        } else {
          // bare literal = epoch microseconds (the fixture ts precision)
          val t = p.next()
          require(t.nonEmpty && t.forall(_.isDigit),
            s"RANGE bound must be an integer or INTERVAL, found '$t'")
          t.toLong
        }
      p.expect("PRECEDING"); p.expect("AND")
      p.expect("CURRENT"); p.expect("ROW")
      RangePreceding(java.time.Duration.ofNanos(us * 1000L))
    } else sys.error(s"expected ROWS or RANGE frame, found '${p.peek}'")
  }
}
