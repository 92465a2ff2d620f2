package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The single SQL front door — parity with the reference's one
  * `sqlQuery(String)` entry (reference: flink-table
  * .../api/internal/TableEnvironmentImpl.java:300, which accepts every
  * statement including embedded MATCH_RECOGNIZE), where graft previously
  * exposed per-family entries (`spark.sql`, [[
  * graft.streaming.MatchRecognizeSql.sqlDf]], [[
  * graft.streaming.WindowSql.sqlDf]]).
  *
  * Division of labor: Spark SQL already evaluates OVER windows,
  * ROW_NUMBER filters, joins, subqueries and unions natively in batch —
  * the forms it cannot parse are MATCH_RECOGNIZE and three reference
  * spellings rewritten in front of everything else, batch and
  * streaming alike: group windows (TUMBLE/HOP/SESSION + auxiliaries →
  * `window()`/`session_window()`, [[graft.streaming.GroupWindowSql]]),
  * `UNNEST` (→ `LATERAL explode`/`inline`,
  * [[graft.streaming.UnnestSql]]), and the temporal-join spellings
  * (`LATERAL TABLE (fn(ts))` / `FOR SYSTEM_TIME AS OF` → versioned
  * equi-joins, [[graft.streaming.TemporalSql]]). For pattern matching
  * the router extracts each `<table> MATCH_RECOGNIZE ( ... )` or
  * `(subquery) MATCH_RECOGNIZE ( ... )` source from the statement,
  * executes it through the existing general-schema executor (the
  * subquery form runs through `spark.sql` first — a windowed aggregate
  * feeding pattern matching is the reference's own IT composition),
  * registers the result as a temp view, and hands the spliced
  * statement to `spark.sql` — the surrounding query (joins,
  * aggregations, set ops over the clause result) composes untouched. Tables named in the statement must be resolvable through
  * the session catalog (temp views or tables), exactly as in the
  * reference's registered-table model.
  *
  * Streaming tables take the same door: a statement whose window
  * expressions compute OVER streaming data routes rank/dedup
  * (`ROW_NUMBER()` filter) and OVER-frame shapes to the stateful
  * executors ([[routeStreaming]]) — Spark SQL cannot plan either on a
  * stream — and leaves natively streamable statements (projections,
  * filters, group/window aggregates, stream-static joins, windows on
  * the STATIC side of a stream-static join, CTEs over any of those)
  * with Spark. This routing reads the parsed plan, never the raw text,
  * and registers no view. The df-parameterized per-family entries
  * remain for sources not registered in the catalog.
  *
  * DML parity: the reference's `sqlUpdate` accepts exactly INSERT /
  * CREATE TABLE / DROP TABLE (TableEnvironmentImpl.java:339-384); all
  * three are Spark SQL statements and flow through this same entry —
  * including an INSERT whose SELECT embeds a MATCH_RECOGNIZE clause
  * (the splicer is position-based, so it works inside any statement
  * form). Pinned by `SqlSpec`.
  */
object Sql {

  def sql(spark: SparkSession, text: String): DataFrame = {
    // r16: the reference's PROC-TIME TUMBLE spelling routes to its own
    // executor (GroupWindowSql.procTumbleRoute; wall-clock window starts
    // never surface through SQL) before the text pipeline — HOP/SESSION
    // over proc-time remain tested rejections inside the rewrite
    graft.streaming.GroupWindowSql.procTumbleRoute(spark, text)
      .foreach(df => return df)
    // group-window SQL (TUMBLE/HOP/SESSION + auxiliaries) becomes
    // Spark's native window()/session_window() grouping — a pure text
    // rewrite, so the clause composes anywhere in the statement
    // (including inside a MATCH_RECOGNIZE source subquery)
    val gw = graft.streaming.TemporalSql.rewrite(
      graft.streaming.UnnestSql.rewrite(
        graft.streaming.GroupWindowSql.rewrite(text)))
    val spliced = spliceMatchRecognize(spark, gw)
    routeStreaming(spark, spliced).getOrElse(spark.sql(spliced))
  }

  /** Statements over a STREAMING registered table that Spark SQL cannot
    * plan on a stream — the reference's rank/dedup `ROW_NUMBER()` filter
    * (StreamExecDeduplicateRule / StreamExecRank), OVER frame aggregates
    * (StreamExecOverAggregate), and the sort / limit shapes — route to
    * the stateful executors, so one `sql(text)` call serves them by
    * table NAME just like everything else. The route reads the PARSED
    * plan, never the raw text: [[graft.streaming.WindowSql.route]]
    * splices an executor under each window Project whose child reads a
    * stream (any child Spark can analyze — joins, derived tables, CTEs,
    * qualified columns), and a window entirely on the static side of a
    * stream-static statement, or OVER/ROW_NUMBER inside a string
    * literal or comment, never trips it. Spark itself could never run
    * the routed statements (UnsupportedOperationChecker rejects
    * rank/OVER/sort on streams at query start), so there is nothing the
    * routing can shadow. Everything else (streaming or batch) stays with
    * Spark SQL. */
  private def routeStreaming(spark: SparkSession,
      text: String): Option[DataFrame] = {
    import graft.streaming.WindowSql
    // parse only — an unparsable statement falls through to spark.sql
    // for its real error
    val parsed = scala.util.Try(spark.sessionState.sqlParser.parsePlan(text))
      .getOrElse(return None)
    val plan = WindowSql.prepare(spark, parsed)
    WindowSql.route(spark, plan).orElse(routeStreamingSort(spark, plan))
  }

  /** Streaming sort / limit shapes Spark cannot plan on a stream, routed
    * to the stateful executors with the same child splice as the window
    * route: the Sort or Limit node is replaced by the executor's plan
    * over the projection's (streaming, aggregate-free) child, and Spark
    * analyzes the projection above it. Everything else falls through
    * untouched:
    *
    *  - `ORDER BY <rowtime>[, ties]` (no LIMIT) — the reference's
    *    temporal sort (TemporalSortITCase; StreamExecSortRule admits
    *    only a leading ascending time attribute) → [[
    *    graft.streaming.RowSort.sortByEventTime]]; the executor itself
    *    rejects a non-timestamp leading column.
    *  - `ORDER BY <any>[ DESC][, …] LIMIT n` — the reference's
    *    streaming sort-limit (SortLimitITCase, a global retract top-n,
    *    StreamExecSortLimit) → [[graft.streaming.RankOps.rankRows]]
    *    with no partition key; each change re-emits the full top-n
    *    prefix (the append-log rendering of the retract stream).
    *  - `LIMIT n` (no ORDER BY) — the reference keeps the first n rows
    *    in arrival order (LimitITCase, StreamExecLimit) → the same
    *    executor ordered on the arrival pseudo-column. OFFSET is not
    *    routed (Spark then rejects the stream loudly). */
  private def routeStreamingSort(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedStar
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, Expression, Literal, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
    import org.apache.spark.sql.graftbridge.Bridge
    import graft.streaming.{RankOps, RowSort, WindowSql}

    // splice `exec` under the projection when its child is a stream
    def under(p: LogicalPlan, keys: => Seq[Expression])(
        exec: (DataFrame, Seq[String]) => DataFrame): Option[LogicalPlan] = {
      val (proj, child) = p match {
        case pr: Project => (Some(pr), pr.child)
        case c => (None, c)
      }
      if (child.exists(_.isInstanceOf[Aggregate]) ||
          !WindowSql.readsStream(spark, child)) return None
      scala.util.Try(Bridge.ofRows(spark, child)).toOption
        .filter(_.isStreaming).map { df =>
          val s = WindowSql.splice(spark, df, keys)(exec)
          proj.fold(s.plan)(pr => Project(pr.projectList.flatMap {
            case UnresolvedStar(None) => s.restored
            case e => Seq(e)
          }, s.plan))
        }
    }
    def checked(order: Seq[SortOrder], requireAsc: Boolean): Seq[SortOrder] =
      order.map {
        case o if (o.direction == Ascending ||
            (!requireAsc && o.direction == Descending)) &&
            o.nullOrdering == o.direction.defaultNullOrdering => o
        case o => sys.error("streaming ORDER BY supports only " +
          (if (requireAsc) "ascending keys with the time attribute " +
            "leading (reference StreamExecSortRule), got: "
           else "keys in default null order, got: ") + o.sql)
      }

    (plan match {
      // ORDER BY ... LIMIT n -> global streaming top-n (retract rank)
      case GlobalLimit(Literal(n: Int, _),
          LocalLimit(_, Sort(order, true, child, _))) =>
        lazy val o = checked(order, requireAsc = false)
        under(child, o.map(_.child)) { (df, cols) =>
          RankOps.rankRows(df, Nil, cols.zip(o.map(_.direction == Ascending)), n)
        }
      // LIMIT n -> first n rows in arrival order
      case GlobalLimit(Literal(n: Int, _), LocalLimit(_, child)) =>
        under(child, Nil) { (df, _) =>
          RankOps.rankRows(df, Nil, Seq(("proctime", true)), n)
        }
      // bare ORDER BY -> event-time (temporal) sort
      case Sort(order, true, child, _) =>
        under(child, checked(order, requireAsc = true).map(_.child)) {
          (df, cols) => RowSort.sortByEventTime(df, cols)
        }
      case _ => None
    }).map(Bridge.ofRows(spark, _))
  }

  /** Replace every `<table> MATCH_RECOGNIZE (...)` reference with a temp
    * view holding the executed clause result; returns the spliced
    * statement. Exposed for tests. */
  private[graft] def spliceMatchRecognize(spark: SparkSession,
      text: String): String = {
    val out = new StringBuilder
    var i = 0
    var n = 0
    while (i < text.length) {
      val kw = indexOfWord(text, "MATCH_RECOGNIZE", i)
      if (kw < 0) { out.append(text.substring(i)); i = text.length }
      else {
        // backtrack over whitespace to the source: a table identifier or
        // a parenthesized subquery (reference accepts both —
        // MatchRecognizeITCase.testMatchRecognizeAppliedToWindowedGrouping)
        var e = kw - 1
        while (e >= i && text.charAt(e).isWhitespace) e -= 1
        val (srcDf, srcStart) =
          if (e >= i && text.charAt(e) == ')') {
            val open = balancedOpen(text, e)
            require(open >= i, "unbalanced subquery before MATCH_RECOGNIZE")
            val sub = text.substring(open + 1, e).trim
            require(sub.nonEmpty, "empty subquery before MATCH_RECOGNIZE")
            (spark.sql(sub), open)
          } else {
            val idEnd = e + 1
            while (e >= i && (text.charAt(e).isLetterOrDigit ||
              text.charAt(e) == '_' || text.charAt(e) == '.')) e -= 1
            val table = text.substring(e + 1, idEnd)
            require(table.nonEmpty && !table.head.isDigit,
              s"MATCH_RECOGNIZE must follow a table reference or " +
                s"(subquery), found " +
                s"'${text.substring(math.max(i, kw - 20), kw)}'")
            (spark.table(table), e + 1)
          }
        // forward: the balanced clause body
        var j = kw + "MATCH_RECOGNIZE".length
        while (j < text.length && text.charAt(j).isWhitespace) j += 1
        require(j < text.length && text.charAt(j) == '(',
          "expected '(' after MATCH_RECOGNIZE")
        val close = balancedClose(text, j)
        val clause = text.substring(kw, close + 1)
        val view = s"graft_mr_$n"
        n += 1
        graft.streaming.MatchRecognizeSql
          .sqlDf(srcDf, s"SELECT * FROM graft_mr_src $clause")
          .createOrReplaceTempView(view)
        out.append(text.substring(i, srcStart)).append(view)
        i = close + 1
      }
    }
    out.result()
  }

  /** First occurrence of `word` at or after `from`, case-insensitive, on
    * identifier boundaries, outside single-quoted string literals. */
  private def indexOfWord(s: String, word: String, from: Int): Int = {
    val u = s.toUpperCase
    var i = from
    var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr && c == '\\') i += 2 // skip the escaped char (ADVICE r14)
      else if (c == '\'') { inStr = !inStr; i += 1 }
      else if (!inStr && u.startsWith(word, i) &&
          (i == 0 || !isIdentChar(s.charAt(i - 1))) &&
          (i + word.length >= s.length || !isIdentChar(s.charAt(i + word.length))))
        return i
      else i += 1
    }
    -1
  }

  private def isIdentChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_'

  /** Index of the '(' balancing the ')' at `close`, scanning backward
    * and skipping string literals (quote state derived by a forward
    * pass — backward quote scanning is ambiguous). */
  private def balancedOpen(s: String, close: Int): Int = {
    // forward pass: record paren depth transitions outside strings
    var inStr = false
    var depth = 0
    val opens = new java.util.ArrayDeque[Int]()
    var i = 0
    while (i <= close) {
      val c = s.charAt(i)
      if (inStr && c == '\\') i += 1 // skip the escaped char
      else if (c == '\'') inStr = !inStr
      else if (!inStr && c == '(') { opens.push(i); depth += 1 }
      else if (!inStr && c == ')') {
        if (i == close) return if (opens.isEmpty) -1 else opens.pop()
        if (!opens.isEmpty) opens.pop()
        depth -= 1
      }
      i += 1
    }
    -1
  }

  /** Index of the ')' balancing the '(' at `open`, skipping string
    * literals. */
  private def balancedClose(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr && c == '\\') i += 1 // skip the escaped char
      else if (c == '\'') inStr = !inStr
      else if (!inStr && c == '(') depth += 1
      else if (!inStr && c == ')') {
        depth -= 1
        if (depth == 0) return i
      }
      i += 1
    }
    sys.error("unbalanced parentheses in MATCH_RECOGNIZE clause")
  }
}
