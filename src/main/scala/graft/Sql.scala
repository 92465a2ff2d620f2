package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation, UnresolvedStar, UnresolvedTVFAliases, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, Expression, LateralSubquery, Literal, SortOrder}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, AlterViewAs, CacheTableAsSelect, CreateView, GlobalLimit, Join, LateralJoin, LocalLimit, LogicalPlan, Project, Sort, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.execution.command.CreateViewCommand
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, StringType, StructType}

import graft.streaming.{GroupWindowSql, MatchRecognizeSql, TemporalSql, WindowSql}

/** The single SQL front door — parity with the reference's one
  * `sqlQuery(String)` entry (reference: flink-table
  * .../api/internal/TableEnvironmentImpl.java:300, which accepts every
  * statement including embedded MATCH_RECOGNIZE), where graft previously
  * exposed per-family entries (`spark.sql`, [[
  * graft.streaming.MatchRecognizeSql.sqlDf]], [[
  * graft.streaming.WindowSql.sqlDf]]).
  *
  * Division of labor: a statement is parsed ONCE, by the session's
  * parser, the way the reference's planner rules match nodes of its one
  * Calcite tree. That parser is [[Parser]], which [[GraftExtensions]]
  * installs around Spark's own, so `spark.sql`, this entry and the view
  * text Spark re-parses on every read all accept the same dialect. Spark
  * SQL evaluates OVER windows, ROW_NUMBER filters, joins, subqueries and
  * unions natively in batch; the parser adds three steps around Spark's
  * parse, batch and streaming alike:
  *
  *  1. a text pre-pass for exactly the spellings Spark's parser rejects —
  *     each `<table> MATCH_RECOGNIZE (…)` or `(subquery) MATCH_RECOGNIZE
  *     (…)` source becomes a placeholder relation name (Spark has no
  *     MATCH_RECOGNIZE grammar), the operand of `FOR SYSTEM_TIME AS OF
  *     <column>` a placeholder string literal (Spark's time travel takes
  *     only constants), and the precision suffix of `INTERVAL '5.111'
  *     SECOND(1,3)` is dropped. All three share one [[Scan]], so string
  *     literals, quoted identifiers and comments never match;
  *  2. Spark's parse;
  *  3. one rewrite of the parsed plan ([[rewrite]]): each MATCH_RECOGNIZE
  *     placeholder becomes a `SubqueryAlias` over the pattern executor's
  *     plan — the subquery source runs through this same entry first, as
  *     a windowed aggregate feeding pattern matching is the reference's
  *     own IT composition; each AS OF placeholder a versioned join
  *     ([[graft.streaming.TemporalSql]]); `UNNEST(x)` and `LATERAL TABLE
  *     (udtf(x))` become Spark's lateral generators (`explode` for one
  *     alias column, `inline` for more), `LATERAL TABLE (fn(ts))` over a
  *     registered temporal table function a versioned equi-join, and the
  *     group windows `TUMBLE`/`HOP`/`SESSION` with their auxiliaries
  *     `window()`/`session_window()` grouping
  *     ([[graft.streaming.GroupWindowSql]]).
  *
  * This entry then tries the streaming routes below, else runs the plan
  * as `spark.sql` does (`Bridge.ofRows`).
  *
  * Quotes, escapes and comments are Spark's lexer's business, query
  * blocks are `Aggregate` nodes, and alias column counts are
  * `UnresolvedTVFAliases` — no step re-derives them from text, and no
  * step registers a temp view. Tables named in the statement must be
  * resolvable through the session catalog (temp views or tables),
  * exactly as in the reference's registered-table model.
  *
  * Streaming tables take the same door: a statement whose window
  * expressions compute OVER streaming data routes rank/dedup
  * (`ROW_NUMBER()` filter) and OVER-frame shapes to the stateful
  * executors ([[graft.streaming.WindowSql.route]]), and sort / limit
  * shapes likewise ([[routeStreamingSort]]) — Spark SQL cannot plan
  * either on a stream — and leaves natively streamable statements
  * (projections, filters, group/window aggregates, stream-static joins,
  * windows on the STATIC side of a stream-static join, CTEs over any of
  * those) with Spark. The df-parameterized per-family entries remain
  * for sources not registered in the catalog.
  *
  * DML parity: the reference's `sqlUpdate` accepts exactly INSERT /
  * CREATE TABLE / DROP TABLE (TableEnvironmentImpl.java:339-384); all
  * three are Spark SQL statements and flow through this same entry —
  * including an INSERT whose SELECT embeds a MATCH_RECOGNIZE clause.
  * Pinned by `SqlSpec`.
  */
object Sql {

  def sql(spark: SparkSession, text: String): DataFrame = {
    val plan = spark.sessionState.sqlParser.parsePlan(text)
    val prepared = WindowSql.prepare(spark, plan)
    WindowSql.route(spark, prepared)
      .orElse(routeStreamingSort(spark, prepared))
      .getOrElse(Bridge.ofRows(spark, plan))
  }

  /** The session parser: steps 1–3 around each statement or query that
    * `delegate` (Spark's parser) parses; expressions, identifiers and
    * types go to `delegate` unchanged. `parsePlanWithParameters` is what
    * `spark.sql` calls, and `parseQuery` what reads a view's text. */
  final class Parser(spark: SparkSession, delegate: ParserInterface)
      extends ParserInterface {

    private def graft(text: String)(parse: String => LogicalPlan): LogicalPlan = {
      val (placed, matches) = placeMatchRecognize(text)
      val (spelled, asOfs) = placeAsOf(placed)
      val parsed = parse(dropIntervalPrecision(spelled))
      // the spellings in place of the placeholders, AS OF operands first
      // (a MATCH_RECOGNIZE spelling is original text)
      val spellings = asOfs.toSeq.map { case (name, operand) => s"'$name'" -> operand } ++
        matches.toSeq.map { case (name, m) => name -> m.spelling }
      rewrite(spark, storedText(parsed, spellings), matches,
        asOfs.map { case (name, operand) => name -> delegate.parseExpression(operand) })
    }

    override def parsePlan(sqlText: String): LogicalPlan =
      graft(sqlText)(delegate.parsePlan)
    override def parsePlanWithParameters(sqlText: String,
        params: ParameterContext): LogicalPlan =
      graft(sqlText)(delegate.parsePlanWithParameters(_, params))
    override def parseQuery(sqlText: String): LogicalPlan =
      graft(sqlText)(delegate.parseQuery)

    override def parseExpression(sqlText: String): Expression =
      delegate.parseExpression(sqlText)
    override def parseTableIdentifier(sqlText: String): TableIdentifier =
      delegate.parseTableIdentifier(sqlText)
    override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
      delegate.parseFunctionIdentifier(sqlText)
    override def parseMultipartIdentifier(sqlText: String): Seq[String] =
      delegate.parseMultipartIdentifier(sqlText)
    override def parseRoutineParam(sqlText: String): StructType =
      delegate.parseRoutineParam(sqlText)
    override def parseTableSchema(sqlText: String): StructType =
      delegate.parseTableSchema(sqlText)
    override def parseDataType(sqlText: String): DataType =
      delegate.parseDataType(sqlText)
  }

  /** Where an embedded MATCH_RECOGNIZE clause reads from — a table name
    * (Left) or a subquery's text (Right) —, the clause itself, and the
    * source and clause as the statement spells them. */
  private final case class Match(source: Either[String, String],
      clause: String, spelling: String)

  /** A view-defining statement with its stored text spelled as written:
    * Spark keeps the SQL text of a view and re-parses it on every read,
    * and the text it cut from the parsed statement holds the pre-pass
    * placeholders (`spellings`: placeholder → original spelling). */
  private def storedText(plan: LogicalPlan,
      spellings: Seq[(String, String)]): LogicalPlan = {
    def spelled(text: String) = spellings.foldLeft(text) {
      case (t, (placeholder, spelling)) => t.replace(placeholder, spelling)
    }
    plan match {
      case _ if spellings.isEmpty => plan
      case c: CreateView => c.copy(originalText = c.originalText.map(spelled))
      case c: CreateViewCommand => c.copy(originalText = c.originalText.map(spelled))
      case a: AlterViewAs => a.copy(originalText = spelled(a.originalText))
      case c: CacheTableAsSelect => c.copy(originalText = spelled(c.originalText))
      case p => p
    }
  }

  /** Step 3: the one rewrite of the parsed statement — CTE bodies and
    * subquery expressions included. `asOfs` are the AS OF placeholders'
    * operands. */
  private def rewrite(spark: SparkSession, parsed: LogicalPlan,
      matches: Map[String, Match], asOfs: Map[String, Expression]): LogicalPlan = {
    // `t FOR SYSTEM_TIME AS OF <placeholder> [[AS] r]`: alias, table, operand
    object AsOf {
      def unapply(p: LogicalPlan): Option[(Option[String], UnresolvedRelation, Expression)] =
        p match {
          case SubqueryAlias(id, AsOf(None, table, operand)) =>
            Some((Some(id.name), table, operand))
          case RelationTimeTravel(table: UnresolvedRelation,
              Some(Literal(placeholder, _: StringType)), None)
              if asOfs.contains(String.valueOf(placeholder)) =>
            Some((None, table, asOfs(String.valueOf(placeholder))))
          case _ => None
        }
    }
    val relations = everywhere(parsed) {
      case r: UnresolvedRelation
          if matches.contains(r.multipartIdentifier.mkString(".")) =>
        val name = r.multipartIdentifier.mkString(".")
        val m = matches(name)
        val src = m.source.fold(spark.table, sql(spark, _))
        SubqueryAlias(name, MatchRecognizeSql
          .sqlDf(src, s"SELECT * FROM graft_mr_src ${m.clause}")
          .queryExecution.analyzed)
      case Join(left, AsOf(alias, table, operand), joinType, cond, _) =>
        TemporalSql.systemTimeJoin(spark, Some(left), alias, table, operand,
          joinType, cond)
      case AsOf(alias, table, operand) =>
        TemporalSql.systemTimeJoin(spark, None, alias, table, operand, Inner, None)
      // `UNNEST(x)` right of a join is what Spark parses for
      // `LATERAL explode|inline(x)` in the same position
      case Join(left, right @ FromCall("UNNEST", _), joinType, cond, _) =>
        LateralJoin(left, LateralSubquery(generator(right)), joinType, cond)
      case j @ LateralJoin(left, sub, joinType, cond)
          if FromCall.unapply(sub.plan).isDefined =>
        versionedJoin(spark, Some(left), sub.plan, joinType, cond)
          .getOrElse(j.copy(right = sub.withNewPlan(generator(sub.plan))))
      // no left side: a plain generator
      case p @ FromCall(_, _) =>
        versionedJoin(spark, None, p, Inner, None).getOrElse(generator(p))
    }
    GroupWindowSql.translate(spark, relations)
  }

  /** A FROM-clause `UNNEST(…)` or `TABLE(…)` call (the latter is how
    * Spark parses `LATERAL TABLE (…)`): the call's kind and node, under
    * its optional alias and column list. */
  private object FromCall {
    def unapply(p: LogicalPlan): Option[(String, UnresolvedTableValuedFunction)] =
      p match {
        case SubqueryAlias(_, c) => unapply(c)
        case a: UnresolvedTVFAliases => unapply(a.child)
        case f: UnresolvedTableValuedFunction if f.name.size == 1 &&
            Set("UNNEST", "TABLE").contains(f.name.head.toUpperCase) =>
          Some((f.name.head.toUpperCase, f))
        case _ => None
      }
  }

  /** The call renamed to Spark's generator: `explode` for one alias
    * column (or none), `inline` for an array of rows expanded to two or
    * more. A two-column alias over a MAP operand would pick `inline` and
    * fail in the analyzer — spell map expansion `LATERAL explode(m)`. */
  private def generator(p: LogicalPlan): LogicalPlan = {
    val cols = p.collectFirst { case a: UnresolvedTVFAliases => a.outputNames.size }
    val fn = Seq(if (cols.exists(_ >= 2)) "inline" else "explode")
    p.transformUp {
      case a: UnresolvedTVFAliases => a.copy(name = fn)
      case f: UnresolvedTableValuedFunction => f.copy(name = fn)
    }
  }

  /** `LATERAL TABLE (fn(ts)) AS r` over a registered temporal `fn`: the
    * versioned join of [[graft.streaming.TemporalSql]]; None for any
    * other call. */
  private def versionedJoin(spark: SparkSession, left: Option[LogicalPlan],
      right: LogicalPlan, joinType: JoinType,
      cond: Option[Expression]): Option[LogicalPlan] = {
    val alias = right match {
      case SubqueryAlias(id, _) => Some(id.name)
      case _ => None
    }
    FromCall.unapply(right).collect { case ("TABLE", f) => f }.flatMap(f =>
      TemporalSql.versionedJoin(spark, left, alias, f.functionArgs, joinType, cond))
  }

  /** `rule` applied top-down to every node of `plan`, of its subquery
    * expressions and of its CTE bodies (`UnresolvedWith.cteRelations`
    * are not children). */
  private[graft] def everywhere(plan: LogicalPlan)(
      rule: PartialFunction[LogicalPlan, LogicalPlan]): LogicalPlan =
    plan.transformDownWithSubqueries(rule.orElse {
      case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map {
        case (n, body, depth) =>
          (n, everywhere(body)(rule).asInstanceOf[SubqueryAlias], depth)
      })
    })

  /** Every node of `plan`, of its subquery expressions and of its CTE
    * bodies. */
  private[graft] def nodes(plan: LogicalPlan): Seq[LogicalPlan] =
    plan.collectWithSubqueries {
      case w: UnresolvedWith => w +: w.cteRelations.flatMap(r => nodes(r._2))
      case n => Seq(n)
    }.flatten

  /** Statements over a STREAMING registered table that Spark SQL cannot
    * plan on a stream: the sort / limit shapes route to the stateful
    * executors with the same child splice as the window route — the
    * Sort or Limit node is replaced by the executor's plan over the
    * projection's (streaming, aggregate-free) child, and Spark analyzes
    * the projection above it. Spark itself could never run the routed
    * statements (UnsupportedOperationChecker rejects sort/limit on
    * streams at query start), so there is nothing the routing can
    * shadow. Everything else falls through untouched:
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
      plan: LogicalPlan): Option[DataFrame] = {
    import graft.streaming.{RankOps, RowSort}

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
    // the global top-n; over another graft stateful executor (an
    // embedded MATCH_RECOGNIZE) it chains as the window route's rank does
    def ranked(df: DataFrame, order: Seq[(String, Boolean)], n: Int) = {
      WindowSql.allowChainedStateful(spark, df)
      RankOps.rankRows(df, Nil, order, n)
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
          ranked(df, cols.zip(o.map(_.direction == Ascending)), n)
        }
      // LIMIT n -> first n rows in arrival order
      case GlobalLimit(Literal(n: Int, _), LocalLimit(_, child)) =>
        under(child, Nil) { (df, _) => ranked(df, Seq(("proctime", true)), n) }
      // bare ORDER BY -> event-time (temporal) sort
      case Sort(order, true, child, _) =>
        under(child, checked(order, requireAsc = true).map(_.child)) {
          (df, cols) => RowSort.sortByEventTime(df, cols)
        }
      case _ => None
    }).map(Bridge.ofRows(spark, _))
  }

  /** Step 1: every `<table> MATCH_RECOGNIZE (…)` or `(subquery)
    * MATCH_RECOGNIZE (…)` source → a placeholder relation name that the
    * statement spells nowhere else (so a session view of that name is
    * neither read nor replaced); returns the text and each placeholder's
    * source and clause. The reference accepts both source forms
    * (MatchRecognizeITCase.testMatchRecognizeAppliedToWindowedGrouping). */
  private def placeMatchRecognize(text: String): (String, Map[String, Match]) = {
    val s = new Scan(text)
    val lower = text.toLowerCase
    val names = Iterator.from(0).map(n => s"graft_mr_$n").filterNot(lower.contains)
    val out = new StringBuilder
    val found = Map.newBuilder[String, Match]
    var i = 0
    var kw = s.indexOfWord("MATCH_RECOGNIZE", 0)
    while (kw >= 0) {
      // backtrack over whitespace to the source
      var e = kw - 1
      while (e >= i && text.charAt(e).isWhitespace) e -= 1
      val (source, start) =
        if (e >= i && text.charAt(e) == ')' && s.code(e)) {
          val open = s.balancedOpen(e)
          require(open >= i, "unbalanced subquery before MATCH_RECOGNIZE")
          val sub = text.substring(open + 1, e).trim
          require(sub.nonEmpty, "empty subquery before MATCH_RECOGNIZE")
          (Right(sub), open)
        } else {
          val idEnd = e + 1
          while (e >= i && (Scan.isIdentChar(text.charAt(e)) ||
            text.charAt(e) == '.')) e -= 1
          val table = text.substring(e + 1, idEnd)
          require(table.nonEmpty && !table.head.isDigit,
            s"MATCH_RECOGNIZE must follow a table reference or " +
              s"(subquery), found " +
              s"'${text.substring(math.max(i, kw - 20), kw)}'")
          (Left(table), e + 1)
        }
      // forward: the balanced clause body
      var j = kw + "MATCH_RECOGNIZE".length
      while (j < text.length && text.charAt(j).isWhitespace) j += 1
      require(j < text.length && text.charAt(j) == '(',
        "expected '(' after MATCH_RECOGNIZE")
      val close = s.balancedClose(j)
      val name = names.next()
      found += name -> Match(source, text.substring(kw, close + 1),
        text.substring(start, close + 1))
      out.append(text.substring(i, start)).append(name)
      i = close + 1
      kw = s.indexOfWord("MATCH_RECOGNIZE", i)
    }
    (out.append(text.substring(i)).result(), found.result())
  }

  private val SystemTimeAsOf = java.util.regex.Pattern.compile(
    """FOR\s+SYSTEM_TIME\s+AS\s+OF\s+""", java.util.regex.Pattern.CASE_INSENSITIVE)

  /** Step 1: the operand of every `FOR SYSTEM_TIME AS OF <operand>` that
    * is a dotted, possibly backticked identifier or a call such as
    * `PROCTIME()` → a string placeholder `'graft_asof_<n>'`, which
    * Spark's parser reads as a time-travel timestamp under the table's
    * alias; returns the text and each placeholder's operand. A literal
    * operand (`'2020-01-01'`, `TIMESTAMP '…'`) is Spark's own time
    * travel and stays. */
  private def placeAsOf(text: String): (String, Map[String, String]) = {
    val s = new Scan(text)
    val lower = text.toLowerCase
    val names = Iterator.from(0).map(n => s"graft_asof_$n").filterNot(lower.contains)
    // end of the operand at `from`; `from` when it is not a column or call
    def operand(from: Int): Int = {
      var j = from
      var segment = true
      while (segment) {
        val st = j
        if (j < text.length && text.charAt(j) == '`')
          j = math.max(text.indexOf('`', j + 1) + 1, st)
        else while (j < text.length && Scan.isIdentChar(text.charAt(j))) j += 1
        if (j == st || text.charAt(st).isDigit) return from
        segment = j < text.length && text.charAt(j) == '.'
        if (segment) j += 1
      }
      val next = text.indexWhere(!_.isWhitespace, j)
      if (next >= 0 && text.charAt(next) == '\'') from // TIMESTAMP '…'
      else if (j < text.length && text.charAt(j) == '(') s.balancedClose(j) + 1
      else j
    }
    val m = SystemTimeAsOf.matcher(text)
    val out = new StringBuilder
    val found = Map.newBuilder[String, String]
    var i = 0
    var k = s.indexOfWord("FOR", 0)
    while (k >= 0) {
      if (m.region(k, text.length).lookingAt()) {
        val end = operand(m.end)
        if (end > m.end) {
          val name = names.next()
          found += name -> text.substring(m.end, end)
          out.append(text.substring(i, m.end)).append(s"'$name'")
          i = end
        }
      }
      k = s.indexOfWord("FOR", math.max(k + 1, i))
    }
    (out.append(text.substring(i)).result(), found.result())
  }

  private val Precision = java.util.regex.Pattern.compile(
    """INTERVAL\s*'[^']*'\s*(?:DAY|HOUR|MINUTE|SECOND)(\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))""",
    java.util.regex.Pattern.CASE_INSENSITIVE)

  /** Step 1: `INTERVAL '5.111' SECOND(1,3)` → `INTERVAL '5.111' SECOND`.
    * The reference's precision suffix only constrains the literal's
    * printed digits — the value already carries them. */
  private def dropIntervalPrecision(text: String): String = {
    val s = new Scan(text)
    val m = Precision.matcher(text)
    val out = new StringBuilder
    var i = 0
    var k = s.indexOfWord("INTERVAL", 0)
    while (k >= 0) {
      if (m.region(k, text.length).lookingAt()) {
        out.append(text.substring(i, m.start(1)))
        i = m.end(1)
      }
      k = s.indexOfWord("INTERVAL", math.max(k + 1, i))
    }
    out.append(text.substring(i)).result()
  }

  /** The one text scanner of the pre-pass: `code(i)` tells whether
    * character `i` of `text` is SQL code — outside `'…'` and `"…"`
    * literals (backslash escapes honoured; Spark's default dialect reads
    * both as strings), backtick identifiers, `--` line comments and
    * (nested) block comments. */
  private[graft] final class Scan(val text: String) {
    val code: Array[Boolean] = {
      val m = new Array[Boolean](text.length)
      def quoted(from: Int, q: Char, escapes: Boolean): Int = {
        var j = from + 1
        while (j < text.length && text.charAt(j) != q)
          j += (if (escapes && text.charAt(j) == '\\') 2 else 1)
        j + 1
      }
      def blockComment(from: Int): Int = {
        var depth = 0
        var j = from
        do {
          if (text.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (text.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        } while (depth > 0 && j < text.length)
        j
      }
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        if (c == '\'' || c == '"') i = quoted(i, c, escapes = true)
        else if (c == '`') i = quoted(i, c, escapes = false)
        else if (text.startsWith("--", i)) {
          val nl = text.indexOf('\n', i)
          i = if (nl < 0) text.length else nl
        } else if (text.startsWith("/*", i)) i = blockComment(i)
        else { m(i) = true; i += 1 }
      }
      m
    }

    /** First code occurrence of `word` at or after `from`,
      * case-insensitive, on identifier boundaries; -1 when none. */
    def indexOfWord(word: String, from: Int): Int = {
      var i = from
      while (i + word.length <= text.length) {
        if (code(i) && text.regionMatches(true, i, word, 0, word.length) &&
            (i == 0 || !Scan.isIdentChar(text.charAt(i - 1))) &&
            (i + word.length == text.length ||
              !Scan.isIdentChar(text.charAt(i + word.length))))
          return i
        i += 1
      }
      -1
    }

    /** Index of the ')' balancing the '(' at `open`. */
    def balancedClose(open: Int): Int = {
      var depth = 0
      var i = open
      while (i < text.length) {
        if (code(i) && text.charAt(i) == '(') depth += 1
        else if (code(i) && text.charAt(i) == ')') {
          depth -= 1
          if (depth == 0) return i
        }
        i += 1
      }
      throw new IllegalArgumentException("unbalanced parentheses from '" +
        text.substring(math.max(0, open - 24), open + 1).trim + "'")
    }

    /** Index of the '(' balancing the ')' at `close`; -1 when none. */
    def balancedOpen(close: Int): Int = {
      var depth = 0
      var i = close
      while (i >= 0) {
        if (code(i) && text.charAt(i) == ')') depth += 1
        else if (code(i) && text.charAt(i) == '(') {
          depth -= 1
          if (depth == 0) return i
        }
        i -= 1
      }
      -1
    }
  }

  private[graft] object Scan {
    def isIdentChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'
  }
}
