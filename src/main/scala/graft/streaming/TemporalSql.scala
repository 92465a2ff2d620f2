package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.catalyst.plans.JoinType
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan, SubqueryAlias}

import graft.Sql.Scan.isIdentChar

/** The reference's temporal-join SQL spellings, rewritten to native
  * Spark joins (reference: flink-table planner-blink —
  * `Orders AS o, LATERAL TABLE (Rates(o.rowtime)) AS r` over a
  * registered `TemporalTableFunction`, stream
  * `TemporalJoinITCase.scala:56-111`; and
  * `JOIN rates FOR SYSTEM_TIME AS OF o.proc AS r ON …` over a lookup
  * source, `TableSourceITCase.scala:366`).
  *
  * A temporal table function is a keyed, versioned history: the join
  * attaches, per left row, the version whose time is the latest at or
  * before the left row's time attribute. That is expressible as a
  * plain Spark equi-join against the history with its version
  * VALIDITY INTERVAL made explicit — each version is valid from its
  * own timestamp (inclusive) until the key's next version (exclusive):
  *
  * {{{
  *   , LATERAL TABLE (Rates(o.rowtime)) AS r   -- reference spelling
  *   -- becomes --
  *   JOIN (SELECT *, lead(t) OVER (PARTITION BY k ORDER BY t)
  *           AS graft_vend FROM rates_view) AS r
  *     ON o.rowtime >= r.t AND (r.graft_vend IS NULL OR o.rowtime < r.graft_vend)
  * }}}
  *
  * The reference's key-equality predicate (`WHERE r.currency =
  * o.currency`, or the `ON` clause of the FOR SYSTEM_TIME form) stays
  * exactly where the user wrote it: within the matched key the
  * validity intervals are disjoint and covering, so key equality plus
  * the interval containment selects exactly the as-of version — and
  * Catalyst pushes the equality into the join, leaving the interval as
  * a residual on an ordinary equi-join (broadcastable for small dims,
  * SMJ at scale; never a cross join). Aliases survive because the
  * rewrite swaps only the relation, so `o.amount * r.rate` resolves
  * untouched. `r` additionally exposes the internal
  * `graft_vend` column (visible to `SELECT r.*`; select columns
  * explicitly, as every reference IT case does).
  *
  * A proc-time attribute argument (the literal `PROCTIME()`, or a
  * column registered via [[registerProcTimeAttribute]] — `proctime` is
  * pre-registered as the reference IT cases' canonical name) means
  * "the latest version" (the reference's lookup join): the interval
  * condition degenerates to `graft_vend IS NULL`. Proc-time is opt-in,
  * never inferred from a name prefix — the reference types its
  * proc-time attributes at declaration (`'proc.proctime`), and an
  * event-time column that merely resembles the name must not silently
  * become a lookup join.
  * `FOR SYSTEM_TIME AS OF <proctime>` over a table with NO registered
  * version metadata joins the table as-is — the reference's
  * LookupableTableSource reads current contents the same way. An
  * event-time AS OF over an unregistered table fails loudly (version
  * history unknown). Ties inside a key's history (two versions with
  * one timestamp) make the interval split ambiguous — register a
  * deduplicated history, as the reference's `createTemporalTableFunction`
  * assumes unique version times per key.
  *
  * `LATERAL TABLE (fn(ts))` is rewritten on Spark's parsed plan (Spark
  * reads it as a table-valued function named `TABLE`,
  * [[versionedJoin]]); `FOR SYSTEM_TIME AS OF <column>` is text
  * ([[rewrite]]), because Spark's parser refuses a column reference as
  * a time-travel timestamp.
  *
  * Streaming: these spellings rewrite to a plain join, which Spark
  * plans on a stream only in its stream-static form (static versioned
  * dim). For a CHANGING dim stream use the stateful executor
  * ([[TemporalJoinAny.temporalJoin]]) directly —
  * the SQL spelling serves the batch/stream-static surface.
  */
object TemporalSql {

  /** One registered temporal table function / versioned table:
    * the catalog view holding the history, its version-time column and
    * its primary-key column. */
  private final case class Versioned(view: String, timeCol: String,
      keyCol: String)

  private val registry = TrieMap.empty[String, Versioned]

  /** Column names (last dotted segment, lower-cased) declared to be
    * processing-time attributes. Proc-time is OPT-IN: only the literal
    * `PROCTIME()` and exactly-matching registered names select the
    * latest-version (lookup) semantics — an event-time column that
    * merely RESEMBLES a proc-time name (`proc`, `proctime_ts`) must not
    * silently degenerate the temporal join to latest-version-only. The
    * default entry is `proctime`, the reference IT cases' canonical
    * proc-time attribute name; register others explicitly. */
  private val procTimeNames = {
    val m = TrieMap.empty[String, Unit]
    m.put("proctime", ())
    m
  }

  /** Declare `name` a processing-time attribute (the reference's
    * `'proc.proctime` field declaration — there, proc-time is a typed
    * attribute, never a naming convention; this registry is the rewrite
    * layer's equivalent of that declaration). */
  def registerProcTimeAttribute(name: String): Unit =
    procTimeNames.put(name.trim.toLowerCase, ())

  def dropProcTimeAttribute(name: String): Unit =
    procTimeNames.remove(name.trim.toLowerCase)

  /** Register `name` as a temporal table function over the catalog
    * view/table `view` (the reference's
    * `createTemporalTableFunction(timeAttr, primaryKey)` +
    * `registerFunction`). The same entry serves `FOR SYSTEM_TIME AS OF`
    * when `name` is the table being joined. */
  def registerTemporalFunction(name: String, view: String,
      timeCol: String, keyCol: String): Unit =
    registry.put(name.toLowerCase, Versioned(view, timeCol, keyCol))

  def dropTemporalFunction(name: String): Unit =
    registry.remove(name.toLowerCase)

  /** Rewrite every `FOR SYSTEM_TIME AS OF` join of `text` — the front
    * door's text pre-pass, since Spark's parser refuses a column
    * reference as a time-travel timestamp; returns `text` unchanged when
    * the form does not appear. `LATERAL TABLE (fn(ts))` parses, and is
    * rewritten on the parsed plan ([[versionedJoin]]). */
  def rewrite(text: String): String = {
    // `JOIN name FOR SYSTEM_TIME AS OF expr [AS] alias ON cond` →
    // versioned-subquery JOIN with the interval containment prepended to
    // the ON condition
    val scan = new graft.Sql.Scan(text)
    val out = new StringBuilder
    var i = 0
    while (i < text.length) {
      val k = scan.indexOfWord("FOR", i)
      val isSysTime = k >= 0 && text.substring(k).toUpperCase
        .replaceAll("\\s+", " ").startsWith("FOR SYSTEM_TIME AS OF ")
      if (k < 0) { out.append(text.substring(i)); i = text.length }
      else if (!isSysTime) {
        // some other FOR — copy it and keep scanning
        out.append(text.substring(i, k + "FOR".length))
        i = k + "FOR".length
      } else {
        val hit = k
        // the dim name just before FOR
        var e = hit - 1
        while (e >= i && text.charAt(e).isWhitespace) e -= 1
        val nameEnd = e + 1
        while (e >= i && (isIdentChar(text.charAt(e)) || text.charAt(e) == '.')) e -= 1
        val dimName = text.substring(e + 1, nameEnd)
        require(dimName.nonEmpty,
          "FOR SYSTEM_TIME AS OF must follow a table name")
        // skip FOR SYSTEM_TIME AS OF
        var j = hit
        Seq("FOR", "SYSTEM_TIME", "AS", "OF").foreach { w =>
          while (j < text.length && text.charAt(j).isWhitespace) j += 1
          require(text.regionMatches(true, j, w, 0, w.length),
            s"malformed FOR SYSTEM_TIME AS OF (at '$w')")
          j += w.length
        }
        while (j < text.length && text.charAt(j).isWhitespace) j += 1
        // the AS OF expression: a dotted identifier or PROCTIME()
        val es = j
        while (j < text.length && (isIdentChar(text.charAt(j)) ||
          text.charAt(j) == '.')) j += 1
        if (j < text.length && text.charAt(j) == '(')
          j = scan.balancedClose(j) + 1
        val asOf = text.substring(es, j).trim
        require(asOf.nonEmpty, "empty AS OF expression")
        out.append(text.substring(i, e + 1))
        registry.get(dimName.toLowerCase) match {
          case Some(v) =>
            // alias + ON follow; prepend the interval containment to ON
            var a = j
            while (a < text.length && text.charAt(a).isWhitespace) a += 1
            if (text.regionMatches(true, a, "AS", 0, 2) &&
                (a + 2 >= text.length || !isIdentChar(text.charAt(a + 2))))
              a += 2
            while (a < text.length && text.charAt(a).isWhitespace) a += 1
            val as = a
            while (a < text.length && isIdentChar(text.charAt(a))) a += 1
            val alias = text.substring(as, a)
            require(alias.nonEmpty,
              "FOR SYSTEM_TIME AS OF needs an alias before ON")
            while (a < text.length && text.charAt(a).isWhitespace) a += 1
            require(text.regionMatches(true, a, "ON", 0, 2),
              "FOR SYSTEM_TIME AS OF join needs an ON condition")
            a += 2
            // the original condition is wrapped in parens before the
            // interval is ANDed on — a top-level OR must not rebind
            val condEnd = endOfCondition(scan, a)
            out.append('(').append(versionedSubquery(v)).append(") AS ")
              .append(alias)
              .append(" ON (").append(text.substring(a, condEnd).trim)
              .append(") AND ").append(intervalCond(v, alias, asOf))
              .append(' ')
            i = condEnd
          case None =>
            require(isProcTime(asOf),
              s"FOR SYSTEM_TIME AS OF $asOf over '$dimName': event-time " +
                "versioning needs registerTemporalFunction(name, view, " +
                "timeCol, keyCol) — only a proc-time AS OF can read the " +
                "table's current contents as-is (lookup join)")
            out.append(dimName) // lookup join = the current table
            i = j
        }
      }
    }
    out.result()
  }

  /** `<left> [, | JOIN] LATERAL TABLE (fn(asOf)) AS alias [ON cond]`
    * for a registered temporal `fn` (`args` are the `TABLE(…)` call's
    * arguments, Spark's parse of the spelling): the versioned-subquery
    * join, the interval containment ANDed onto any ON condition. None
    * when `args` name no registered function — the reference's UDTF
    * correlate, which [[graft.Sql]] runs as a lateral generator over an
    * array-returning scalar UDF (a Scala UDTF's graft twin,
    * `spark.udf.register`; stream CorrelateITCase.scala:90-163). */
  private[graft] def versionedJoin(spark: SparkSession,
      left: Option[LogicalPlan], alias: Option[String], args: Seq[Expression],
      joinType: JoinType, cond: Option[Expression]): Option[LogicalPlan] = {
    val (fn, fnArgs) = args match {
      case Seq(f: UnresolvedFunction) => (f.nameParts.mkString("."), f.arguments)
      case _ => return None
    }
    registry.get(fn.toLowerCase).map { v =>
      require(fnArgs.size == 1, s"temporal table function $fn takes " +
        s"exactly one time attribute argument, got " +
        s"(${fnArgs.map(_.sql).mkString(", ")})")
      require(left.isDefined, "LATERAL TABLE (temporal fn) must follow a " +
        "join: FROM <left> AS <alias>, LATERAL TABLE (fn(ts)) AS r")
      val r = alias.getOrElse(throw new IllegalArgumentException(
        s"temporal table function $fn needs an alias: " +
          "LATERAL TABLE (fn(ts)) AS r"))
      val parser = spark.sessionState.sqlParser
      // the interval over a placeholder, then the call's argument in its
      // place
      val asOf = if (isProcTime(fnArgs.head)) "PROCTIME()" else "graft_asof"
      val interval = parser.parseExpression(intervalCond(v, r, asOf))
        .transform {
          case a: UnresolvedAttribute if a.nameParts == Seq("graft_asof") =>
            fnArgs.head
        }
      Join(left.get, SubqueryAlias(r, parser.parsePlan(versionedSubquery(v))),
        joinType, Some(cond.fold(interval)(And(_, interval))), JoinHint.NONE)
    }
  }

  private def versionedSubquery(v: Versioned): String =
    s"SELECT *, lead(${v.timeCol}) OVER (PARTITION BY ${v.keyCol} " +
      s"ORDER BY ${v.timeCol}) AS graft_vend FROM ${v.view}"

  private def intervalCond(v: Versioned, alias: String,
      asOf: String): String =
    if (isProcTime(asOf)) s"$alias.graft_vend IS NULL"
    else s"$asOf >= $alias.${v.timeCol} AND " +
      s"($alias.graft_vend IS NULL OR $asOf < $alias.graft_vend)"

  /** A processing-time AS OF expression: the literal `PROCTIME()` or a
    * column whose last dotted segment EXACTLY matches a registered
    * proc-time attribute name (see [[registerProcTimeAttribute]]).
    * Exact match only — prefix/substring inference would silently turn
    * an event-time join over a column named `proctime_ts` into a
    * latest-version lookup. */
  private[streaming] def isProcTime(expr: String): Boolean = {
    val e = expr.trim.toLowerCase
    val last = e.substring(e.lastIndexOf('.') + 1)
    e == "proctime()" || procTimeNames.contains(last)
  }

  /** [[isProcTime]] of a parsed expression: `PROCTIME()` or a column. */
  private[streaming] def isProcTime(e: Expression): Boolean = e match {
    case f: UnresolvedFunction =>
      f.arguments.isEmpty && isProcTime(f.nameParts.mkString(".") + "()")
    case a: UnresolvedAttribute => isProcTime(a.nameParts.mkString("."))
    case _ => false
  }

  /** End index (exclusive) of a join's ON condition starting at `from`:
    * the next clause keyword, another join, or a closing paren at depth
    * 0 — whichever comes first — in code (see [[graft.Sql.Scan]]).
    *
    * Two-word clause heads only stop the scan when their second word
    * follows (`GROUP BY`, `LEFT [OUTER|SEMI|ANTI] JOIN`, `WINDOW w AS`):
    * a bare column literally named `left`, `cross`, `group` or `window`
    * referenced unqualified at depth 0 (`ON r.k = left`) is an ordinary
    * identifier there and must not truncate the condition mid-expression. */
  private def endOfCondition(scan: graft.Sql.Scan, from: Int): Int = {
    val s = scan.text
    // standalone clause heads: reserved words that cannot appear as a
    // bare unqualified identifier inside an expression
    val bare = Seq("WHERE", "HAVING", "LIMIT", "UNION", "INTERSECT",
      "EXCEPT", "JOIN", "MATCH_RECOGNIZE")
    // clause heads that are only a boundary when their continuation
    // token follows (otherwise they are a plain column name)
    val twoWord: Map[String, Set[String]] = Map(
      "GROUP" -> Set("BY"), "ORDER" -> Set("BY"),
      "LEFT" -> Set("JOIN", "OUTER", "SEMI", "ANTI"),
      "RIGHT" -> Set("JOIN", "OUTER", "SEMI", "ANTI"),
      "FULL" -> Set("JOIN", "OUTER"),
      "CROSS" -> Set("JOIN"), "INNER" -> Set("JOIN"))
    val u = s.toUpperCase
    def wordAfter(pos: Int): String = {
      var j = pos
      while (j < s.length && s.charAt(j).isWhitespace) j += 1
      val st = j
      while (j < s.length && isIdentChar(s.charAt(j))) j += 1
      u.substring(st, j)
    }
    def stopsHere(i: Int): Boolean = {
      def hit(w: String) = u.startsWith(w, i) &&
        (i + w.length >= s.length || !isIdentChar(s.charAt(i + w.length)))
      bare.exists(hit) ||
        twoWord.exists { case (w, nexts) =>
          hit(w) && nexts.contains(wordAfter(i + w.length)) } ||
        // WINDOW clause: `WINDOW <name> AS (` — require the shape, a
        // column named `window` is never followed by `<ident> AS`
        (hit("WINDOW") && {
          var j = i + "WINDOW".length
          while (j < s.length && s.charAt(j).isWhitespace) j += 1
          val st = j
          while (j < s.length && isIdentChar(s.charAt(j))) j += 1
          j > st && wordAfter(j) == "AS"
        })
    }
    var i = from
    var depth = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!scan.code(i)) i += 1
      else if (c == '(') { depth += 1; i += 1 }
      else if (c == ')') {
        if (depth == 0) return i
        depth -= 1; i += 1
      } else if (depth == 0 && c.isLetter &&
          // a '.'-qualified identifier (t.left, t.cross) is a column
          // reference, never a clause keyword
          (i == 0 || (!isIdentChar(s.charAt(i - 1)) && s.charAt(i - 1) != '.')) &&
          stopsHere(i))
        return i
      else i += 1
    }
    s.length
  }
}
