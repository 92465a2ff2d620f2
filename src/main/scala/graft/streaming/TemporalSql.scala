package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, Expression, GreaterThanOrEqual, IsNull, LessThan, Or}
import org.apache.spark.sql.catalyst.plans.JoinType
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan, SubqueryAlias}

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
  * Both spellings are rewritten on Spark's parsed plan by the session
  * parser ([[graft.Sql.Parser]]): Spark reads `LATERAL TABLE (fn(ts))`
  * as a table-valued function named `TABLE` ([[versionedJoin]]), and
  * `FOR SYSTEM_TIME AS OF <column>` as time travel under the alias,
  * inside the join that keeps its ON condition, once the parser's text
  * pre-pass has swapped the column for a placeholder literal (Spark's
  * time travel takes only constants; [[systemTimeJoin]]).
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

  /** `<left> [, | JOIN] LATERAL TABLE (fn(asOf)) AS alias [ON cond]`
    * for a registered temporal `fn` (`args` are the `TABLE(…)` call's
    * arguments, Spark's parse of the spelling): the versioned join of
    * `fn`'s history. None when `args` name no registered function — the
    * reference's UDTF correlate, which [[graft.Sql]] runs as a lateral
    * generator over an array-returning scalar UDF (a Scala UDTF's graft
    * twin, `spark.udf.register`; stream CorrelateITCase.scala:90-163). */
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
      historyJoin(spark, left.get, v, r, fnArgs.head, joinType, cond)
    }
  }

  /** `<left> JOIN table FOR SYSTEM_TIME AS OF asOf [AS alias] [ON cond]`
    * (`left` None: the table outside a join; the alias defaults to the
    * table's name): over a registered `table`, the versioned join of its
    * history; over any other table, under a proc-time `asOf`, the table
    * itself (a lookup join reads current contents). An event-time AS OF
    * over an unregistered table fails loudly: its version history is
    * unknown. */
  private[graft] def systemTimeJoin(spark: SparkSession,
      left: Option[LogicalPlan], alias: Option[String],
      table: UnresolvedRelation, asOf: Expression, joinType: JoinType,
      cond: Option[Expression]): LogicalPlan = {
    val name = table.multipartIdentifier.mkString(".")
    registry.get(name.toLowerCase) match {
      case Some(v) =>
        require(left.isDefined, s"FOR SYSTEM_TIME AS OF over '$name' must " +
          "be the right side of a join: <left> JOIN t FOR SYSTEM_TIME AS OF " +
          "<left>.ts AS r ON …")
        historyJoin(spark, left.get, v,
          alias.getOrElse(table.multipartIdentifier.last), asOf, joinType, cond)
      case None =>
        require(isProcTime(asOf),
          s"FOR SYSTEM_TIME AS OF ${asOf.sql} over '$name': event-time " +
            "versioning needs registerTemporalFunction(name, view, " +
            "timeCol, keyCol) — only a proc-time AS OF can read the " +
            "table's current contents as-is (lookup join)")
        val current = alias.fold[LogicalPlan](table)(SubqueryAlias(_, table))
        left.fold(current)(Join(_, current, joinType, cond, JoinHint.NONE))
    }
  }

  /** `left` joined to `v`'s history under `alias`, the interval
    * containment of `asOf` ANDed onto any ON condition. */
  private def historyJoin(spark: SparkSession, left: LogicalPlan,
      v: Versioned, alias: String, asOf: Expression, joinType: JoinType,
      cond: Option[Expression]): LogicalPlan = {
    val history = spark.sessionState.sqlParser.parsePlan(
      s"SELECT *, lead(${v.timeCol}) OVER (PARTITION BY ${v.keyCol} " +
        s"ORDER BY ${v.timeCol}) AS graft_vend FROM ${v.view}")
    val interval = intervalCond(v, alias, asOf)
    Join(left, SubqueryAlias(alias, history), joinType,
      Some(cond.fold(interval)(And(_, interval))), JoinHint.NONE)
  }

  private def intervalCond(v: Versioned, alias: String,
      asOf: Expression): Expression = {
    def col(name: String) = UnresolvedAttribute(Seq(alias, name))
    val latest = IsNull(col("graft_vend"))
    if (isProcTime(asOf)) latest
    else And(GreaterThanOrEqual(asOf, col(v.timeCol)),
      Or(latest, LessThan(asOf, col("graft_vend"))))
  }

  /** A processing-time AS OF expression: the call `PROCTIME()` or a
    * column whose last name part EXACTLY matches a registered proc-time
    * attribute name (see [[registerProcTimeAttribute]]). Exact match
    * only — prefix/substring inference would silently turn an event-time
    * join over a column named `proctime_ts` into a latest-version
    * lookup. */
  private[streaming] def isProcTime(e: Expression): Boolean = e match {
    case f: UnresolvedFunction =>
      f.arguments.isEmpty && f.nameParts.map(_.toLowerCase) == Seq("proctime")
    case a: UnresolvedAttribute => procTimeNames.contains(a.nameParts.last.toLowerCase)
    case _ => false
  }
}
