package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, Tables}

/** Ordered-pattern detection over keyed event sequences — the reference's
  * MATCH_RECOGNIZE surface (StreamExecMatch.scala:68). The fixed A→B→C
  * shapes (q76, q83) compile to lead() windows, which both batch and the
  * DuckDB oracle evaluate identically. The quantified shapes (q89–q113)
  * run the real per-key NFA through the programmatic
  * [[graft.streaming.PatternMatch.Step]] surface — `Row` predicates over
  * the events table, apart from the SQL compiler — and their SQL twins
  * in [[MatchSql]] (q125–q130) must match them row for row.
  */
object Funnel {

  def defs: Seq[QueryDef] =
    Seq(q76Funnel, q83PatternRuns, q89MatchRecognize, q96PrevDefine,
      q98ReluctantMatch, q99NextDefine, q111SkipToNextRow, q113AllRows,
      q172ReluctantTimes)

  /** Count view→click→purchase funnels per user (consecutive events,
    * event-time order). */
  val q76Funnel: QueryDef = QueryDef("q76_funnel",
    """WITH seq AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    lead(event_type, 1) OVER win AS t1,
      |    lead(event_type, 2) OVER win AS t2,
      |    lead(event_id, 2) OVER win AS end_id
      |  FROM events
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |hits AS (
      |  SELECT user_id, event_id, end_id FROM seq
      |  WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase')
      |SELECT user_id, count(*) AS n_funnels,
      |  min(event_id) AS first_start_event,
      |  max(end_id) AS last_end_event
      |FROM hits
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    val t = Tables(spark, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t.events
      // spans stay out of the output: DuckDB's parquet reader rounds
      // TIMESTAMP_NS to micros, so ns-derived durations can never match
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"),
        lead(col("event_type"), 1).over(w).as("t1"),
        lead(col("event_type"), 2).over(w).as("t2"),
        lead(col("event_id"), 2).over(w).as("end_id"))
      .filter(col("event_type") === "view" && col("t1") === "click" &&
        col("t2") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_funnels"),
        min(col("event_id")).as("first_start_event"),
        max(col("end_id")).as("last_end_event"))
      .orderBy(col("user_id"))
  }

  /** Variable-length pattern (`view* purchase`) via gaps-and-islands: the
    * running count of non-view events splits each user's timeline into
    * islands, so the views consecutive before a purchase are exactly the
    * views in the island preceding it. This is how unbounded-repetition
    * MATCH_RECOGNIZE quantifiers lower onto window algebra. */
  val q83PatternRuns: QueryDef = QueryDef("q83_pattern_runs",
    """WITH seq AS (
      |  SELECT user_id, event_id, event_type,
      |    SUM(CASE WHEN event_type <> 'view' THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM events)
      |SELECT p.user_id, p.event_id AS purchase_id,
      |  count(v.event_id) AS preceding_view_run
      |FROM (SELECT * FROM seq WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM seq WHERE event_type = 'view') v
      |  ON v.user_id = p.user_id AND v.grp = p.grp - 1
      |GROUP BY p.user_id, p.event_id
      |ORDER BY p.user_id, purchase_id""".stripMargin) { (spark, dir) =>
    val t = Tables(spark, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seq = t.events.select(col("user_id"), col("event_id"), col("event_type"),
      sum(when(col("event_type") =!= "view", 1).otherwise(0)).over(w).as("grp"))
    val p = seq.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("grp"))
    val v = seq.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"), col("grp").as("v_grp"))
    p.join(v, col("v_user") === col("user_id") && col("v_grp") === col("grp") - 1, "left")
      .groupBy(col("user_id"), col("purchase_id"))
      .agg(count(col("v_id")).as("preceding_view_run"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  // The programmatic MATCH_RECOGNIZE surface over the events table:
  // partition by user, event-time order, Row predicates by field name
  private def events(spark: org.apache.spark.sql.SparkSession, dir: String) =
    graft.core.Catalog.load(spark, dir, "events")
  private val byUser = Seq("user_id")
  private val byTime = Seq("ts", "event_id")
  private def isType(t: String): org.apache.spark.sql.Row => Boolean =
    _.getAs[String]("event_type") == t
  private def id(r: org.apache.spark.sql.Row): Long = r.getAs[Long]("event_id")
  private def value(r: org.apache.spark.sql.Row): Double = r.getAs[Double]("value")

  /** One match of `view click+ purchase` with FIRST/LAST measures. */
  case class PatternHit(user_id: Long, view_id: Long, first_click: Long,
      last_click: Long, n_clicks: Long, purchase_id: Long)

  /** Quantified MATCH_RECOGNIZE (`PATTERN (A B+ C)`, AFTER MATCH SKIP PAST
    * LAST ROW) via the real per-key NFA
    * ([[graft.streaming.PatternMatch]]), collapsed to batch under the
    * DuckDB oracle: the oracle finds each purchase whose immediately
    * preceding run of consecutive clicks (≥1) is headed by a view — the
    * same row set the greedy NFA binds. */
  val q89MatchRecognize: QueryDef = QueryDef("q89_match_recognize",
    """WITH seq AS (
      |  SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |marked AS (
      |  SELECT user_id, rn, event_id, event_type,
      |    MAX(CASE WHEN event_type <> 'click' THEN rn END) OVER
      |      (PARTITION BY user_id ORDER BY rn
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS s
      |  FROM seq)
      |SELECT p.user_id, v.event_id AS view_id, fc.event_id AS first_click,
      |       lc.event_id AS last_click, CAST(p.rn - p.s - 1 AS BIGINT) AS n_clicks,
      |       p.event_id AS purchase_id
      |FROM marked p
      |JOIN seq v  ON v.user_id = p.user_id AND v.rn = p.s AND v.event_type = 'view'
      |JOIN seq fc ON fc.user_id = p.user_id AND fc.rn = p.s + 1
      |JOIN seq lc ON lc.user_id = p.user_id AND lc.rn = p.rn - 1
      |WHERE p.event_type = 'purchase' AND p.rn - p.s >= 2
      |ORDER BY p.user_id, purchase_id""".stripMargin) { (spark, dir) =>
    import graft.streaming.PatternMatch._
    implicit val enc = org.apache.spark.sql.Encoders.product[PatternHit]
    matchPattern(events(spark, dir), byUser, byTime, Seq(
      Step("A", isType("view"), One),
      Step("B", isType("click"), Plus),
      Step("C", isType("purchase"), One)),
      delay = "0 seconds",
      (key, bound) => {
        val b = bound.map(s => s.name -> s.rows).toMap
        PatternHit(key.getLong(0), id(b("A").head),
          id(b("B").head), id(b("B").last), b("B").size.toLong,
          id(b("C").head))
      })
      .toDF()
      .orderBy(col("user_id"), col("purchase_id"))
  }

  case class VShape(user_id: Long, first_down: Long, last_down: Long,
      n_down: Long, rebound: Long)

  /** MATCH_RECOGNIZE with cross-row DEFINE — the price-drop "V" pattern
    * that needs PREV (reference MatchCodeGenerator.scala:82 /
    * IterativeConditionRunner.java:31): per user,
    * `PATTERN (D+ U) DEFINE D AS value < PREV(value), U AS value > PREV(value)`
    * with AFTER MATCH SKIP PAST LAST ROW. Because D and U are mutually
    * exclusive, the greedy NFA's matches are exactly the maximal strictly-
    * decreasing runs immediately followed by a rebound row — which is how
    * the DuckDB oracle states it (gaps-and-islands over lag() flags).
    * Value comparisons are raw double equality/ordering on fixture values
    * both engines read bit-identically from parquet. */
  val q96PrevDefine: QueryDef = QueryDef("q96_prev_define",
    """WITH seq AS (
      |  SELECT user_id, event_id, value,
      |    row_number() OVER win AS rn,
      |    lag(value) OVER win AS pv
      |  FROM events WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |f AS (
      |  SELECT user_id, rn, event_id,
      |    CASE WHEN pv IS NOT NULL AND value < pv THEN 1 ELSE 0 END AS d,
      |    CASE WHEN pv IS NOT NULL AND value > pv THEN 1 ELSE 0 END AS u
      |  FROM seq),
      |druns AS (
      |  SELECT user_id, rn, d,
      |    rn - SUM(d) OVER (PARTITION BY user_id ORDER BY rn
      |                      ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM f),
      |runs AS (
      |  SELECT user_id, grp, MIN(rn) AS start_rn, MAX(rn) AS end_rn,
      |         COUNT(*) AS n_down
      |  FROM druns WHERE d = 1 GROUP BY user_id, grp),
      |hits AS (
      |  SELECT r.user_id, r.start_rn, r.end_rn, r.n_down, up.event_id AS up_id
      |  FROM runs r
      |  JOIN f up ON up.user_id = r.user_id AND up.rn = r.end_rn + 1 AND up.u = 1)
      |SELECT h.user_id, fd.event_id AS first_down, ld.event_id AS last_down,
      |       CAST(h.n_down AS BIGINT) AS n_down, h.up_id AS rebound
      |FROM hits h
      |JOIN seq fd ON fd.user_id = h.user_id AND fd.rn = h.start_rn
      |JOIN seq ld ON ld.user_id = h.user_id AND ld.rn = h.end_rn
      |ORDER BY h.user_id, first_down""".stripMargin) { (spark, dir) =>
    import graft.streaming.PatternMatch._
    implicit val enc = org.apache.spark.sql.Encoders.product[VShape]
    matchPattern(events(spark, dir), byUser, byTime, Seq(
      Step.withPrev("D", Plus)((cur, prev) => value(cur) < value(prev)),
      Step.withPrev("U", One)((cur, prev) => value(cur) > value(prev))),
      delay = "0 seconds",
      (key, bound) => {
        val b = bound.map(s => s.name -> s.rows).toMap
        VShape(key.getLong(0), id(b("D").head), id(b("D").last),
          b("D").size.toLong, id(b("U").head))
      })
      .toDF()
      .orderBy(col("user_id"), col("first_down"))
  }

  case class NearestClick(user_id: Long, view_id: Long, click_id: Long,
      n_between: Long)

  /** Reluctant quantifier (`PATTERN (V A*? C)`): each view matches to the
    * NEAREST following click — the greedy form would bind the farthest.
    * Because A is unconstrained, the shortest-first run ends at the first
    * click after the view, so with SKIP PAST LAST ROW each match lives
    * inside one click-delimited island of the key's timeline and the
    * matches are exactly (first view of each island → that island's
    * closing click) — which is how the gaps-and-islands oracle states it. */
  val q98ReluctantMatch: QueryDef = QueryDef("q98_reluctant_match",
    """WITH seq AS (
      |  SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |g AS (
      |  SELECT user_id, rn, event_id, event_type,
      |    COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY rn
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS grp
      |  FROM seq),
      |v AS (
      |  SELECT user_id, grp, MIN(rn) AS vrn
      |  FROM g WHERE event_type = 'view' GROUP BY user_id, grp),
      |c AS (
      |  SELECT user_id, grp, MIN(rn) AS crn, MIN(event_id) AS click_id
      |  FROM g WHERE event_type = 'click' GROUP BY user_id, grp)
      |SELECT v.user_id, sv.event_id AS view_id, c.click_id,
      |       CAST(c.crn - v.vrn - 1 AS BIGINT) AS n_between
      |FROM v JOIN c ON v.user_id = c.user_id AND v.grp = c.grp
      |JOIN seq sv ON sv.user_id = v.user_id AND sv.rn = v.vrn
      |ORDER BY v.user_id, view_id""".stripMargin) { (spark, dir) =>
    import graft.streaming.PatternMatch._
    implicit val enc = org.apache.spark.sql.Encoders.product[NearestClick]
    matchPattern(events(spark, dir), byUser, byTime, Seq(
      Step("V", isType("view"), One),
      Step("A", _ => true, StarReluctant),
      Step("C", isType("click"), One)),
      delay = "0 seconds",
      (key, bound) => {
        val b = bound.map(s => s.name -> s.rows).toMap
        NearestClick(key.getLong(0), id(b("V").head), id(b("C").head),
          b("A").size.toLong)
      })
      .toDF()
      .orderBy(col("user_id"), col("view_id"))
  }

  case class AboutToBuy(user_id: Long, view_id: Long, viewed_value: Double)

  /** NEXT cross-row DEFINE: `PATTERN (A) DEFINE A AS A.type = 'view' AND
    * NEXT(type) = 'purchase'` — views immediately followed by a purchase
    * in the key's event-time order. NEXT reads the successor INPUT row
    * (which the single-step match does not consume), so the oracle is a
    * plain lead() window; a view at the partition tail has NULL NEXT and
    * never matches, on both engines. */
  val q99NextDefine: QueryDef = QueryDef("q99_next_define",
    """WITH seq AS (
      |  SELECT user_id, event_id, event_type, value,
      |    lead(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY ts, event_id) AS nt
      |  FROM events)
      |SELECT user_id, event_id AS view_id, value AS viewed_value
      |FROM seq
      |WHERE event_type = 'view' AND nt = 'purchase'
      |ORDER BY user_id, view_id""".stripMargin) { (spark, dir) =>
    import graft.streaming.PatternMatch._
    implicit val enc = org.apache.spark.sql.Encoders.product[AboutToBuy]
    matchPattern(events(spark, dir), byUser, byTime, Seq(
      Step("A", isType("view"), One,
        nextPred = Some((_, next) => isType("purchase")(next)))),
      delay = "0 seconds",
      (key, bound) => {
        val a = bound.head.rows.head
        AboutToBuy(key.getLong(0), id(a), value(a))
      })
      .toDF()
      .orderBy(col("user_id"), col("view_id"))
  }

  case class PurchasePair(user_id: Long, first_purchase: Long,
      second_purchase: Long)

  /** AFTER MATCH SKIP TO NEXT ROW (reference
    * FlinkSqlOperatorTable.java:1102-1108, CEP AfterMatchSkipStrategy):
    * `PATTERN (P1 P2)` over consecutive purchases with the OVERLAPPING
    * strategy — a run of k consecutive purchases yields k-1 pairs, where
    * PAST LAST ROW would yield ⌊k/2⌋ (the difference is spec-asserted in
    * the PatternMatch matrix). Every adjacent purchase pair is exactly a
    * lead() window on both engines. */
  val q111SkipToNextRow: QueryDef = QueryDef("q111_skip_next_row",
    """WITH seq AS (
      |  SELECT user_id, event_id, event_type,
      |    lead(event_id) OVER win AS next_id,
      |    lead(event_type) OVER win AS next_type
      |  FROM events WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, event_id AS first_purchase, next_id AS second_purchase
      |FROM seq
      |WHERE event_type = 'purchase' AND next_type = 'purchase'
      |ORDER BY user_id, first_purchase""".stripMargin) { (spark, dir) =>
    import graft.streaming.PatternMatch._
    implicit val enc = org.apache.spark.sql.Encoders.product[PurchasePair]
    matchPattern(events(spark, dir), byUser, byTime, Seq(
      Step("P1", isType("purchase"), One),
      Step("P2", isType("purchase"), One)),
      delay = "0 seconds",
      (key, bound) => {
        val b = bound.map(s => s.name -> s.rows).toMap
        PurchasePair(key.getLong(0), id(b("P1").head), id(b("P2").head))
      },
      skip = SkipToNextRow)
      .toDF()
      .orderBy(col("user_id"), col("first_purchase"))
  }

  /** ALL ROWS PER MATCH with CLASSIFIER()/MATCH_NUMBER() and RUNNING vs
    * FINAL counts (reference MatchCodeGenerator.scala:82,
    * FlinkSqlOperatorTable RUNNING/FINAL): one output row per matched
    * row of the q89 funnel (A=view, B+=clicks, C=purchase), tagged with
    * the step that bound it, the per-key match ordinal, its position,
    * and its classifier's running (per-prefix) and final (whole-match)
    * counts. The oracle enumerates the same islands and derives each
    * column arithmetically from the match span. */
  val q113AllRows: QueryDef = QueryDef("q113_all_rows_match",
    """WITH seq AS (
      |  SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |marked AS (
      |  SELECT user_id, rn, event_id, event_type,
      |    MAX(CASE WHEN event_type <> 'click' THEN rn END) OVER
      |      (PARTITION BY user_id ORDER BY rn
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS s
      |  FROM seq),
      |hits AS (
      |  SELECT p.user_id, p.s AS srn, p.rn AS prn,
      |    row_number() OVER (PARTITION BY p.user_id ORDER BY p.rn) AS match_no
      |  FROM marked p
      |  JOIN seq v ON v.user_id = p.user_id AND v.rn = p.s AND v.event_type = 'view'
      |  WHERE p.event_type = 'purchase' AND p.rn - p.s >= 2)
      |SELECT h.user_id, CAST(h.match_no AS BIGINT) AS match_no,
      |  CAST(q.rn - h.srn + 1 AS BIGINT) AS pos,
      |  CASE WHEN q.rn = h.srn THEN 'A'
      |       WHEN q.rn = h.prn THEN 'C' ELSE 'B' END AS classifier,
      |  q.event_id,
      |  CAST(CASE WHEN q.rn = h.srn OR q.rn = h.prn THEN 1
      |            ELSE q.rn - h.srn END AS BIGINT) AS running_n,
      |  CAST(CASE WHEN q.rn = h.srn OR q.rn = h.prn THEN 1
      |            ELSE h.prn - h.srn - 1 END AS BIGINT) AS final_n
      |FROM hits h
      |JOIN seq q ON q.user_id = h.user_id AND q.rn BETWEEN h.srn AND h.prn
      |ORDER BY h.user_id, match_no, pos""".stripMargin) { (spark, dir) =>
    import graft.streaming.PatternMatch._
    matchPatternAllRows(events(spark, dir), byUser, byTime, Seq(
      Step("A", isType("view"), One),
      Step("B", isType("click"), Plus),
      Step("C", isType("purchase"), One)),
      delay = "0 seconds")
      .select(col("user_id"), col("match_no"), col("pos"), col("classifier"),
        col("event_id"), col("running_n"), col("final_n"))
      .orderBy(col("user_id"), col("match_no"), col("pos"))
  }

  /** r14: RELUCTANT bounded quantifier `{n,m}?` (Flink CEP's
    * times(n, m) + reluctant — the last fail-loud NFA grammar gap).
    * `PATTERN (A{2,4}?)` with a trailing reluctant range always binds
    * its MINIMUM, so each per-user island of consecutive high-value rows
    * chunks into disjoint PAIRS in scan order — which is exactly how the
    * gaps-and-islands oracle states it (island position p pairs with
    * p+1 when p is odd). The extension-under-continuation and streaming
    * commit-at-min behaviors are pinned by `MatchRecognizeAnySpec`. */
  val q172ReluctantTimes: QueryDef = QueryDef("q172_reluctant_times",
    """WITH seq AS (
      |  SELECT user_id, event_id, value,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY ts, event_id) AS rn
      |  FROM events),
      |m AS (SELECT user_id, event_id, rn,
      |  CASE WHEN value > 40 THEN 1 ELSE 0 END AS a FROM seq),
      |isl AS (
      |  SELECT user_id, event_id, rn,
      |    rn - SUM(a) OVER (PARTITION BY user_id ORDER BY rn
      |                      ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM m WHERE a = 1),
      |pos AS (
      |  SELECT user_id, grp, event_id,
      |    row_number() OVER (PARTITION BY user_id, grp ORDER BY rn) AS p
      |  FROM isl)
      |SELECT user_id, arg_min(event_id, p) AS first_id,
      |  arg_max(event_id, p) AS last_id, CAST(2 AS BIGINT) AS n_bound
      |FROM pos GROUP BY user_id, grp, (p - 1) // 2
      |HAVING COUNT(*) = 2
      |ORDER BY user_id, first_id""".stripMargin) { (spark, dir) =>
    graft.streaming.MatchRecognizeSql.sqlDf(
      graft.core.Catalog.load(spark, dir, "events"),
      """SELECT * FROM t MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES FIRST(A.event_id) AS first_id,
        |           LAST(A.event_id) AS last_id,
        |           COUNT(A.*) AS n_bound
        |  ONE ROW PER MATCH
        |  PATTERN (A{2,4}?)
        |  DEFINE A AS value > 40
        |)""".stripMargin)
      .orderBy(col("user_id"), col("first_id"))
  }
}
