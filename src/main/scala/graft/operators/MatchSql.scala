package graft.operators

import org.apache.spark.sql.functions.{col, expr}

import graft.core.QueryDef
import graft.streaming.MatchRecognizeSql

/** The reference's MATCH_RECOGNIZE shapes accepted AS SQL TEXT
  * (reference: flink-table-planner-blink StreamExecMatch.scala:68,
  * MatchCodeGenerator.scala:82, MatchRecognizeITCase grammar surface)
  * through [[graft.streaming.MatchRecognizeSql.sqlDf]], each of q125–q130
  * hash-checked by the SAME DuckDB oracle as its programmatic-API twin in
  * [[Funnel]] — so the SQL entry (its clause parser, with DEFINE and
  * MEASURES parsed, typed and evaluated by Spark) is verified to produce
  * bit-identical results to the [[graft.streaming.PatternMatch.Step]]
  * surface over the same executor, and a reference user can paste the
  * clause instead of building steps. */
object MatchSql {

  def defs: Seq[QueryDef] =
    Seq(q125SqlFunnel, q126SqlPrev, q127SqlReluctant, q128SqlNext,
      q129SqlSkipNext, q130SqlAllRows, q131SqlCompositeKey,
      q132SqlLogicalOffsets, q143FrontDoor, q175MeasureNav,
      q180StreamingMeasureNext)

  /** r15: physical PREV/NEXT navigation in MEASURES (the reference's
    * measure codegen routes navigation calls through the same visitCall
    * as DEFINE, MatchCodeGenerator.scala:333; graft extends it to
    * arbitrary offsets as it already does DEFINE-side). FINAL semantics
    * anchor at the match's LAST row: `PREV(value)` is the row before it
    * (here inside the match — V's value), `PREV(value, 2)` reaches
    * BEFORE the match's first row (the captured predecessor context),
    * and `NEXT(event_id)` reads the row after the match (on a stream the
    * match is held until that row closes — q180). The oracle states the
    * same navigation with lag/lead over the (ts, event_id) sequence. */
  val q175MeasureNav: QueryDef = QueryDef("q175_sql_measure_nav",
    """WITH seq AS (
      |  SELECT user_id, event_id, event_type, value,
      |    row_number() OVER win AS rn,
      |    lag(value) OVER win AS pv1,
      |    lag(value, 2) OVER win AS pv2,
      |    lead(event_id) OVER win AS nid
      |  FROM events
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT p.user_id, p.event_id AS purchase_id, p.pv1 AS prev_value,
      |       p.pv2 AS before_view, p.nid AS next_id
      |FROM seq p JOIN seq v
      |  ON v.user_id = p.user_id AND v.rn = p.rn - 1
      |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
      |ORDER BY p.user_id, purchase_id""".stripMargin) { (spark, dir) =>
    graft.core.Catalog.load(spark, dir, "events")
      .createOrReplaceTempView("events")
    graft.Sql.sql(spark,
      """SELECT user_id, purchase_id, prev_value, before_view, next_id
        |FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES P.event_id AS purchase_id,
        |           PREV(value) AS prev_value,
        |           PREV(value, 2) AS before_view,
        |           NEXT(event_id) AS next_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (V P)
        |  DEFINE V AS event_type = 'view',
        |         P AS event_type = 'purchase'
        |)
        |ORDER BY user_id, purchase_id""".stripMargin)
  }

  /** r16: NEXT in MEASURES on a STREAM — the r15 batch-only seam closed
    * by DELAYED EMISSION ([[graft.streaming.PatternMatch]] scan: an
    * adjudicated match is held until its `measNext` successor rows
    * close, then emitted; the reference buffers within CEP and evaluates
    * the same way, MatchCodeGenerator.scala:82 region). The stream
    * carries ONE whole-millisecond far-future sentinel row per user
    * ([[graft.streaming.StatefulBatch.sentinelEventsStream]] perKey) —
    * the bounded-input MAX_WATERMARK rendering — so each key's tail
    * match sees a closed successor; the oracle mirrors the sentinels in
    * SQL (UNION ALL), making both engines navigate the identical
    * sequence. DEFINE excludes the sentinel type, so the match set is
    * exactly the real-data match set. */
  val q180StreamingMeasureNext: QueryDef = QueryDef(
    "q180_sql_stream_measure_next",
    """WITH ev AS (
      |  SELECT event_id, ts, user_id, event_type, value FROM events
      |  UNION ALL
      |  SELECT -1, (SELECT max(ts) FROM events) + INTERVAL 10 YEAR,
      |         user_id, 'sentinel', 0.0
      |  FROM (SELECT DISTINCT user_id FROM events)),
      |seq AS (
      |  SELECT user_id, event_id, event_type, value,
      |    row_number() OVER win AS rn,
      |    lead(event_id) OVER win AS nid,
      |    lead(value) OVER win AS nval
      |  FROM ev WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT p.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
      |       p.nid AS next_id, round(p.nval, 4) AS next_value
      |FROM seq p JOIN seq v
      |  ON v.user_id = p.user_id AND v.rn = p.rn - 1
      |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
      |ORDER BY p.user_id, purchase_id""".stripMargin) { (spark, dir) =>
    graft.streaming.StatefulBatch.sentinelEventsStream(spark, dir,
        perKey = true)
      .createOrReplaceTempView("graft_sql_stream_mr")
    val routed = graft.Sql.sql(spark,
      """SELECT user_id, view_id, purchase_id, next_id, next_value
        |FROM graft_sql_stream_mr MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES V.event_id AS view_id, P.event_id AS purchase_id,
        |           NEXT(event_id) AS next_id, NEXT(value) AS next_value
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (V P)
        |  DEFINE V AS event_type = 'view',
        |         P AS event_type = 'purchase'
        |)""".stripMargin)
    require(routed.isStreaming, "the MEASURES-NEXT clause must stream")
    import org.apache.spark.sql.functions.{col, round}
    // parquet sink (append finals), never a driver-side memory table —
    // the match log stays distributed at any corpus size
    val sinkDir =
      java.nio.file.Files.createTempDirectory("graft-q180").toString
    graft.streaming.StatefulBatch.runReplay(spark, dir)(
      routed.writeStream.format("parquet").option("path", sinkDir)
        .option("checkpointLocation", s"$sinkDir-ckpt")
        .outputMode("append"))
    spark.read.parquet(sinkDir)
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("next_id"), round(col("next_value"), 4).as("next_value"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  /** The SINGLE SQL front door ([[graft.Sql.sql]], r12): a
    * MATCH_RECOGNIZE clause EMBEDDED in a larger statement — the clause
    * result joined and the join aggregated by the enclosing SQL, all as
    * one string (reference parity: TableEnvironmentImpl.sqlQuery accepts
    * the composite statement; graft previously needed per-family
    * entries). The oracle expresses the adjacent view→purchase pair
    * match as window SQL (disjoint by construction — the two variables
    * bind different event types, so SKIP PAST LAST ROW prunes nothing). */
  val q143FrontDoor: QueryDef = QueryDef("q143_sql_front_door",
    """WITH seq AS (
      |  SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |pairs AS (
      |  SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id
      |  FROM seq a JOIN seq b ON b.user_id = a.user_id AND b.rn = a.rn + 1
      |  WHERE a.event_type = 'view' AND b.event_type = 'purchase')
      |SELECT p.user_id, p.view_id, p.purchase_id, u.n_events
      |FROM pairs p
      |JOIN (SELECT user_id, COUNT(*) AS n_events
      |      FROM events GROUP BY user_id) u
      |  ON u.user_id = p.user_id
      |ORDER BY p.user_id, p.view_id""".stripMargin) { (spark, dir) =>
    graft.core.Catalog.load(spark, dir, "events")
      .createOrReplaceTempView("events")
    graft.Sql.sql(spark,
      """SELECT m.user_id, m.view_id, m.purchase_id, u.n_events
        |FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES A.event_id AS view_id, B.event_id AS purchase_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B)
        |  DEFINE A AS event_type = 'view',
        |         B AS event_type = 'purchase'
        |) AS m
        |JOIN (SELECT user_id, COUNT(*) AS n_events
        |      FROM events GROUP BY user_id) u
        |  ON m.user_id = u.user_id
        |ORDER BY m.user_id, m.view_id""".stripMargin)
  }

  private def run(sql: String)(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    MatchRecognizeSql.sqlDf(graft.core.Catalog.load(spark, dir, "events"), sql)

  /** q89's funnel (`A B+ C`, FIRST/LAST/COUNT measures) as SQL text. */
  val q125SqlFunnel: QueryDef = QueryDef("q125_sql_match_funnel",
    Funnel.q89MatchRecognize.oracle.get) { (spark, dir) =>
    run("""SELECT * FROM events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts, event_id
          |  MEASURES A.event_id AS view_id,
          |           FIRST(B.event_id) AS first_click,
          |           LAST(B.event_id) AS last_click,
          |           COUNT(B.*) AS n_clicks,
          |           C.event_id AS purchase_id
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (A B+ C)
          |  DEFINE A AS event_type = 'view',
          |         B AS event_type = 'click',
          |         C AS event_type = 'purchase'
          |)""".stripMargin)(spark, dir)
      .orderBy(col("user_id"), col("purchase_id"))
  }

  /** q96's PREV-DEFINE price "V" (`D+ U`, D: value < PREV(value)). */
  val q126SqlPrev: QueryDef = QueryDef("q126_sql_match_prev",
    Funnel.q96PrevDefine.oracle.get) { (spark, dir) =>
    run("""SELECT * FROM events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts, event_id
          |  MEASURES FIRST(D.event_id) AS first_down,
          |           LAST(D.event_id) AS last_down,
          |           COUNT(D.*) AS n_down,
          |           U.event_id AS rebound
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (D+ U)
          |  DEFINE D AS value < PREV(value),
          |         U AS value > PREV(value)
          |)""".stripMargin)(spark, dir)
      .orderBy(col("user_id"), col("first_down"))
  }

  /** q98's reluctant star (`V A*? C`): nearest following click. */
  val q127SqlReluctant: QueryDef = QueryDef("q127_sql_match_reluctant",
    Funnel.q98ReluctantMatch.oracle.get) { (spark, dir) =>
    run("""SELECT * FROM events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts, event_id
          |  MEASURES V.event_id AS view_id,
          |           C.event_id AS click_id,
          |           COUNT(A.*) AS n_between
          |  ONE ROW PER MATCH
          |  PATTERN (V A*? C)
          |  DEFINE V AS event_type = 'view',
          |         C AS event_type = 'click'
          |)""".stripMargin)(spark, dir)
      .orderBy(col("user_id"), col("view_id"))
  }

  /** q99's NEXT-DEFINE (`A` with NEXT(event_type) = 'purchase'). */
  val q128SqlNext: QueryDef = QueryDef("q128_sql_match_next",
    Funnel.q99NextDefine.oracle.get) { (spark, dir) =>
    run("""SELECT * FROM events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts, event_id
          |  MEASURES A.event_id AS view_id,
          |           A.value AS viewed_value
          |  ONE ROW PER MATCH
          |  PATTERN (A)
          |  DEFINE A AS event_type = 'view' AND NEXT(event_type) = 'purchase'
          |)""".stripMargin)(spark, dir)
      .orderBy(col("user_id"), col("view_id"))
  }

  /** q111's overlapping pairs (`P1 P2`, AFTER MATCH SKIP TO NEXT ROW). */
  val q129SqlSkipNext: QueryDef = QueryDef("q129_sql_match_skip_next",
    Funnel.q111SkipToNextRow.oracle.get) { (spark, dir) =>
    run("""SELECT * FROM events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts, event_id
          |  MEASURES P1.event_id AS first_purchase,
          |           P2.event_id AS second_purchase
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (P1 P2)
          |  DEFINE P1 AS event_type = 'purchase',
          |         P2 AS event_type = 'purchase'
          |)""".stripMargin)(spark, dir)
      .orderBy(col("user_id"), col("first_purchase"))
  }

  /** The reference's COMPOSITE-KEY MATCH_RECOGNIZE shape (reference
    * MatchRecognizeITCase.scala:169-183: `PARTITION BY key1, key2`,
    * `LIKE`, cross-variable `LAST(A.name, 2) IS NULL` /
    * `LAST(A.name) = 'a'` defines) through the GENERAL-SCHEMA entry
    * [[MatchRecognizeSql.sqlDf]] — the input is a plain DataFrame, the
    * field registry is its own schema, and the partition key is
    * composite. The value ranges of A/B/C are disjoint, so candidate
    * triples cannot overlap and a LEAD-window oracle is exact. */
  val q131SqlCompositeKey: QueryDef = QueryDef("q131_sql_match_composite_key",
    """WITH w AS (
      |  SELECT user_id, event_type, event_id, value, ts,
      |         lead(value) OVER win AS v1, lead(value, 2) OVER win AS v2,
      |         lead(event_id) OVER win AS e1, lead(event_id, 2) OVER win AS e2
      |  FROM events
      |  WINDOW win AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |)
      |SELECT user_id, event_type, event_id AS a_id, event_type AS a_type,
      |       e1 AS b_id, e2 AS c_id, v2 AS c_value
      |FROM w
      |WHERE value > 70 AND event_type LIKE '%c%'
      |  AND v1 < 40 AND v2 >= 40 AND v2 <= 70
      |ORDER BY user_id, a_id""".stripMargin) { (spark, dir) =>
    MatchRecognizeSql.sqlDf(
      graft.core.Catalog.load(spark, dir, "events")
        .select("user_id", "event_type", "event_id", "ts", "value"),
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id, event_type
        |  ORDER BY ts, event_id
        |  MEASURES A.event_id AS a_id, A.event_type AS a_type,
        |           LAST(B.event_id) AS b_id, C.event_id AS c_id,
        |           C.value AS c_value
        |  ONE ROW PER MATCH
        |  PATTERN (A B C)
        |  DEFINE A AS value > 70 AND event_type LIKE '%c%',
        |         B AS value < 40 AND LAST(A.value, 2) IS NULL,
        |         C AS value >= 40 AND value <= 70 AND LAST(A.value) > 70
        |)""".stripMargin)
      .orderBy(col("user_id"), col("a_id"))
  }

  /** The reference's LOGICAL-OFFSETS price-V shape (reference
    * MatchRecognizeITCase.scala:371-415: `PATTERN (DOWN{2,} UP)` with
    * `LAST(DOWN.price, 1) IS NULL` first-row admission, `FIRST(DOWN
    * .price)` rebound test, arithmetic measures) through
    * [[MatchRecognizeSql.sqlDf]]. The bounded quantifier is POSSESSIVE
    * (the reference's CEP semantics — see [[graft.streaming.PatternMatch
    * .Times]]), so a match is: a maximal strictly-decreasing run of >= 2
    * rows whose breaking row sits below the run's first value, scanned
    * greedily with SKIP PAST LAST ROW. The oracle reproduces exactly
    * that with a run decomposition + recursive greedy selection. */
  val q132SqlLogicalOffsets: QueryDef = QueryDef("q132_sql_match_logical_offsets",
    """WITH RECURSIVE nums AS (
      |  SELECT user_id, event_id, value,
      |         row_number() OVER w AS rn,
      |         CASE WHEN value < lag(value) OVER w THEN 1 ELSE 0 END AS dstep
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), brk AS (
      |  SELECT *, min(CASE WHEN dstep = 0 THEN rn END) OVER
      |    (PARTITION BY user_id ORDER BY rn
      |     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt_brk
      |  FROM nums
      |), cand AS (
      |  SELECT s.user_id, s.rn AS s_rn, s.nxt_brk AS e_rn,
      |         s.event_id AS start_id, m.event_id AS bottom_id,
      |         u.event_id AS end_id,
      |         s.value + s.user_id + 1 AS bottom_total,
      |         u.value + u.user_id AS end_total
      |  FROM brk s
      |  JOIN nums m ON m.user_id = s.user_id AND m.rn = s.nxt_brk - 1
      |  JOIN nums u ON u.user_id = s.user_id AND u.rn = s.nxt_brk
      |  WHERE s.nxt_brk - s.rn >= 2 AND u.value < s.value
      |), sel AS (
      |  SELECT user_id, s_rn, e_rn, start_id, bottom_id, end_id,
      |         bottom_total, end_total
      |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |                                     ORDER BY s_rn) AS ci FROM cand)
      |  WHERE ci = 1
      |  UNION ALL
      |  SELECT c.user_id, c.s_rn, c.e_rn, c.start_id, c.bottom_id,
      |         c.end_id, c.bottom_total, c.end_total
      |  FROM sel s JOIN cand c
      |    ON c.user_id = s.user_id AND c.s_rn > s.e_rn
      |  WHERE NOT EXISTS (SELECT 1 FROM cand c2
      |                    WHERE c2.user_id = s.user_id
      |                      AND c2.s_rn > s.e_rn AND c2.s_rn < c.s_rn)
      |)
      |SELECT user_id, start_id, bottom_id, end_id, bottom_total, end_total
      |FROM sel ORDER BY user_id, start_id""".stripMargin) { (spark, dir) =>
    MatchRecognizeSql.sqlDf(
      graft.core.Catalog.load(spark, dir, "events")
        .select("user_id", "event_id", "ts", "value"),
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES FIRST(D.event_id) AS start_id,
        |           LAST(D.event_id) AS bottom_id,
        |           U.event_id AS end_id,
        |           FIRST(D.value + D.user_id + 1) AS bottom_total,
        |           U.value + U.user_id AS end_total
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (D{2,} U)
        |  DEFINE D AS value < LAST(D.value, 1) OR LAST(D.value, 1) IS NULL,
        |         U AS value < FIRST(D.value)
        |)""".stripMargin)
      .orderBy(col("user_id"), col("start_id"))
  }

  /** q113's ALL ROWS PER MATCH with the canonical CLASSIFIER() /
    * MATCH_NUMBER() / RUNNING-vs-FINAL projection in standard SQL:
    * `COUNT(*)` under RUNNING semantics is the row's position, and the
    * count of the row's own classifier is picked from per-variable
    * RUNNING and SQL:2016 `FINAL` counts by a narrow CASE projection
    * (no window, no Exchange beyond the executor's own key shuffle). */
  val q130SqlAllRows: QueryDef = QueryDef("q130_sql_match_all_rows",
    Funnel.q113AllRows.oracle.get) { (spark, dir) =>
    def byClassifier(a: String, b: String, c: String) =
      expr(s"CASE classifier WHEN 'A' THEN $a WHEN 'B' THEN $b ELSE $c END")
    run("""SELECT * FROM events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts, event_id
          |  MEASURES MATCH_NUMBER() AS match_no,
          |           COUNT(*) AS pos,
          |           CLASSIFIER() AS classifier,
          |           COUNT(A.*) AS run_a, COUNT(B.*) AS run_b,
          |           COUNT(C.*) AS run_c,
          |           FINAL COUNT(A.*) AS fin_a, FINAL COUNT(B.*) AS fin_b,
          |           FINAL COUNT(C.*) AS fin_c
          |  ALL ROWS PER MATCH
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (A B+ C)
          |  DEFINE A AS event_type = 'view',
          |         B AS event_type = 'click',
          |         C AS event_type = 'purchase'
          |)""".stripMargin)(spark, dir)
      .select(col("user_id"), col("match_no"), col("pos"), col("classifier"),
        col("event_id"),
        byClassifier("run_a", "run_b", "run_c").as("running_n"),
        byClassifier("fin_a", "fin_b", "fin_c").as("final_n"))
      .orderBy(col("user_id"), col("match_no"), col("pos"))
  }
}
