package graft.operators

import graft.core.QueryDef
import graft.streaming.WindowSql

/** The reference's streaming OVER-aggregate shapes accepted AS SQL TEXT
  * (reference: flink-table-planner-blink
  * .../stream/StreamExecOverAggregate.scala:56 routing; the
  * OverWindowITCase query surface) through
  * [[graft.streaming.WindowSql]], each hash-checked by the SAME
  * DuckDB oracle as its Scala-API twin in
  * [[graft.streaming.StatefulBatch]] — the SQL front-end is thereby
  * proven bit-identical to the API it dispatches onto, closing the
  * SQL-vs-API asymmetry for the stateful OVER family the way
  * [[MatchSql]] closed it for MATCH_RECOGNIZE. */
object OverSql {

  def defs: Seq[QueryDef] =
    Seq(q133SqlOverRunning, q134SqlOverRows, q135SqlOverRange,
      q136SqlOverAnyRows, q137SqlOverAnyRange, q138SqlOverAnyUnbounded,
      q139SqlOverAnyProcRows, q144OverDecimal, q148OverNative,
      q156SqlOverRangeUnbounded, q157SqlOverDistinct)

  /** DISTINCT aggregates inside OVER frames (the reference's
    * OverWindowITCase distinct family / DistinctView state): per-frame
    * distinct user-set size and distinct-id sum over a sliding ROWS
    * frame. Spark's own WindowExec rejects DISTINCT window aggregates,
    * so this is executor-only — bounded frames dedupe on the frame
    * recompute, unbounded frames keep a per-key value set (the
    * reference's state shape). */
  val q157SqlOverDistinct: QueryDef = QueryDef("q157_sql_over_distinct",
    """SELECT user_id, event_id,
      |  COUNT(DISTINCT user_id) OVER w AS du,
      |  CAST(SUM(DISTINCT user_id) OVER w AS DOUBLE) AS su
      |FROM events
      |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
      |             ROWS BETWEEN 50 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.functions.col
    WindowSql.sqlDf(graft.core.Catalog.load(spark, dir, "events"),
      """SELECT user_id, event_id,
        |  COUNT(DISTINCT user_id) OVER w AS du,
        |  SUM(DISTINCT user_id) OVER w AS su
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |             ROWS BETWEEN 50 PRECEDING AND CURRENT ROW)""".stripMargin)
      .orderBy(col("user_id"), col("event_id"))
  }

  /** RANGE UNBOUNDED PRECEDING with SQL PEER semantics (the reference's
    * RowTimeRangeUnboundedPrecedingFunction;
    * OverWindowITCase.testRowTimeUnBoundedPartitionedRangeOver): events
    * bucketed to the minute so peers genuinely exist — every row in a
    * tied minute carries the aggregate over ALL of that minute, where
    * the ROWS twin (q138) would give each row a run up to itself. Forced
    * onto the stateful executor; `OverAggregatesSpec` pins the native
    * WindowExec route to the same rows. */
  val q156SqlOverRangeUnbounded: QueryDef = QueryDef(
    "q156_sql_over_range_unbounded",
    """WITH e AS (
      |  SELECT user_id, event_id, value,
      |         date_trunc('minute', ts) AS tmin
      |  FROM events)
      |SELECT user_id, event_id,
      |  round(SUM(value) OVER w, 4) AS sv,
      |  COUNT(value) OVER w AS cv
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY tmin
      |             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.functions.{col, date_trunc}
    val e = graft.core.Catalog.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"),
        date_trunc("minute", col("ts")).as("tmin"))
    WindowSql.sqlDf(e,
      """SELECT user_id, event_id,
        |  ROUND(SUM(value) OVER w, 4) AS sv,
        |  COUNT(value) OVER w AS cv
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY tmin
        |             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
      batchNative = false)
      .orderBy(col("user_id"), col("event_id"))
  }

  /** The DEFAULT batch route of the same OVER SQL entry (r12): native
    * WindowExec — codegen'd, spill-aware, the 100 TB batch plan — where
    * q136–q138 pin the stateful executor's collapse. RANGE frame on the
    * single timestamp key (the native-expressible shape), MIN included;
    * `PlanLintSpec` asserts the plan is a WindowExec with no stateful
    * operator. */
  val q148OverNative: QueryDef = QueryDef("q148_sql_over_native",
    """WITH e AS (
      |  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events)
      |SELECT user_id, event_id,
      |  COUNT(value) OVER win AS cnt_v,
      |  round(SUM(value) OVER win, 4) AS sum_v,
      |  MIN(value) OVER win AS min_v
      |FROM e
      |WINDOW win AS (PARTITION BY user_id ORDER BY us
      |               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    graft.streaming.WindowSql.sqlDf(
      graft.core.Catalog.load(spark, dir, "events"),
      """SELECT user_id, event_id,
        |  COUNT(value) OVER win AS cnt_v,
        |  ROUND(SUM(value) OVER win, 4) AS sum_v,
        |  MIN(value) OVER win AS min_v
        |FROM events
        |WINDOW win AS (PARTITION BY user_id ORDER BY ts
        |               RANGE BETWEEN INTERVAL '1' HOUR
        |                     PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin)
  }

  /** DECIMAL-EXACT general-schema OVER (r12, VERDICT r11 #5): SUM/MIN
    * over a DECIMAL(12,2) money column stay decimal through the frame
    * fold (reference long-backed decimal semantics, Decimal.java:43) —
    * the final cast to double happens AFTER exact arithmetic on both
    * engines, so the gate hashes EXACT values, no 4dp rounding. AVG
    * derives as double from the exact decimal sum (deterministic under
    * any partitioning; both engines divide the identical rational). */
  val q144OverDecimal: QueryDef = QueryDef("q144_sql_over_decimal",
    """WITH t AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |         CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders)
      |SELECT o_custkey, o_orderkey,
      |  CAST(SUM(price) OVER win AS DOUBLE) AS sum_price,
      |  CAST(MIN(price) OVER win AS DOUBLE) AS min_price,
      |  CAST(SUM(price) OVER win AS DOUBLE)
      |    / COUNT(price) OVER win AS avg_price
      |FROM t
      |WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.DecimalType
    val t = graft.core.Catalog.load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice").cast(DecimalType(12, 2)).as("price"))
    graft.streaming.OverAggregates.overAggregates(t,
      Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"),
      graft.streaming.OverAggregates.RowsPreceding(2),
      Seq(graft.streaming.OverAggregates.Agg("SUM", Some("price"), "sum_price"),
        graft.streaming.OverAggregates.Agg("MIN", Some("price"), "min_price"),
        graft.streaming.OverAggregates.Agg("AVG", Some("price"), "avg_price")))
      .select(col("o_custkey"), col("o_orderkey"),
        col("sum_price").cast("double").as("sum_price"),
        col("min_price").cast("double").as("min_price"),
        col("avg_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** The events table through the stateful executor's collapse — the
    * route q136–q138 pin too. */
  private def run(sql: String)(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    WindowSql.sqlDf(graft.core.Catalog.load(spark, dir, "events"), sql,
      batchNative = false)

  /** q74's unbounded running aggregates as SQL text — the oracle text
    * itself is the accepted statement (WINDOW clause, ROUND wrapper,
    * trailing ORDER BY all parse). */
  val q133SqlOverRunning: QueryDef = QueryDef("q133_sql_over_running",
    graft.streaming.StatefulBatch.q74RunningOver.oracle.get) { (spark, dir) =>
    run("""SELECT user_id, event_id,
          |  COUNT(*) OVER win AS running_count,
          |  ROUND(SUM(value) OVER win, 4) AS running_sum,
          |  MAX(value) OVER win AS running_max
          |FROM events
          |WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
          |               ROWS UNBOUNDED PRECEDING)
          |ORDER BY user_id, event_id""".stripMargin)(spark, dir)
  }

  /** q94's `ROWS BETWEEN 4 PRECEDING AND CURRENT ROW` frame as SQL
    * text, inline-OVER form (reference
    * RowTimeRowsBoundedPrecedingFunction.java). */
  val q134SqlOverRows: QueryDef = QueryDef("q134_sql_over_rows",
    graft.streaming.StatefulBatch.q94RowsFrame.oracle.get) { (spark, dir) =>
    run("""SELECT user_id, event_id,
          |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
          |    AS n_in_frame,
          |  ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4)
          |    AS frame_sum,
          |  MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
          |    AS frame_max
          |FROM events
          |ORDER BY user_id, event_id""".stripMargin)(spark, dir)
  }

  /** q95's trailing-24h `RANGE BETWEEN ... PRECEDING` frame as SQL text
    * with the reference's INTERVAL bound (reference
    * RowTimeRangeBoundedPrecedingFunction.java; the oracle frames on the
    * same 86400000000 epoch-microseconds horizon). */
  /** The GENERAL-SCHEMA executor ([[graft.streaming.OverAggregates]],
    * new r11) on a non-Event table: the orders fact, ROWS frame, MIN —
    * the OverWindowITCase surface (reference:
    * .../stream/sql/OverWindowITCase.scala
    * testRowTimeBoundedPartitionedRowsOver shape). */
  val q136SqlOverAnyRows: QueryDef = QueryDef("q136_sql_over_any_rows",
    """SELECT o_custkey, o_orderkey,
      |  COUNT(*) OVER win AS cnt_w,
      |  round(SUM(o_totalprice) OVER win, 4) AS sum_price,
      |  MIN(o_totalprice) OVER win AS min_price
      |FROM orders
      |WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (spark, dir) =>
    graft.streaming.WindowSql.sqlDf(
      graft.core.Catalog.load(spark, dir, "orders"),
      """SELECT o_custkey, o_orderkey,
        |  COUNT(*) OVER win AS cnt_w,
        |  ROUND(SUM(o_totalprice) OVER win, 4) AS sum_price,
        |  MIN(o_totalprice) OVER win AS min_price
        |FROM orders
        |WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
      batchNative = false) // the gate pins the streaming executor's collapse
  }

  /** General-schema RANGE frame partitioned by a STRING key (the IT
    * cases partition by the string column c). The oracle frames on epoch
    * micros like q95's. */
  val q137SqlOverAnyRange: QueryDef = QueryDef("q137_sql_over_any_range",
    """WITH e AS (
      |  SELECT event_type, event_id, value, epoch_us(ts) AS us FROM events)
      |SELECT event_type, event_id,
      |  COUNT(*) OVER win AS cnt_w,
      |  round(SUM(value) OVER win, 4) AS sum_v,
      |  MIN(value) OVER win AS min_v
      |FROM e
      |WINDOW win AS (PARTITION BY event_type ORDER BY us
      |               RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_type, event_id""".stripMargin) { (spark, dir) =>
    graft.streaming.WindowSql.sqlDf(
      graft.core.Catalog.load(spark, dir, "events"),
      """SELECT event_type, event_id,
        |  COUNT(*) OVER win AS cnt_w,
        |  ROUND(SUM(value) OVER win, 4) AS sum_v,
        |  MIN(value) OVER win AS min_v
        |FROM events
        |WINDOW win AS (PARTITION BY event_type ORDER BY ts
        |               RANGE BETWEEN INTERVAL '1' MINUTE
        |                     PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, event_id""".stripMargin,
      batchNative = false) // the gate pins the streaming executor's collapse
  }

  /** General-schema unbounded frame over a COMPOSITE partition key with
    * MIN (reference testRowTimeUnBoundedPartitionedRowsOver's aggregate
    * surface). SUM is gate-hashed at 4dp (sums of 2dp money never sit
    * near a 4dp midpoint); AVG is spec-checked with exact rational
    * expectations instead (OverAggregatesSpec) — sum/n lands on EXACT
    * 4dp rounding midpoints whenever n divides a power of 10/2, where
    * the double-vs-DuckDB last-ulp difference flips the rounding. */
  val q138SqlOverAnyUnbounded: QueryDef = QueryDef("q138_sql_over_any_unbounded",
    """SELECT user_id, event_type, event_id,
      |  COUNT(*) OVER win AS cnt_w,
      |  round(SUM(value) OVER win, 4) AS sum_v,
      |  MIN(value) OVER win AS min_v
      |FROM events
      |WINDOW win AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_type, event_id""".stripMargin) { (spark, dir) =>
    graft.streaming.WindowSql.sqlDf(
      graft.core.Catalog.load(spark, dir, "events"),
      """SELECT user_id, event_type, event_id,
        |  COUNT(*) OVER win AS cnt_w,
        |  ROUND(SUM(value) OVER win, 4) AS sum_v,
        |  MIN(value) OVER win AS min_v
        |FROM events
        |WINDOW win AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_type, event_id""".stripMargin,
      batchNative = false) // the gate pins the streaming executor's collapse
  }

  /** General-schema PROC-TIME ROWS frame (r11): arrival-order frames on
    * a string-partitioned table with MIN — the reference
    * testProcTimeBoundedPartitionedRowsOver surface. In batch the whole
    * input is one arrival sequence ordered by the declared determinism
    * key (ts, event_id), so the oracle is the plain ROWS window over
    * that key. */
  val q139SqlOverAnyProcRows: QueryDef = QueryDef("q139_sql_over_any_proc_rows",
    """SELECT event_type, event_id,
      |  round(SUM(value) OVER win, 4) AS sum_v,
      |  MIN(value) OVER win AS min_v
      |FROM events
      |WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
      |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      |ORDER BY event_type, event_id""".stripMargin) { (spark, dir) =>
    graft.streaming.WindowSql.sqlDf(
      graft.core.Catalog.load(spark, dir, "events"),
      """SELECT event_type, event_id,
        |  ROUND(SUM(value) OVER win, 4) AS sum_v,
        |  MIN(value) OVER win AS min_v
        |FROM events
        |WINDOW win AS (PARTITION BY event_type ORDER BY proctime, ts, event_id
        |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, event_id""".stripMargin)
  }

  val q135SqlOverRange: QueryDef = QueryDef("q135_sql_over_range",
    graft.streaming.StatefulBatch.q95RangeFrame.oracle.get) { (spark, dir) =>
    run("""SELECT user_id, event_id,
          |  COUNT(*) OVER win AS n_in_frame,
          |  ROUND(SUM(value) OVER win, 4) AS frame_sum,
          |  MAX(value) OVER win AS frame_max
          |FROM events
          |WINDOW win AS (PARTITION BY user_id ORDER BY ts
          |               RANGE BETWEEN INTERVAL '24' HOUR
          |                     PRECEDING AND CURRENT ROW)
          |ORDER BY user_id, event_id""".stripMargin)(spark, dir)
  }
}
