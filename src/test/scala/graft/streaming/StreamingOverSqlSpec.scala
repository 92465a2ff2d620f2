package graft.streaming

import graft.SparkSpec
import graft.operators.OverSql

/** The streaming-OVER SQL front-end ([[WindowSql.sqlDf]]) must be a
  * faithful dispatcher: each SQL shape returns bit-identical rows to the
  * Scala-API operator it routes onto, and anything outside the operator
  * contract fails loudly when the statement is read rather than
  * mis-executing. */
class StreamingOverSqlSpec extends SparkSpec {

  private def events = graft.core.Catalog.load(spark, sf(), "events")
    .select("user_id", "event_id", "ts", "event_type", "value")

  test("SQL shapes are row-identical to their Scala-API twins") {
    val pairs = Seq(
      OverSql.q133SqlOverRunning -> StatefulBatch.q74RunningOver,
      OverSql.q134SqlOverRows -> StatefulBatch.q94RowsFrame,
      OverSql.q135SqlOverRange -> StatefulBatch.q95RangeFrame)
    pairs.foreach { case (sqlDef, apiDef) =>
      val got = rows(sqlDef.run(spark, sf()))
      val want = rows(apiDef.run(spark, sf()))
      assert(got == want, s"${sqlDef.name} != ${apiDef.name}")
      assert(got.nonEmpty, s"${sqlDef.name} returned no rows")
      assert(sqlDef.run(spark, sf()).columns.toSeq ==
        apiDef.run(spark, sf()).columns.toSeq,
        s"${sqlDef.name} column names diverge from ${apiDef.name}")
    }
  }

  test("proctime ORDER BY routes to the proc-time operators") {
    // batch collapse: a single batch is one arrival sequence, so the
    // proc-rows route emits exactly one framed row per input row
    val df = WindowSql.sqlDf(
      events.orderBy("user_id", "ts", "event_id"),
      """SELECT user_id, event_id, COUNT(*) OVER w AS n_in_frame
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY proctime
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin)
    assert(df.columns.toSeq == Seq("user_id", "event_id", "n_in_frame"))
    assert(df.count() == events.count())
  }

  test("contract violations fail loudly with the reason") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def rejectsOn(df: org.apache.spark.sql.DataFrame, sql: String,
        needle: String): Unit = {
      val e = intercept[Exception](WindowSql.sqlDf(df, sql))
      assert(e.getMessage != null && e.getMessage.contains(needle),
        s"wrong error for: $sql\n got: ${e.getMessage}")
    }
    def rejects(sql: String, needle: String): Unit = rejectsOn(events, sql, needle)
    rejects(
      """SELECT user_id, SUM(ts) OVER w AS s FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             ROWS UNBOUNDED PRECEDING)""".stripMargin,
      "needs a numeric column")
    // a stream frames on event time: a non-timestamp leading order key
    // has no watermark to close frames on
    rejectsOn(
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
        Events.Event].toDF(),
      """SELECT user_id, COUNT(*) OVER w AS c FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY value
        |             ROWS UNBOUNDED PRECEDING)""".stripMargin,
      "must be a timestamp")
    // two distinct specs in one statement = two operator passes: reject
    rejects(
      """SELECT user_id,
        |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
        |                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS a,
        |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
        |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS b
        |FROM events""".stripMargin,
      "one window spec")
    rejects(
      """SELECT user_id, COUNT(*) OVER w AS c FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY proctime
        |             ROWS UNBOUNDED PRECEDING)""".stripMargin,
      "proc-time unbounded")
    rejects(
      """SELECT user_id, COUNT(*) OVER missing AS c FROM events""",
      "undefined window")
    // window functions outside the executors' contract name themselves
    // and the supported set, never a misleading column error
    rejects(
      """SELECT user_id, LAG(value) OVER w AS prev FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
      "LAG() is not supported on the streaming OVER/rank route; " +
        "supported: ROW_NUMBER, COUNT, SUM, AVG, MIN, MAX")
    rejects(
      """SELECT user_id, NTILE(2) OVER w AS half FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
      "NTILE() is not supported on the streaming OVER/rank route")
    // a ROWS frame counts rows: an INTERVAL bound is not a row count
    rejects(
      """SELECT user_id, COUNT(*) OVER w AS c FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN INTERVAL '1' SECOND PRECEDING AND CURRENT ROW)""".stripMargin,
      "unsupported OVER frame")
  }

  test("the native batch route is row-identical to the executor's " +
    "collapse on every expressible frame, decimals included") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.DecimalType
    val orders = spark.read.parquet(s"${sf()}/orders.parquet")
      // raw parquet yields TimestampNTZ; the executors' event-time
      // contract is TimestampType (Catalog.load normalizes the same way)
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .withColumn("price", col("o_totalprice").cast(DecimalType(12, 2)))
    val shapes = Seq(
      // ROWS frame with decimal SUM/AVG and MIN — the exactness stressor
      """SELECT o_custkey, o_orderkey,
        |  SUM(price) OVER w AS s, AVG(price) OVER w AS a,
        |  MIN(price) OVER w AS m
        |FROM t WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
      // UNBOUNDED with COUNT(col) and double aggregates
      """SELECT o_custkey, o_orderkey,
        |  COUNT(o_totalprice) OVER w AS c, MAX(o_totalprice) OVER w AS mx
        |FROM t WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
      // RANGE on the single timestamp key
      """SELECT o_custkey, o_orderkey, COUNT(*) OVER w AS c
        |FROM t WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |  RANGE BETWEEN INTERVAL '30' DAY PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)
    shapes.foreach { q =>
      val native = WindowSql.sqlDf(orders, q)
      val exec = WindowSql.sqlDf(orders, q, batchNative = false)
      assert(native.schema.map(f => (f.name, f.dataType)) ==
        exec.schema.map(f => (f.name, f.dataType)), q)
      assert(rows(native) == rows(exec), q)
      // and the native route really planned a WindowExec
      native.collect()
      assert(planNodes(native.queryExecution.executedPlan)
        .exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
    }
    // a RANGE frame with a composite order key is NOT native-expressible:
    // the entry must fall back to the executor, not mis-plan
    val fallback = WindowSql.sqlDf(orders,
      """SELECT o_custkey, o_orderkey, COUNT(*) OVER w AS c
        |FROM t WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey
        |  RANGE BETWEEN INTERVAL '30' DAY PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)
    fallback.collect()
    assert(!planNodes(fallback.queryExecution.executedPlan)
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
  }

  test("AVG derives as sum/count from the operator output") {
    val df = WindowSql.sqlDf(events,
      """SELECT user_id, event_id, AVG(value) OVER w AS running_avg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS UNBOUNDED PRECEDING)
        |ORDER BY user_id, event_id""".stripMargin, batchNative = false)
    val api = OverAggregates.overAggregates(events, Seq("user_id"),
      Seq("ts", "event_id"), OverAggregates.UnboundedPreceding,
      Seq(OverAggregates.Agg("COUNT", None, "running_count"),
        OverAggregates.Agg("SUM", Some("value"), "running_sum")))
    import org.apache.spark.sql.functions.col
    val want = rows(api.select(col("user_id"), col("event_id"),
      (col("running_sum") / col("running_count")).as("running_avg"))
      .orderBy("user_id", "event_id"))
    assert(rows(df) == want)
  }
}
