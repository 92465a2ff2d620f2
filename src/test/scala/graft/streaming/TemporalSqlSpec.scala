package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.expressions.{And, Or}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LateralJoin}

import graft.SparkSpec

/** The reference's temporal-join SQL spellings through the session
  * parser: rewrite contract, the TemporalJoinITCase event-time join
  * reproduced verbatim, and the FOR SYSTEM_TIME forms through
  * `spark.sql`. */
class TemporalSqlSpec extends SparkSpec {

  /** The generators (`explode` / `inline`) of the analyzed plan. */
  private def generators(text: String): Seq[String] =
    graft.Sql.sql(spark, text).queryExecution.analyzed.collectWithSubqueries {
      case g: Generate => g.generator.prettyName
    }

  test("rewrite contract: LATERAL TABLE over a registered function " +
    "becomes a versioned equi-join; unregistered calls pass through; " +
    "proc-time arguments select the latest version") {
    import spark.implicits._
    Seq((2L, "Euro", new Timestamp(2L)), (3L, "Euro", new Timestamp(5L)))
      .toDF("a", "cur", "rowtime").withColumn("proctime", $"rowtime")
      .createOrReplaceTempView("Orders_t")
    Seq(("Euro", 114L, new Timestamp(1L)), ("Euro", 116L, new Timestamp(5L)))
      .toDF("cur", "rate", "rt").createOrReplaceTempView("rates_v")
    TemporalSql.registerTemporalFunction("RatesT", "rates_v", "rt", "cur")
    try {
      val got = graft.Sql.sql(spark,
        "SELECT o.a * r.rate FROM Orders_t AS o, " +
          "LATERAL TABLE (RatesT(o.rowtime)) AS r WHERE r.cur = o.cur")
      // a plain join over the versioned history, no lateral correlate
      val plan = got.queryExecution.analyzed
      assert(plan.collectFirst { case j: LateralJoin => j }.isEmpty, plan)
      val cond = got.queryExecution.logical.collectFirst {
        case j: Join => j.condition.get.sql
      }.get
      assert(cond.contains("o.rowtime >= r.rt") &&
        cond.contains("o.rowtime < r.graft_vend"), cond)
      assert(rows(got).map(_.head).toSet == Set(228L, 348L))
      // proc-time argument -> latest-version condition only
      val proc = graft.Sql.sql(spark,
        "SELECT o.a * r.rate FROM Orders_t AS o, " +
          "LATERAL TABLE (RatesT(o.proctime)) AS r")
      val pcond = proc.queryExecution.logical.collectFirst {
        case j: Join => j.condition.get.sql
      }.get
      assert(pcond.contains("r.graft_vend IS NULL") && !pcond.contains(">="),
        pcond)
      assert(rows(proc).map(_.head).toSet == Set(232L, 348L))
      // an unregistered function is the UDTF correlate: routes to the
      // generators and fails in the analyzer under its own name
      val e = intercept[org.apache.spark.sql.AnalysisException](graft.Sql.sql(
        spark, "SELECT * FROM Orders_t AS T, LATERAL TABLE (SomeUdtf(a)) AS r"))
      assert(e.getMessage.toLowerCase.contains("someudtf"), e.getMessage)
    } finally TemporalSql.dropTemporalFunction("RatesT")
  }

  /** `ts_orders` (oid, k, k2, ts, a, proctime, proc, proctime_ts), the
    * versioned history `ts_dim` (k, rt, v) and the unversioned `ts_cur`
    * (k, v); times in seconds. */
  private def systemTimeTables(): Unit = {
    import spark.implicits._
    def t(s: Int) = new Timestamp(s * 1000L)
    Seq((1, 1, 2, t(3), 1), (2, 1, 9, t(6), 1), (3, 2, 9, t(2), 0))
      .toDF("oid", "k", "k2", "ts", "a")
      .selectExpr("*", "ts AS proctime", "ts AS proc", "ts AS proctime_ts")
      .createOrReplaceTempView("ts_orders")
    Seq((1, t(1), 10), (1, t(5), 11), (2, t(1), 20), (2, t(5), 21))
      .toDF("k", "rt", "v").createOrReplaceTempView("ts_dim")
    Seq((1, 100), (2, 200)).toDF("k", "v").createOrReplaceTempView("ts_cur")
  }

  /** (oid, v) rows of `spark.sql(text)`. */
  private def pairs(text: String): Set[(Int, Int)] =
    spark.sql(text).collect().map(r => (r.getInt(0), r.getInt(1))).toSet

  test("FOR SYSTEM_TIME AS OF through spark.sql: the interval is ANDed " +
    "onto the parsed ON condition (a top-level OR keeps its binding); " +
    "backticked table, alias and column; ON columns named left/window; " +
    "FOR in a comment") {
    systemTimeTables()
    TemporalSql.registerTemporalFunction("ts_dim", "ts_dim", "rt", "k")
    try {
      val or = "SELECT o.oid, r.v FROM ts_orders o JOIN ts_dim FOR " +
        "SYSTEM_TIME AS OF o.ts AS r ON r.k = o.k OR r.k = o.k2 WHERE o.a > 0"
      // bound inside the OR, the interval would also admit (1, 11)
      assert(pairs(or) == Set((1, 10), (1, 20), (2, 11)))
      val cond = spark.sql(or).queryExecution.logical.collectFirst {
        case j: Join => j.condition.get
      }.get
      assert(cond.isInstanceOf[And] &&
        cond.asInstanceOf[And].left.isInstanceOf[Or], cond.sql)
      val asOf = Set((1, 10), (2, 11), (3, 20))
      assert(pairs("SELECT o.oid, r.v FROM ts_orders o JOIN `ts_dim` FOR " +
        "SYSTEM_TIME AS OF o.`ts` AS `r` ON r.k = o.k") == asOf)
      assert(pairs("/* FOR */ SELECT o.oid, r.v FROM ts_orders o -- FOR\n" +
        "JOIN ts_dim FOR SYSTEM_TIME AS OF o.ts AS r ON r.k = o.k") == asOf)
      // no alias: the table's name qualifies its columns
      assert(pairs("SELECT o.oid, ts_dim.v FROM ts_orders o JOIN ts_dim " +
        "FOR SYSTEM_TIME AS OF o.ts ON ts_dim.k = o.k") == asOf)
      // columns named like clause keywords inside ON, a LEFT JOIN and a
      // GROUP BY after it
      spark.sql("SELECT oid, k AS left, k2 AS window, ts FROM ts_orders")
        .createOrReplaceTempView("ts_kw")
      assert(pairs("SELECT o.oid, MAX(r.v) FROM ts_kw o JOIN ts_dim FOR " +
        "SYSTEM_TIME AS OF o.ts AS r ON r.k = left OR r.k = window " +
        "LEFT JOIN ts_cur c ON c.k = o.left GROUP BY o.oid") ==
        Set((1, 20), (2, 11), (3, 20)))
    } finally TemporalSql.dropTemporalFunction("ts_dim")
  }

  test("FOR SYSTEM_TIME AS OF proc-time is opt-in and matched exactly: " +
    "unregistered + proc-time reads current contents; unregistered + " +
    "event-time fails loudly") {
    systemTimeTables()
    def current(col: String) = pairs("SELECT o.oid, r.v FROM ts_orders o " +
      s"JOIN ts_cur FOR SYSTEM_TIME AS OF $col AS r ON r.k = o.k")
    val now = Set((1, 100), (2, 100), (3, 200))
    assert(current("o.proctime") == now)
    assert(current("PROCTIME()") == now)
    // `proc` is an event-time column until declared proc-time
    val e = intercept[IllegalArgumentException](current("o.proc"))
    assert(e.getMessage.contains("registerTemporalFunction"), e.getMessage)
    intercept[IllegalArgumentException](current("o.ts"))
    TemporalSql.registerProcTimeAttribute("proc")
    try assert(current("o.proc") == now)
    finally TemporalSql.dropProcTimeAttribute("proc")
    // over a versioned table: proc-time is the latest version, and a
    // column that merely resembles the name keeps event-time semantics
    TemporalSql.registerTemporalFunction("ts_dim", "ts_dim", "rt", "k")
    try {
      def versioned(col: String) = pairs("SELECT o.oid, r.v FROM ts_orders " +
        s"o JOIN ts_dim FOR SYSTEM_TIME AS OF $col AS r ON r.k = o.k")
      assert(versioned("o.proctime") == Set((1, 11), (2, 11), (3, 21)))
      assert(versioned("o.proctime_ts") == Set((1, 10), (2, 11), (3, 20)))
    } finally TemporalSql.dropTemporalFunction("ts_dim")
  }

  test("reference stream CorrelateITCase:90-163: LATERAL TABLE over an " +
    "array-returning UDF — constant form, correlated form, and the " +
    "rewrite contract") {
    import spark.implicits._
    // the UDTF's graft twin: an array-returning scalar UDF
    spark.udf.register("str_split",
      (s: String, d: String) => s.split(java.util.regex.Pattern.quote(d)))
    spark.udf.register("pairs",
      (s: String) => s.split(",").map(x => (x, x.length)))
    Seq((1, 2, "abc-bcd"), (1, 2, "hhh"), (1, 3, "xyz"))
      .toDF("a", "b", "c").createOrReplaceTempView("T1")
    // rewrite contract: unregistered LATERAL TABLE routes to the
    // generators (explode / inline by alias column count)
    assert(generators(
      "SELECT s FROM T1, LATERAL TABLE(str_split(c, ',')) as T2(s)") ==
      Seq("explode"))
    assert(generators(
      "SELECT x, y FROM T1, LATERAL TABLE(pairs(c)) as T2(x, y)") ==
      Seq("inline"))
    // testConstantTableFunc2 (:100-109) verbatim
    val const = graft.Sql.sql(spark,
      "SELECT * FROM LATERAL TABLE(str_split('Jack,John', ',')) as T0(d)")
    assert(rows(const).map(_.head).toSet == Set("Jack", "John"))
    // a plain LATERAL before a LATERAL TABLE leaves the latter rewritten
    assert(generators("SELECT s, r FROM T1, " +
      "LATERAL explode(str_split(c, '-')) AS a(s), " +
      "LATERAL TABLE(str_split(c, 'b')) AS b(r)") == Seq("explode", "explode"))
    // testUdfIsOpenedAfterUdtf's correlate shape (:150-156)
    val corr = graft.Sql.sql(spark,
      """SELECT a, b, s
        |FROM T1, LATERAL TABLE(str_split(c, '-')) as T2(s)""".stripMargin)
    assert(rows(corr).toSet == Set(
      Seq[Any](1, 2, "abc"), Seq[Any](1, 2, "bcd"),
      Seq[Any](1, 2, "hhh"), Seq[Any](1, 3, "xyz")))
  }

  test("reference stream TemporalJoinITCase.testEventTimeInnerJoin" +
    ":100-160 verbatim: the join runs over the FILTERED history and " +
    "drops orders with no version (inner semantics)") {
    import spark.implicits._
    Seq((2L, "Euro", new Timestamp(2L)), (1L, "US Dollar", new Timestamp(3L)),
      (50L, "Yen", new Timestamp(4L)), (3L, "Euro", new Timestamp(5L)))
      .toDF("amount", "currency", "rowtime")
      .createOrReplaceTempView("Orders")
    Seq(("US Dollar", 102L, new Timestamp(1L)), ("Euro", 114L, new Timestamp(1L)),
      ("Yen", 1L, new Timestamp(1L)), ("Euro", 116L, new Timestamp(5L)),
      ("Euro", 119L, new Timestamp(7L)))
      .toDF("currency", "rate", "rowtime")
      .createOrReplaceTempView("RatesHistory")
    graft.Sql.sql(spark, "SELECT * FROM RatesHistory WHERE rate > 110")
      .createOrReplaceTempView("FilteredRatesHistory")
    TemporalSql.registerTemporalFunction(
      "Rates", "FilteredRatesHistory", "rowtime", "currency")
    try {
      val got = graft.Sql.sql(spark,
        """SELECT
          |  o.amount * r.rate AS amount
          |FROM
          |  Orders AS o,
          |  LATERAL TABLE (Rates(o.rowtime)) AS r
          |WHERE r.currency = o.currency
          |""".stripMargin)
      // the ITCase's expectedOutput (:128-130): {2*114, 3*116}
      assert(rows(got).map(_.head).toSet == Set(228L, 348L))
    } finally TemporalSql.dropTemporalFunction("Rates")
  }

  test("q166/q167 cross-check: both spellings equal the AsOfJoin " +
    "operator's answer on the fixture") {
    import org.apache.spark.sql.functions._
    val dir = sf()
    val viaFn = graft.SparkEntry.queries("q166_sql_temporal_fn")(spark, dir)
    // the hand-built operator path over the same deduped history
    val t = graft.core.Tables(spark, dir)
    val p = t.events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        expr("unix_micros(ts)").as("ts"))
    val v = t.events.filter(col("event_type") === "view")
      .groupBy(col("user_id"), expr("unix_micros(ts)").as("ts"))
      .agg(max(col("event_id")).as("viewed_event"),
        max_by(col("value"), col("event_id")).as("viewed_value"))
    val want = graft.operators.AsOfJoin.asOfJoin(p, v, key = "user_id",
      leftTs = "ts", rightTs = "ts", rightTieBreak = "viewed_event",
      valueCols = Seq("viewed_event", "viewed_value"))
      .filter(col("viewed_event").isNotNull) // inner semantics
      .select("purchase_id", "user_id", "viewed_event", "viewed_value")
      .orderBy("purchase_id")
    assert(rows(viaFn) == rows(want))
    assert(rows(viaFn).nonEmpty)
    // the FOR SYSTEM_TIME aggregate equals the operator's collapse
    val viaSt = graft.SparkEntry.queries("q167_sql_system_time")(spark, dir)
    val wantAgg = want.groupBy(col("viewed_event"))
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy(col("viewed_event"))
    assert(rows(viaSt) == rows(wantAgg))
  }
}
