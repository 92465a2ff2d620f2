package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LateralJoin}

import graft.SparkSpec

/** The reference's temporal-join SQL spellings through the single front
  * door: rewrite contract, the TemporalJoinITCase event-time join
  * reproduced verbatim, and the FOR SYSTEM_TIME forms. */
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

  test("rewrite contract: FOR SYSTEM_TIME AS OF wraps the original ON " +
    "condition before ANDing the interval (top-level OR keeps its " +
    "binding); unregistered + proc-time reads current contents; " +
    "unregistered + event-time fails loudly") {
    TemporalSql.registerTemporalFunction("dimv", "dimv", "rt", "k")
    try {
      val got = TemporalSql.rewrite(
        "SELECT * FROM t JOIN dimv FOR SYSTEM_TIME AS OF t.ts AS r " +
          "ON r.k = t.k OR r.k = t.k2 WHERE t.a > 0")
      assert(got.contains("ON (r.k = t.k OR r.k = t.k2) AND"), got)
      assert(got.contains("t.ts >= r.rt"), got)
      assert(got.contains("WHERE t.a > 0"), got)
    } finally TemporalSql.dropTemporalFunction("dimv")
    // the canonical `proctime` attribute is pre-registered; `proc` is
    // opt-in — unregistered it is an event-time column and fails loudly
    // over an unversioned table instead of silently degenerating
    val lookup = TemporalSql.rewrite(
      "SELECT * FROM t JOIN rates FOR SYSTEM_TIME AS OF t.proctime AS r " +
        "ON r.k = t.k")
    assert(lookup == "SELECT * FROM t JOIN rates AS r ON r.k = t.k", lookup)
    intercept[IllegalArgumentException](TemporalSql.rewrite(
      "SELECT * FROM t JOIN rates FOR SYSTEM_TIME AS OF t.proc AS r " +
        "ON r.k = t.k"))
    TemporalSql.registerProcTimeAttribute("proc")
    try {
      val optIn = TemporalSql.rewrite(
        "SELECT * FROM t JOIN rates FOR SYSTEM_TIME AS OF t.proc AS r " +
          "ON r.k = t.k")
      assert(optIn == "SELECT * FROM t JOIN rates AS r ON r.k = t.k", optIn)
    } finally TemporalSql.dropProcTimeAttribute("proc")
    // exact match only: an event-time column that merely RESEMBLES a
    // proc-time name keeps event-time (interval) semantics
    TemporalSql.registerTemporalFunction("dimz", "dimz", "rt", "k")
    try {
      val resemble = TemporalSql.rewrite(
        "FROM t JOIN dimz FOR SYSTEM_TIME AS OF t.proctime_ts AS r " +
          "ON r.k = t.k")
      assert(resemble.contains("t.proctime_ts >= r.rt"), resemble)
    } finally TemporalSql.dropTemporalFunction("dimz")
    // a '.'-qualified column named like a clause keyword must not
    // truncate the ON condition
    TemporalSql.registerTemporalFunction("dimw", "dimw", "rt", "k")
    try {
      val dotted = TemporalSql.rewrite(
        "FROM t JOIN dimw FOR SYSTEM_TIME AS OF t.ts AS r " +
          "ON r.k = t.left WHERE t.a > 0")
      assert(dotted.contains("ON (r.k = t.left) AND"), dotted)
      assert(dotted.contains("WHERE t.a > 0"), dotted)
      // a BARE column named like a two-word clause head is an ordinary
      // identifier unless its continuation token follows: `= left` and
      // `= window` must not truncate the condition, while a real
      // `LEFT JOIN` / `GROUP BY` / `WINDOW w AS` after it still stops
      val bare = TemporalSql.rewrite(
        "FROM t JOIN dimw FOR SYSTEM_TIME AS OF t.ts AS r " +
          "ON r.k = left AND r.j = window WHERE t.a > 0")
      assert(bare.contains("ON (r.k = left AND r.j = window) AND"), bare)
      assert(bare.contains("WHERE t.a > 0"), bare)
      val stillStops = TemporalSql.rewrite(
        "FROM t JOIN dimw FOR SYSTEM_TIME AS OF t.ts AS r " +
          "ON r.k = t.k LEFT JOIN u ON u.k = t.k")
      assert(stillStops.contains("ON (r.k = t.k) AND"), stillStops)
      assert(stillStops.contains("LEFT JOIN u ON u.k = t.k"), stillStops)
      val groupStops = TemporalSql.rewrite(
        "FROM t JOIN dimw FOR SYSTEM_TIME AS OF t.ts AS r " +
          "ON r.k = t.k GROUP BY t.k")
      assert(groupStops.contains("ON (r.k = t.k) AND"), groupStops)
      assert(groupStops.contains("GROUP BY t.k"), groupStops)
    } finally TemporalSql.dropTemporalFunction("dimw")
    intercept[IllegalArgumentException](TemporalSql.rewrite(
      "FROM t JOIN rates FOR SYSTEM_TIME AS OF t.rowtime AS r ON r.k = t.k"))
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
    // a FOR word inside a comment before a FOR SYSTEM_TIME is not code
    TemporalSql.registerTemporalFunction("dimx", "dimx", "rt", "k")
    try {
      val s = TemporalSql.rewrite("/* FOR */ SELECT * FROM t " +
        "JOIN dimx FOR SYSTEM_TIME AS OF t.ts AS r ON r.k = t.k")
      assert(s.contains("t.ts >= r.rt"), s)
      assert(s.startsWith("/* FOR */"), s)
    } finally TemporalSql.dropTemporalFunction("dimx")
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
