package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The reference's group-window SQL spelling (TUMBLE/HOP/SESSION +
  * auxiliaries) through the single front door: rewrite contract (the
  * analyzed plan equals Spark's native spelling's),
  * reference IT-case reproductions (batch
  * WindowAggregateITCase.testTumblingWindow / testNullValueInputTimestamp,
  * stream WindowAggregateITCase.testEventTimeSlidingWindow /
  * testEventTimeSessionWindow), and the same text running on a streaming
  * view via Spark's native streaming windowed aggregate. */
class GroupWindowSqlSpec extends SparkSpec {

  /** `gw` (ts, v, tag, proctime_ts): a small batch view for the
    * rewrite contract. */
  private def gw(): Unit = {
    import spark.implicits._
    Seq((new Timestamp(1000L), 1, "don't (really)", new Timestamp(0L)),
      (new Timestamp(4000L), 2, "x", new Timestamp(0L)),
      (new Timestamp(11000L), 3, "x", new Timestamp(0L)))
      .toDF("ts", "v", "tag", "proctime_ts").createOrReplaceTempView("gw")
  }

  /** The reference spelling analyzes to the same plan as Spark's native
    * spelling of the same windows. */
  private def same(reference: String, native: String): Boolean =
    graft.Sql.sql(spark, reference).queryExecution.analyzed
      .sameResult(spark.sql(native).queryExecution.analyzed)

  // ---------------------------------------------------------- rewrite

  test("TUMBLE/HOP/SESSION rewrite to window()/session_window(); HOP's " +
    "slide-first args swap to Spark's size-first order") {
    gw()
    def q(group: String) = s"SELECT COUNT(*) AS n FROM gw GROUP BY $group"
    assert(same(q("TUMBLE(ts, INTERVAL '1' HOUR)"), q("window(ts, '1 hour')")))
    assert(same(q("HOP(ts, INTERVAL '30' MINUTE, INTERVAL '1' HOUR)"),
      q("window(ts, '1 hour', '30 minute')")))
    // Spark keeps a session gap as its duration string in the analyzed
    // plan, so the native side spells it the way the rewrite does
    assert(same(q("SESSION(ts, INTERVAL '4' SECOND)"),
      q("session_window(ts, '4000000 microseconds')")))
    // the comparison discriminates: a different size is a different plan
    assert(!same(q("TUMBLE(ts, INTERVAL '1' HOUR)"), q("window(ts, '2 hours')")))
  }

  test("auxiliaries become grouping-struct fields; _ROWTIME is end - 1ms; " +
    "SESSION auxiliaries use the session_window struct") {
    gw()
    assert(same("SELECT TUMBLE_START(ts, INTERVAL '3' SECOND) AS s, " +
      "TUMBLE_END(ts, INTERVAL '3' SECOND) AS e, " +
      "TUMBLE_ROWTIME(ts, INTERVAL '3' SECOND) AS r " +
      "FROM gw GROUP BY TUMBLE(ts, INTERVAL '3' SECOND)",
      "SELECT window.start AS s, window.end AS e, " +
        "window.end - INTERVAL '0.001' SECOND AS r " +
        "FROM gw GROUP BY window(ts, '3 second')"))
    assert(same("SELECT SESSION_START(ts, INTERVAL '4' SECOND) AS s " +
      "FROM gw GROUP BY SESSION(ts, INTERVAL '4' SECOND)",
      "SELECT session_window.start AS s " +
        "FROM gw GROUP BY session_window(ts, '4000000 microseconds')"))
  }

  test("the reference's precision-suffixed fractional interval " +
    "(INTERVAL '5.111' SECOND(1,3), batch ITCase :235) parses") {
    gw()
    assert(same("SELECT COUNT(*) AS n FROM gw GROUP BY " +
      "HOP(ts, INTERVAL '5.111' SECOND(1,3), INTERVAL '9' SECOND)",
      "SELECT COUNT(*) AS n FROM gw GROUP BY " +
        "window(ts, '9 second', '5.111 second')"))
  }

  test("fail-loud contract: _PROCTIME, month intervals, mismatched aux " +
    "args, two different group windows") {
    def rw(text: String) = graft.Sql.sql(spark, text)
    val e1 = intercept[RuntimeException](rw(
      "SELECT TUMBLE_PROCTIME(ts, INTERVAL '1' HOUR) FROM T " +
        "GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)"))
    assert(e1.getMessage.contains("_PROCTIME is not supported"), e1.getMessage)
    val e2 = intercept[RuntimeException](rw(
      "SELECT COUNT(*) FROM T GROUP BY TUMBLE(ts, INTERVAL '1' MONTH)"))
    assert(e2.getMessage.contains("month/year intervals"), e2.getMessage)
    intercept[IllegalArgumentException](rw(
      "SELECT TUMBLE_START(ts, INTERVAL '2' HOUR) FROM T " +
        "GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)"))
    intercept[IllegalArgumentException](rw(
      "SELECT HOP_START(ts, INTERVAL '1' HOUR, INTERVAL '2' HOUR) FROM T " +
        "GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)"))
  }

  test("r15 tested contract: TUMBLE/HOP/SESSION over PROCTIME() or a " +
    "registered proc-time attribute is rejected with the executor " +
    "pointer (the reference's stream WindowAggregateITCase accepts the " +
    "spelling; wall-clock bounds cannot be oracle-checked here)") {
    gw()
    def rw(text: String) = graft.Sql.sql(spark, text)
    // TUMBLE over proc-time is served only as an Aggregate's grouping
    // (ProcTimeWindowsSpec); anywhere else it is this rejection
    val e = intercept[IllegalArgumentException](rw(
      "SELECT TUMBLE(PROCTIME(), INTERVAL '1' HOUR) AS w FROM T"))
    assert(e.getMessage.contains("proc-time group windows are not supported"))
    assert(e.getMessage.contains("OverAggregates"), e.getMessage)
    // the default registered proc-time attribute name
    val e2 = intercept[IllegalArgumentException](rw(
      "SELECT COUNT(*) FROM T GROUP BY HOP(proctime, " +
        "INTERVAL '30' MINUTE, INTERVAL '1' HOUR)"))
    assert(e2.getMessage.contains("proc-time group windows"), e2.getMessage)
    assert(e2.getMessage.contains("OverAggregates"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](rw(
      "SELECT COUNT(*) FROM T GROUP BY SESSION(t.proctime, " +
        "INTERVAL '4' SECOND)"))
    assert(e3.getMessage.contains("proc-time group windows"), e3.getMessage)
    // an event-time column merely RESEMBLING proc-time stays accepted
    assert(same(
      "SELECT COUNT(*) AS n FROM gw GROUP BY TUMBLE(proctime_ts, INTERVAL '1' HOUR)",
      "SELECT COUNT(*) AS n FROM gw GROUP BY window(proctime_ts, '1 hour')"))
  }

  test("r15: backslash-escaped quotes inside string literals do not " +
    "desync the block scanner or the argument splitter") {
    gw()
    // the literal contains \' and the word SELECT — a desynced scanner
    // would open a phantom block and misattribute the auxiliary
    val t = graft.Sql.sql(spark, "SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS ws, " +
      "'it\\'s a SELECT literal' AS note " +
      "FROM gw GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)")
    assert(rows(t) == Seq(Seq[Any](new Timestamp(0L), "it's a SELECT literal")))
    // an escaped quote inside a literal next to a group-window call
    val u = graft.Sql.sql(spark, "SELECT COUNT(*) AS n FROM gw " +
      "WHERE tag = 'don\\'t (really)' " +
      "GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)")
    assert(rows(u) == Seq(Seq[Any](1L)))
  }

  test("the rewrite composes inside DML: INSERT ... SELECT with a group " +
    "window runs through the front door (sqlUpdate parity)") {
    import spark.implicits._
    Seq((new Timestamp(1000L), 1), (new Timestamp(2000L), 2),
      (new Timestamp(11000L), 3))
      .toDF("ts", "v").createOrReplaceTempView("gw_dml_src")
    spark.sql("DROP TABLE IF EXISTS gw_dml_out")
    spark.sql("CREATE TABLE gw_dml_out (ws TIMESTAMP, n BIGINT) USING parquet")
    try {
      graft.Sql.sql(spark,
        """INSERT INTO gw_dml_out
          |SELECT TUMBLE_START(ts, INTERVAL '10' SECOND) AS ws, COUNT(*) AS n
          |FROM gw_dml_src GROUP BY TUMBLE(ts, INTERVAL '10' SECOND)""".stripMargin)
      assert(rows(spark.table("gw_dml_out")).toSet == Set(
        Seq[Any](new Timestamp(0L), 2L),
        Seq[Any](new Timestamp(10000L), 1L)))
    } finally spark.sql("DROP TABLE IF EXISTS gw_dml_out")
  }

  test("distinct group windows coexist across query blocks (each block " +
    "keeps its own window struct); their auxiliaries match per call") {
    import spark.implicits._
    Seq((new Timestamp(0L), 1), (new Timestamp(4000L), 2),
      (new Timestamp(11000L), 3))
      .toDF("ts", "v").createOrReplaceTempView("GB")
    val got = graft.Sql.sql(spark,
      """SELECT 'w10' AS win, TUMBLE_START(ts, INTERVAL '10' SECOND) AS ws,
        |  COUNT(*) AS n
        |FROM GB GROUP BY TUMBLE(ts, INTERVAL '10' SECOND)
        |UNION ALL
        |SELECT 'w5' AS win, TUMBLE_START(ts, INTERVAL '5' SECOND) AS ws,
        |  COUNT(*) AS n
        |FROM GB GROUP BY TUMBLE(ts, INTERVAL '5' SECOND)""".stripMargin)
    assert(rows(got).toSet == Set(
      Seq[Any]("w10", new Timestamp(0L), 2L),
      Seq[Any]("w10", new Timestamp(10000L), 1L),
      Seq[Any]("w5", new Timestamp(0L), 2L),
      Seq[Any]("w5", new Timestamp(10000L), 1L)))
  }

  test("r14: an auxiliary repeating a DIFFERENT query block's window " +
    "arguments fails loudly (it would silently emit its own block's " +
    "bounds) — same-block auxiliaries keep working") {
    // block 1 groups by the 10s window, block 2 by the 5s window; the
    // second block's auxiliary repeats BLOCK 1's arguments
    val e = intercept[IllegalArgumentException](graft.Sql.sql(spark,
      """SELECT TUMBLE_START(ts, INTERVAL '10' SECOND) AS ws, COUNT(*)
        |FROM t GROUP BY TUMBLE(ts, INTERVAL '10' SECOND)
        |UNION ALL
        |SELECT TUMBLE_START(ts, INTERVAL '10' SECOND) AS ws, COUNT(*)
        |FROM t GROUP BY TUMBLE(ts, INTERVAL '5' SECOND)""".stripMargin))
    assert(e.getMessage.contains("its own query block") &&
      e.getMessage.contains("DIFFERENT block"), e.getMessage)
    // a subquery block's auxiliary must not leak into the outer block:
    // outer aux with no outer group window fails even though the inner
    // block groups by those exact arguments
    val e2 = intercept[IllegalArgumentException](graft.Sql.sql(spark,
      """SELECT TUMBLE_END(ts, INTERVAL '10' SECOND) FROM (
        |  SELECT window.start AS ts2, COUNT(*)
        |  FROM t GROUP BY TUMBLE(ts, INTERVAL '10' SECOND)) x""".stripMargin))
    assert(e2.getMessage.contains("has no group window"), e2.getMessage)
  }

  test("inert text passes through: no keywords (same instance), keywords " +
    "in string literals, a bare column named hop") {
    import spark.implicits._
    Seq((1, 7)).toDF("a", "hop").createOrReplaceTempView("gw_inert")
    def one(text: String) = rows(graft.Sql.sql(spark, text))
    assert(one("SELECT a FROM gw_inert GROUP BY a") == Seq(Seq[Any](1)))
    assert(one("SELECT 'TUMBLE(ts, INTERVAL 1 HOUR)' AS s, hop FROM gw_inert") ==
      Seq(Seq[Any]("TUMBLE(ts, INTERVAL 1 HOUR)", 7)))
    // a comment and a double-quoted literal are not code either
    assert(one("SELECT COUNT(*) AS n FROM gw_inert " +
      "-- TUMBLE_START(ts, INTERVAL '1' HOUR)") == Seq(Seq[Any](1L)))
    assert(one("SELECT \"TUMBLE_END(x, INTERVAL '1' HOUR)\" AS s FROM gw_inert") ==
      Seq(Seq[Any]("TUMBLE_END(x, INTERVAL '1' HOUR)")))
    // nothing to rewrite: the group-window pass returns the parsed plan
    // itself, and the front door hands Spark exactly that plan
    Seq("SELECT a FROM gw_inert GROUP BY a",
      "SELECT 'TUMBLE(ts, INTERVAL 1 HOUR)' AS s, hop FROM gw_inert",
      "SELECT COUNT(*) AS n FROM gw_inert -- TUMBLE_START(ts, INTERVAL '1' HOUR)"
    ).foreach { text =>
      val parsed = spark.sessionState.sqlParser.parsePlan(text)
      assert(GroupWindowSql.translate(spark, parsed) eq parsed, text)
    }
    val plain = "SELECT a, hop FROM gw_inert WHERE a > 0 GROUP BY a, hop"
    assert(graft.Sql.sql(spark, plain).queryExecution.logical ==
      spark.sessionState.sqlParser.parsePlan(plain))
  }

  // ------------------------------------- reference ITCase reproductions

  /** data3WithTimestamp (reference TestData.scala:237): (a, b, c, ts)
    * with ts = a seconds on the epoch. */
  private def table3(): Unit = {
    import spark.implicits._
    val rows = Seq(2, 1, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 15, 14, 16,
      17, 18, 19, 20, 21).map { a =>
      val b = a match {
        case 1 => 1L
        case x if x <= 3 => 2L
        case x if x <= 6 => 3L
        case x if x <= 10 => 4L
        case x if x <= 15 => 5L
        case _ => 6L
      }
      (a, b, new Timestamp(a * 1000L))
    }
    rows.toDF("a", "b", "ts").createOrReplaceTempView("Table3WithTimestamp")
  }

  test("reference batch WindowAggregateITCase.testTumblingWindow:62-89 " +
    "verbatim: per-key 3s tumble with TUMBLE_START") {
    table3()
    val got = graft.Sql.sql(spark,
      "SELECT a, COUNT(a), TUMBLE_START(ts, INTERVAL '3' SECOND) " +
        "FROM Table3WithTimestamp " +
        "GROUP BY a, TUMBLE(ts, INTERVAL '3' SECOND)")
    val want = (1 to 21).map(a =>
      Seq[Any](a, 1L, new Timestamp(a / 3 * 3000L))).toSet
    assert(rows(got).toSet == want)
  }

  test("reference stream WindowAggregateITCase.testEventTimeSlidingWindow" +
    ":71-100 (minus the custom UDAF column): HOP(slide 4ms, size 5ms) " +
    "with HOP_START/HOP_ROWTIME, COUNT/SUM/COUNT DISTINCT") {
    import spark.implicits._
    Seq((1L, 1, 1f, "Hi"), (2L, 2, 2f, "Hallo"), (3L, 2, 2f, "Hello"),
      (4L, 5, 5f, "Hello"), (7L, 3, 3f, "Hello"), (6L, 5, 5f, "Hello"),
      (8L, 3, 3f, "Hello world"), (16L, 4, 4f, "Hello world"),
      (32L, 4, 4f, null.asInstanceOf[String]))
      .map { case (t, i, f, s) => (new Timestamp(t), i, f, s) }
      .toDF("rowtime", "int", "float", "string")
      .createOrReplaceTempView("T1")
    val got = graft.Sql.sql(spark,
      """SELECT
        |  `string`,
        |  HOP_START(rowtime, INTERVAL '0.004' SECOND, INTERVAL '0.005' SECOND),
        |  HOP_ROWTIME(rowtime, INTERVAL '0.004' SECOND, INTERVAL '0.005' SECOND),
        |  COUNT(1),
        |  SUM(1),
        |  COUNT(`int`),
        |  COUNT(DISTINCT `float`)
        |FROM T1
        |GROUP BY `string`, HOP(rowtime, INTERVAL '0.004' SECOND, INTERVAL '0.005' SECOND)""".stripMargin)
    def r(s: String, startMs: Long, rowtimeMs: Long, n: Long) =
      Seq[Any](s, new Timestamp(startMs), new Timestamp(rowtimeMs), n, n, n,
        if (s == "Hello" && startMs == 4) 2L else n)
    // the ITCase's expected rows (:92-101); the rowtime column is
    // end - 1ms = start + 4ms for these 5ms windows
    val want = Set(
      r("Hallo", 0, 4, 1),
      r("Hello world", 4, 8, 1),
      r("Hello world", 8, 12, 1),
      r("Hello world", 12, 16, 1),
      r("Hello world", 16, 20, 1),
      r("Hello", 0, 4, 2),
      r("Hello", 4, 8, 3),
      r("Hi", 0, 4, 1),
      r(null, 28, 32, 1),
      r(null, 32, 36, 1))
    assert(rows(got).toSet == want)
  }

  test("reference stream WindowAggregateITCase.testEventTimeSessionWindow" +
    ":105-146: keyed SESSION(5ms gap) with SESSION_START/SESSION_ROWTIME") {
    import spark.implicits._
    Seq((1L, 1, "Hello", "a"), (2L, 2, "Hello", "b"), (8L, 8, "Hello", "a"),
      (9L, 9, "Hello World", "b"), (4L, 4, "Hello", "c"), (16L, 16, "Hello", "d"))
      .map { case (t, i, s, n) => (new Timestamp(t), i, s, n) }
      .toDF("rowtime", "int", "string", "name")
      .createOrReplaceTempView("T1")
    val got = graft.Sql.sql(spark,
      """SELECT
        |  `string`,
        |  SESSION_START(rowtime, INTERVAL '0.005' SECOND),
        |  SESSION_ROWTIME(rowtime, INTERVAL '0.005' SECOND),
        |  COUNT(1),
        |  SUM(1),
        |  COUNT(`int`),
        |  SUM(`int`),
        |  COUNT(DISTINCT name)
        |FROM T1
        |GROUP BY `string`, SESSION(rowtime, INTERVAL '0.005' SECOND)""".stripMargin)
    // the ITCase's expected rows (:142-144), second timestamp = end - 1ms
    val want = Set(
      Seq[Any]("Hello World", new Timestamp(9), new Timestamp(13), 1L, 1L, 1L, 9L, 1L),
      Seq[Any]("Hello", new Timestamp(16), new Timestamp(20), 1L, 1L, 1L, 16L, 1L),
      Seq[Any]("Hello", new Timestamp(1), new Timestamp(12), 4L, 4L, 4L, 15L, 3L))
    assert(rows(got).toSet == want)
  }

  test("reference batch WindowAggregateITCase.testNullValueInputTimestamp" +
    ":500-560: rows with a NULL window timestamp are dropped") {
    import spark.implicits._
    Seq((Some("2016-03-27 09:00:05"), 1), (None, 2),
      (Some("2016-03-27 09:00:32"), 3), (None, 4))
      .map { case (t, v) => (t.map(Timestamp.valueOf).orNull, v) }
      .toDF("ts", "v").createOrReplaceTempView("T2")
    val got = graft.Sql.sql(spark,
      """SELECT TUMBLE_START(ts, INTERVAL '10' SECOND),
        |  TUMBLE_END(ts, INTERVAL '10' SECOND), v
        |FROM T2
        |GROUP BY TUMBLE(ts, INTERVAL '10' SECOND), v""".stripMargin)
    assert(rows(got).toSet == Set(
      Seq[Any](Timestamp.valueOf("2016-03-27 09:00:00"),
        Timestamp.valueOf("2016-03-27 09:00:10"), 1),
      Seq[Any](Timestamp.valueOf("2016-03-27 09:00:30"),
        Timestamp.valueOf("2016-03-27 09:00:40"), 3)))
  }

  test("reference stream WindowAggregateITCase." +
    "testDistinctAggWithMergeOnEventTimeSessionGroupWindow:217-253: " +
    "COUNT(DISTINCT) survives session merges") {
    import spark.implicits._
    Seq((1L, 2, "Hello"), (2L, 2, "Hello"), (8L, 2, "Hello"),
      (10L, 3, "Hello"), (9L, 9, "Hello World"), (4L, 1, "Hello"),
      (16L, 16, "Hello"))
      .map { case (t, b, c) => (new Timestamp(t), b, c) }
      .toDF("rowtime", "b", "c").createOrReplaceTempView("MyTable")
    val got = graft.Sql.sql(spark,
      """SELECT c,
        |   COUNT(DISTINCT b),
        |   SESSION_END(rowtime, INTERVAL '0.005' SECOND)
        |FROM MyTable
        |GROUP BY c, SESSION(rowtime, INTERVAL '0.005' SECOND)""".stripMargin)
    // the ITCase's expected rows (:246-250), SESSION_END = last + gap
    assert(rows(got).toSet == Set(
      Seq[Any]("Hello World", 1L, new Timestamp(14)),
      Seq[Any]("Hello", 1L, new Timestamp(21)),
      Seq[Any]("Hello", 3L, new Timestamp(15))))
  }

  test("reference stream SqlITCase.testHopStartEndWithHaving:708-755 " +
    "(old planner): auxiliaries inside HAVING rewrite too") {
    import spark.implicits._
    Seq((14000005L, 1, 1L, "Hi"), (14000000L, 2, 1L, "Hello"),
      (14000002L, 3, 1L, "Hello"), (8640000000L, 4, 1L, "Hello"),
      (8640000001L, 4, 1L, "Hello"))
      .map { case (t, a, b, c) => (new Timestamp(t), a, b, c) }
      .toDF("rowtime", "a", "b", "c").createOrReplaceTempView("T1")
    val got = graft.Sql.sql(spark,
      """SELECT
        |  c AS k,
        |  COUNT(a) AS v,
        |  HOP_START(rowtime, INTERVAL '1' MINUTE, INTERVAL '1' MINUTE) AS windowStart,
        |  HOP_END(rowtime, INTERVAL '1' MINUTE, INTERVAL '1' MINUTE) AS windowEnd
        |FROM T1
        |GROUP BY HOP(rowtime, INTERVAL '1' MINUTE, INTERVAL '1' MINUTE), c
        |HAVING
        |  SUM(b) > 1 AND
        |    QUARTER(HOP_START(rowtime, INTERVAL '1' MINUTE, INTERVAL '1' MINUTE)) = 1""".stripMargin)
    // the ITCase's one expected row (:753): the Q2 rows and the
    // SUM(b) = 1 "Hi" window are both filtered by HAVING
    assert(rows(got) == Seq(Seq[Any]("Hello", 2L,
      new Timestamp(14000000L / 60000 * 60000),
      new Timestamp(14000000L / 60000 * 60000 + 60000))))
  }

  test("composition: a TUMBLE subquery feeds an embedded MATCH_RECOGNIZE " +
    "in one statement (group-window rewrite runs before the MR splice)") {
    import spark.implicits._
    // per-3s window counts form the series the pattern runs over:
    // windows n=2,1,3 -> one DOWN-UP vee at the middle window
    Seq((0L, "a"), (1L, "a"), (3L, "a"), (6L, "a"), (7L, "a"), (8L, "a"))
      .map { case (s, k) => (new Timestamp(s * 1000L), k) }
      .toDF("ts", "k").createOrReplaceTempView("gw_mr_events")
    val got = graft.Sql.sql(spark,
      """SELECT * FROM (
        |  SELECT k, TUMBLE_ROWTIME(ts, INTERVAL '3' SECOND) AS wt,
        |    COUNT(*) AS n
        |  FROM gw_mr_events
        |  GROUP BY k, TUMBLE(ts, INTERVAL '3' SECOND)
        |) MATCH_RECOGNIZE (
        |  PARTITION BY k
        |  ORDER BY wt
        |  MEASURES FIRST(D.n) AS top_n, U.n AS rebound_n
        |  ONE ROW PER MATCH
        |  PATTERN (D U)
        |  DEFINE D AS n < PREV(n),
        |         U AS n > PREV(n)
        |)""".stripMargin)
    assert(rows(got) == Seq(Seq[Any]("a", 1L, 3L)))
  }

  // ------------------------------------------------------- streaming

  test("the same TUMBLE text runs on a STREAMING view through the front " +
    "door as Spark's native streaming windowed aggregate") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Int)]
    input.toDF().toDF("ts", "k", "v")
      .withWatermark("ts", "0 seconds")
      .createOrReplaceTempView("gw_stream")
    val routed = graft.Sql.sql(spark,
      """SELECT k, TUMBLE_START(ts, INTERVAL '10' SECOND) AS w_start,
        |  COUNT(*) AS n, SUM(v) AS sum_v
        |FROM gw_stream
        |GROUP BY k, TUMBLE(ts, INTERVAL '10' SECOND)""".stripMargin)
    assert(routed.isStreaming)
    val q = routed.writeStream.format("memory").queryName("gwstream")
      .outputMode("append").start()
    def ts(s: Long) = new Timestamp(s * 1000L)
    input.addData((ts(1), "a", 1), (ts(2), "a", 2), (ts(3), "b", 3))
    q.processAllAvailable()
    input.addData((ts(11), "a", 4)) // watermark to 11s closes [0, 10)
    q.processAllAvailable()
    input.addData((ts(100), "zz", 0)) // sentinel closes [10, 20)
    q.processAllAvailable()
    input.addData((ts(200), "zz", 0)) // flush the sentinel's own window
    q.processAllAvailable()
    q.stop()
    val got = spark.table("gwstream").filter($"k" =!= "zz")
      .as[(String, Timestamp, Long, Long)].collect().toSet
    assert(got == Set(("a", ts(0), 2L, 3L), ("b", ts(0), 1L, 3L),
      ("a", ts(10), 1L, 4L)))
  }

  test("q162/q163/q164 cross-check: the SQL-spelled group windows equal " +
    "the DataFrame-API q60/q61/q62 aggregates on the fixture") {
    val dir = sf()
    val t = graft.core.Catalog.load(spark, dir, "events")
    t.createOrReplaceTempView("events")
    val sqlTumble = graft.SparkEntry.queries("q162_sql_tumble")(spark, dir)
      .select("w_start", "event_type", "n", "total")
    val dfTumble = graft.SparkEntry.queries("q60_tumble")(spark, dir)
    assert(rows(sqlTumble) == rows(dfTumble))
    val sqlHop = graft.SparkEntry.queries("q163_sql_hop")(spark, dir)
      .select("w_start", "n", "total")
    val dfHop = graft.SparkEntry.queries("q61_hop")(spark, dir)
    assert(rows(sqlHop) == rows(dfHop))
    val sqlSess = graft.SparkEntry.queries("q164_sql_session")(spark, dir)
      .select(col("user_id"), col("s_start").as("session_start"),
        col("n"), col("total"))
    val dfSess = graft.SparkEntry.queries("q62_session")(spark, dir)
    assert(rows(sqlSess) == rows(dfSess))
  }
}
