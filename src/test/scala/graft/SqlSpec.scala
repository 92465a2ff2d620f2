package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.{OverT1, RankT3, TemporalSql}

/** The single SQL front door must execute embedded MATCH_RECOGNIZE
  * clauses through the general-schema executor and let the surrounding
  * statement compose over the result — including several clauses in one
  * statement — while leaving non-MR text (and string literals that
  * merely contain the keyword) to Spark SQL untouched. */
class SqlSpec extends SparkSpec {

  private def registerEvents(): Unit =
    graft.core.Catalog.load(spark, sf(), "events")
      .createOrReplaceTempView("events")

  test("embedded clause: MR result joined and aggregated by the " +
    "enclosing SQL equals the hand-composed DataFrame plan") {
    registerEvents()
    val got = graft.Sql.sql(spark,
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
    val mr = graft.streaming.MatchRecognizeSql.sqlDf(spark.table("events"),
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES A.event_id AS view_id, B.event_id AS purchase_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B)
        |  DEFINE A AS event_type = 'view',
        |         B AS event_type = 'purchase'
        |)""".stripMargin)
    val want = mr.join(
      spark.table("events").groupBy("user_id")
        .agg(count(lit(1)).as("n_events")), Seq("user_id"))
      .select("user_id", "view_id", "purchase_id", "n_events")
      .orderBy(col("user_id"), col("view_id"))
    assert(rows(got) == rows(want))
    assert(rows(got).nonEmpty)
  }

  test("two embedded clauses compose in one statement (union)") {
    registerEvents()
    val got = graft.Sql.sql(spark,
      """SELECT user_id, first_id FROM (
        |  SELECT user_id, view_id AS first_id FROM events MATCH_RECOGNIZE (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    MEASURES A.event_id AS view_id ONE ROW PER MATCH
        |    PATTERN (A B)
        |    DEFINE A AS event_type = 'view', B AS event_type = 'purchase')
        |  UNION ALL
        |  SELECT user_id, click_id AS first_id FROM events MATCH_RECOGNIZE (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    MEASURES C.event_id AS click_id ONE ROW PER MATCH
        |    PATTERN (C D)
        |    DEFINE C AS event_type = 'click', D AS event_type = 'purchase'))
        |ORDER BY user_id, first_id""".stripMargin)
    assert(rows(got).nonEmpty)
    // both clause executions are spliced into the plan: no view
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_mr_")))
  }

  test("an embedded clause neither reads nor replaces a session view " +
    "that shares its placeholder's name") {
    registerEvents()
    import spark.implicits._
    Seq(41, 42).toDF("x").createOrReplaceTempView("graft_mr_0")
    try {
      val clause =
        """events MATCH_RECOGNIZE (
          |  PARTITION BY user_id ORDER BY ts, event_id
          |  MEASURES A.event_id AS view_id ONE ROW PER MATCH
          |  PATTERN (A B)
          |  DEFINE A AS event_type = 'view', B AS event_type = 'purchase')""".stripMargin
      val n = rows(graft.Sql.sql(spark, s"SELECT COUNT(*) FROM $clause"))
        .head.head.asInstanceOf[Long]
      assert(n > 0)
      assert(rows(spark.table("graft_mr_0")).toSet ==
        Set(Seq[Any](41), Seq[Any](42)))
      // a statement that reads the view and embeds a clause sees both
      val both = graft.Sql.sql(spark,
        s"SELECT (SELECT SUM(x) FROM graft_mr_0) AS s, COUNT(*) AS n FROM $clause")
      assert(rows(both) == Seq(Seq[Any](83L, n)))
    } finally spark.catalog.dropTempView("graft_mr_0")
  }

  test("plain statements pass straight through; keyword inside a string " +
    "literal is not a clause") {
    registerEvents()
    val got = graft.Sql.sql(spark,
      "SELECT COUNT(*) AS n, 'not MATCH_RECOGNIZE (here)' AS s FROM events")
    val n = rows(got).head.head.asInstanceOf[Long]
    assert(n > 0)
    // nor inside a comment: neither the clause keyword nor the
    // temporal-join spelling
    Seq("SELECT COUNT(*) AS n FROM events -- not events MATCH_RECOGNIZE (",
      "SELECT COUNT(*) AS n FROM events " +
        "/* JOIN dim FOR SYSTEM_TIME AS OF t.ts AS r ON r.k = t.k */",
      "SELECT COUNT(*) AS n FROM events -- FOR SYSTEM_TIME AS OF t.ts"
    ).foreach(text => assert(rows(graft.Sql.sql(spark, text)) == Seq(Seq[Any](n))))
    // a SQL script parses to a CompoundBody, which runs the same way
    assert(rows(graft.Sql.sql(spark,
      "BEGIN DECLARE x INT = 41; SELECT x + 1 AS y; END")) == Seq(Seq[Any](42)))
  }

  test("views over a rewritten spelling read back however Spark stores " +
    "them: temp and permanent views, ALTER VIEW ... AS and CACHE TABLE " +
    "... AS, over TUMBLE and over MATCH_RECOGNIZE") {
    import spark.implicits._
    def ts(s: Int) = new java.sql.Timestamp(s * 1000L)
    // permanent sources: Spark refuses a permanent view over a temp view
    val wh = java.nio.file.Files.createTempDirectory("graft_sqlviews")
    Seq((ts(1), 1), (ts(2), 2), (ts(3700), 4)).toDF("ts", "v").write
      .option("path", wh.resolve("src").toString).saveAsTable("sql_view_src")
    Seq((1L, 1, 1L, "view"), (1L, 2, 2L, "purchase"), (2L, 1, 3L, "view"),
      (2L, 2, 4L, "click"), (2L, 3, 5L, "view"), (2L, 4, 6L, "purchase"))
      .toDF("user_id", "t", "event_id", "event_type")
      .selectExpr("user_id", "timestamp_seconds(t) AS ts", "event_id", "event_type")
      .write.option("path", wh.resolve("ev").toString).saveAsTable("sql_view_ev")
    val tumble =
      """SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS ws, SUM(v) AS s
        |FROM sql_view_src GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)""".stripMargin
    val clause =
      """SELECT view_id FROM sql_view_ev MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  MEASURES A.event_id AS view_id ONE ROW PER MATCH
        |  PATTERN (A B)
        |  DEFINE A AS event_type = 'view', B AS event_type = 'purchase')""".stripMargin
    val windows = Set(Seq[Any](ts(0), 3L), Seq[Any](ts(3600), 4L))
    val matches = Set(Seq[Any](1L), Seq[Any](5L))
    def read(view: String) = rows(spark.table(view)).toSet
    try {
      assert(rows(spark.sql(tumble)).toSet == windows)
      assert(rows(spark.sql(clause)).toSet == matches)
      spark.sql(s"CREATE OR REPLACE TEMP VIEW sql_view_tt AS $tumble")
      spark.sql(s"CREATE OR REPLACE TEMP VIEW sql_view_tm AS $clause")
      spark.sql(s"CREATE VIEW sql_view_pt AS $tumble")
      spark.sql(s"CREATE VIEW sql_view_pm AS $clause")
      assert(read("sql_view_tt") == windows && read("sql_view_pt") == windows)
      assert(read("sql_view_tm") == matches && read("sql_view_pm") == matches)
      // the view keeps the spelling, not the placeholder's name: a
      // session view created later under that name changes nothing
      Seq(41L).toDF("view_id").createOrReplaceTempView("graft_mr_0")
      assert(read("sql_view_tm") == matches && read("sql_view_pm") == matches)
      assert(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("sql_view_pm"))
        .viewText.exists(_.contains("MATCH_RECOGNIZE")))
      spark.sql(s"ALTER VIEW sql_view_pt AS $clause")
      spark.sql(s"ALTER VIEW sql_view_pm AS $tumble")
      assert(read("sql_view_pt") == matches && read("sql_view_pm") == windows)
      spark.sql(s"CACHE TABLE sql_view_ct AS $tumble")
      spark.sql(s"CACHE TABLE sql_view_cm AS $clause")
      assert(read("sql_view_ct") == windows && read("sql_view_cm") == matches)
      // a read of the MATCH_RECOGNIZE view re-parses its text, and the
      // executor's plan never equals the cached one: it reads back, but
      // is not served from the cache
      assert(spark.catalog.isCached("sql_view_ct"))
    } finally {
      Seq("sql_view_ct", "sql_view_cm").foreach(v =>
        spark.sql(s"UNCACHE TABLE IF EXISTS $v"))
      Seq("sql_view_tt", "sql_view_tm", "sql_view_ct", "sql_view_cm",
        "graft_mr_0").foreach(spark.catalog.dropTempView)
      Seq("sql_view_pt", "sql_view_pm").foreach(v =>
        spark.sql(s"DROP VIEW IF EXISTS $v"))
      Seq("sql_view_src", "sql_view_ev").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      org.apache.commons.io.FileUtils.deleteQuietly(wh.toFile)
    }
  }

  test("spark.sql binds named and positional parameters in graft's " +
    "dialect; a malformed statement raises Spark's own ParseException") {
    import spark.implicits._
    def ts(s: Int) = new java.sql.Timestamp(s * 1000L)
    Seq((ts(1), 1), (ts(2), 2), (ts(3700), 4)).toDF("ts", "v")
      .createOrReplaceTempView("sql_param_src")
    def tumble(param: String) =
      s"""SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS ws, SUM(v) AS s
         |FROM sql_param_src WHERE v >= $param
         |GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)""".stripMargin
    val want = Set(Seq[Any](ts(0), 2L), Seq[Any](ts(3600), 4L))
    assert(rows(spark.sql(tumble(":lo"), Map("lo" -> 2))).toSet == want)
    assert(rows(spark.sql(tumble("?"), Array[Any](2))).toSet == want)
    val malformed = tumble("2") + " HAVING"
    val e = intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      spark.sql(malformed))
    val own = intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      new org.apache.spark.sql.execution.SparkSqlParser().parsePlan(malformed))
    // the same error at the same place as Spark's parser reports it
    assert(e.getMessage == own.getMessage && e.getMessage.contains("'HAVING'"))
    assert((e.getCondition, e.start.line, e.start.startPosition) ==
      (own.getCondition, own.start.line, own.start.startPosition))
  }

  test("one entry for batch SQL: every front-door spelling returns the " +
    "same rows through spark.sql as through graft.Sql.sql") {
    import spark.implicits._
    def ts(s: Int) = new java.sql.Timestamp(s * 1000L)
    Seq((1, ts(1), 1L, "view", Array(12, 45)), (1, ts(2), 2L, "purchase", Array(7)),
      (2, ts(3), 3L, "view", Array[Int]()), (2, ts(4000), 4L, "click", Array(1, 2)),
      (2, ts(4001), 5L, "view", Array(3)), (2, ts(4002), 6L, "purchase", Array(9)))
      .toDF("u", "ts", "id", "kind", "arr")
      .selectExpr("*", "ts AS proctime",
        "transform(arr, x -> named_struct('x', x, 'y', x * 2)) AS pairs")
      .createOrReplaceTempView("eq_ev")
    Seq((1, ts(0), 10), (1, ts(2), 11), (2, ts(0), 20), (2, ts(4000), 21))
      .toDF("u", "rt", "rate").createOrReplaceTempView("eq_rates")
    spark.udf.register("eq_split", (s: String) => s.split(","))
    val mr = """eq_ev MATCH_RECOGNIZE (
      |  PARTITION BY u ORDER BY ts, id
      |  MEASURES A.id AS a_id, LAST(B.id) AS b_id, FINAL COUNT(B.id) AS n
      |  ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (A B+)
      |  DEFINE A AS kind = 'view', B AS kind <> 'view') AS m""".stripMargin
    val statements = Seq(
      // plain Spark SQL, with a keyword inside a literal and a comment
      "SELECT u, COUNT(*) AS n, 'MATCH_RECOGNIZE (x)' AS s FROM eq_ev " +
        "GROUP BY u -- TUMBLE(ts, INTERVAL '1' HOUR)",
      // group windows (GroupWindowSqlSpec)
      "SELECT u, TUMBLE_START(ts, INTERVAL '1' HOUR) AS ws, " +
        "TUMBLE_ROWTIME(ts, INTERVAL '1' HOUR) AS rt, COUNT(*) AS n " +
        "FROM eq_ev GROUP BY u, TUMBLE(ts, INTERVAL '1' HOUR)",
      "SELECT HOP_END(ts, INTERVAL '30' MINUTE, INTERVAL '1' HOUR) AS we, " +
        "SUM(id) AS s FROM eq_ev " +
        "GROUP BY HOP(ts, INTERVAL '30' MINUTE, INTERVAL '1' HOUR)",
      "SELECT u, SESSION_START(ts, INTERVAL '10' SECOND) AS ss, COUNT(*) AS n " +
        "FROM eq_ev GROUP BY u, SESSION(ts, INTERVAL '10' SECOND)",
      "SELECT COUNT(*) AS n FROM eq_ev GROUP BY " +
        "HOP(ts, INTERVAL '5.111' SECOND(1,3), INTERVAL '9' SECOND)",
      // UNNEST (UnnestSqlSpec)
      "SELECT u, s FROM eq_ev, UNNEST(eq_ev.arr) AS A (s)",
      "SELECT u, x, y FROM eq_ev, UNNEST(eq_ev.pairs) AS A (x, y) WHERE y > 4",
      "SELECT id, s FROM eq_ev LEFT JOIN UNNEST(eq_ev.arr) AS A(s) ON TRUE",
      // LATERAL TABLE and FOR SYSTEM_TIME (TemporalSqlSpec)
      "SELECT o.id, r.rate FROM eq_ev AS o, " +
        "LATERAL TABLE (EqRates(o.ts)) AS r WHERE r.u = o.u",
      "SELECT o.id, r.rate FROM eq_ev AS o, " +
        "LATERAL TABLE (EqRates(o.proctime)) AS r WHERE r.u = o.u",
      "SELECT s FROM LATERAL TABLE(eq_split('Jack,John')) AS T0(s)",
      "SELECT o.id, r.rate FROM eq_ev o JOIN eq_rates FOR SYSTEM_TIME " +
        "AS OF o.ts AS r ON r.u = o.u OR r.u = o.id",
      "SELECT o.id, r.rate FROM eq_ev o LEFT JOIN eq_cur FOR SYSTEM_TIME " +
        "AS OF o.proctime AS r ON r.u = o.u",
      // MATCH_RECOGNIZE (MatchRecognizeSqlSpec, SqlSpec)
      s"SELECT * FROM $mr",
      s"SELECT m.u, m.a_id, c.n FROM $mr " +
        "JOIN (SELECT u, COUNT(*) AS n FROM eq_ev GROUP BY u) c ON c.u = m.u",
      """SELECT * FROM (SELECT u, TUMBLE_START(ts, INTERVAL '1' HOUR) AS ws,
        |  COUNT(*) AS n FROM eq_ev GROUP BY u, TUMBLE(ts, INTERVAL '1' HOUR))
        |MATCH_RECOGNIZE (PARTITION BY u ORDER BY ws
        |  MEASURES FIRST(A.ws) AS first_ws ONE ROW PER MATCH
        |  PATTERN (A) DEFINE A AS n > 0)""".stripMargin,
      s"WITH w AS (SELECT a_id FROM $mr) SELECT COUNT(*) AS n FROM w")
    spark.sql("SELECT u, rate FROM eq_rates WHERE rt = TIMESTAMP '1970-01-01 00:00:00'")
      .createOrReplaceTempView("eq_cur")
    TemporalSql.registerTemporalFunction("EqRates", "eq_rates", "rt", "u")
    TemporalSql.registerTemporalFunction("eq_rates", "eq_rates", "rt", "u")
    try statements.foreach { text =>
      val want = rows(graft.Sql.sql(spark, text))
      assert(want.nonEmpty, text)
      assert(rows(spark.sql(text)).sortBy(_.toString) == want.sortBy(_.toString), text)
    } finally Seq("EqRates", "eq_rates").foreach(TemporalSql.dropTemporalFunction)
  }

  test("malformed embedded clause fails loudly") {
    registerEvents()
    val e = intercept[Exception](graft.Sql.sql(spark,
      "SELECT * FROM events MATCH_RECOGNIZE (PARTITION BY user_id"))
    assert(e.getMessage.contains("unbalanced"))
    val e2 = intercept[Exception](graft.Sql.sql(spark,
      "SELECT * FROM 1 MATCH_RECOGNIZE (x)"))
    assert(e2.getMessage.contains("table reference"))
  }

  test("DML parity with the reference sqlUpdate surface: CREATE TABLE, " +
    "INSERT INTO (embedded MATCH_RECOGNIZE), DROP TABLE") {
    // reference: TableEnvironmentImpl.sqlUpdate accepts exactly
    // INSERT / CREATE TABLE / DROP TABLE (TableEnvironmentImpl.java:339);
    // the front door inherits all three from Spark SQL, and the splicer
    // works inside an INSERT's SELECT just as in a bare query
    registerEvents()
    val wh = java.nio.file.Files.createTempDirectory("graft_sqlspec")
    try {
      graft.Sql.sql(spark,
        s"""CREATE TABLE graft_pairs (user_id BIGINT, view_id BIGINT,
           |  purchase_id BIGINT) USING parquet
           |LOCATION '${wh.resolve("pairs")}'""".stripMargin)
      graft.Sql.sql(spark,
        """INSERT INTO graft_pairs
          |SELECT user_id, view_id, purchase_id
          |FROM events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts, event_id
          |  MEASURES A.event_id AS view_id, B.event_id AS purchase_id
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (A B)
          |  DEFINE A AS event_type = 'view',
          |         B AS event_type = 'purchase'
          |)""".stripMargin)
      val inserted = spark.table("graft_pairs")
      val want = graft.streaming.MatchRecognizeSql.sqlDf(
        spark.table("events"),
        """SELECT * FROM events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts, event_id
          |  MEASURES A.event_id AS view_id, B.event_id AS purchase_id
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (A B)
          |  DEFINE A AS event_type = 'view',
          |         B AS event_type = 'purchase'
          |)""".stripMargin)
      assert(inserted.count() > 0)
      assert(rows(inserted.orderBy("user_id", "view_id")) ==
        rows(want.select("user_id", "view_id", "purchase_id")
          .orderBy("user_id", "view_id")))
      graft.Sql.sql(spark, "DROP TABLE graft_pairs")
      assert(!spark.catalog.tableExists("graft_pairs"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_pairs")
      org.apache.commons.io.FileUtils.deleteQuietly(wh.toFile)
    }
  }

  test("reference testMatchRecognizeAppliedToWindowedGrouping: the " +
    "clause over a (windowed-aggregate subquery) source, one statement " +
    "(MatchRecognizeITCase.scala:255-314)") {
    import spark.implicits._
    def ts(s: Int) = new java.sql.Timestamp(s * 1000L)
    Seq(
      ("ACME", ts(1), 1, 1), ("ACME", ts(2), 2, 2),
      ("ACME", ts(4), 1, 4), ("ACME", ts(5), 1, 3),
      ("ACME", ts(7), 2, 3), ("ACME", ts(8), 2, 3),
      ("ACME1", ts(1), 20, 4), ("ACME1", ts(1), 24, 4),
      ("ACME1", ts(1), 25, 3), ("ACME1", ts(1), 19, 8)
    ).toDF("symbol", "rowtime", "price", "tax")
      .createOrReplaceTempView("ticker_wg")
    val got = graft.Sql.sql(spark,
      """SELECT * FROM (
        |  SELECT symbol, SUM(price) AS price,
        |         window(rowtime, '3 seconds').end AS wend,
        |         window(rowtime, '3 seconds').start AS wstart
        |  FROM ticker_wg GROUP BY symbol, window(rowtime, '3 seconds')
        |) MATCH_RECOGNIZE (
        |  PARTITION BY symbol
        |  ORDER BY wend
        |  MEASURES B.price AS dPrice, B.wstart AS dTime
        |  ONE ROW PER MATCH
        |  PATTERN (A B)
        |  DEFINE B AS B.price < A.price
        |)""".stripMargin)
    // reference expected (":312"): ACME,2,1970-01-01T00:00:03 — window
    // sums 3,2,4: only (3 -> 2) descends; ACME1 has one window, no pair
    assert(rows(got).toSet ==
      Set(Seq[Any]("ACME", 2L, ts(3))), rows(got).toString)
  }

  test("reference testWindowedGroupingAppliedToMatchRecognize: windowed " +
    "GROUP BY over the clause result via MATCH_ROWTIME(), one statement " +
    "(MatchRecognizeITCase.scala:316-369)") {
    import spark.implicits._
    def ts(s: Int) = new java.sql.Timestamp(s * 1000L)
    Seq(
      ("ACME", ts(1), 1, 1), ("ACME", ts(2), 2, 2),
      ("ACME", ts(4), 1, 4), ("ACME", ts(5), 1, 3)
    ).toDF("symbol", "rowtime", "price", "tax")
      .createOrReplaceTempView("ticker_wg2")
    val got = graft.Sql.sql(spark,
      """SELECT symbol, SUM(price) AS price,
        |       window(matchRowtime, '3 seconds').start AS startTime
        |FROM ticker_wg2 MATCH_RECOGNIZE (
        |  PARTITION BY symbol
        |  ORDER BY rowtime
        |  MEASURES
        |    A.price AS price,
        |    A.tax AS tax,
        |    MATCH_ROWTIME() AS matchRowtime
        |  ONE ROW PER MATCH
        |  PATTERN (A)
        |  DEFINE A AS A.price > 0
        |) AS T
        |GROUP BY symbol, window(matchRowtime, '3 seconds')""".stripMargin)
    // reference expected (":366-368"): per-3s-window sums 3 and 2
    assert(rows(got).toSet == Set(
      Seq[Any]("ACME", 3L, ts(0)), Seq[Any]("ACME", 2L, ts(3))),
      rows(got).toString)
  }

  test("streaming table by name: the ROW_NUMBER filter routes to the " +
    "stateful rank executor; the identical batch statement stays native") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[RankT3]
    input.toDF().createOrReplaceTempView("sql_stream_rank")
    val stmt =
      """SELECT b, a, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY b ORDER BY a DESC) AS rn
        |  FROM sql_stream_rank)
        |WHERE rn = 1""".stripMargin
    val routed = graft.Sql.sql(spark, stmt)
    assert(routed.isStreaming) // Spark SQL could never plan this on a stream
    val q = routed.writeStream.format("memory").queryName("sqlrankroute")
      .outputMode("append").start()
    val data = Seq(RankT3(1, 1L, "x"), RankT3(5, 1L, "y"), RankT3(3, 2L, "z"),
      RankT3(4, 2L, "w"), RankT3(2, 1L, "v"))
    input.addData(data.take(3): _*); q.processAllAvailable()
    input.addData(data.drop(3): _*); q.processAllAvailable()
    q.stop()
    // append log is a changelog; the final keep-one per key is max(a)
    val fin = spark.table("sqlrankroute").groupBy("b").agg(max("a").as("a"))
      .as[(Long, Int)].collect().toSet
    assert(fin == Set((1L, 5), (2L, 4)))
    // the same statement on a BATCH view bypasses the router entirely
    data.toDF().createOrReplaceTempView("sql_batch_rank")
    val batch = graft.Sql.sql(spark,
      stmt.replace("sql_stream_rank", "sql_batch_rank"))
    assert(!batch.isStreaming)
    assert(rows(batch.orderBy("b")) ==
      Seq(Seq(1L, 5, 1), Seq(2L, 4, 1)))
  }

  test("streaming table by name: an OVER frame routes to the stateful " +
    "OVER executor") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val input = MemoryStream[OverT1]
    input.toDF().createOrReplaceTempView("sql_stream_over")
    val routed = graft.Sql.sql(spark,
      """SELECT c, a, SUM(a) OVER (PARTITION BY c ORDER BY rowtime
        |  ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS sum_a
        |FROM sql_stream_over""".stripMargin)
    assert(routed.isStreaming)
    val q = routed.writeStream.format("memory").queryName("sqloverroute")
      .outputMode("append").start()
    input.addData(OverT1(1, 1, "k1", ts(1)), OverT1(2, 2, "k1", ts(2)),
      OverT1(7, 7, "k2", ts(1)))
    q.processAllAvailable()
    input.addData(OverT1(3, 3, "k1", ts(3)))
    q.processAllAvailable()
    // watermark sentinels close every real row's frame
    input.addData(OverT1(0, 0, "ZZZ", ts(100))); q.processAllAvailable()
    input.addData(OverT1(0, 0, "ZZZ", ts(200))); q.processAllAvailable()
    q.stop()
    val got = spark.table("sqloverroute").filter($"c" =!= "ZZZ")
      .as[(String, Long, Double)].collect().toSet
    assert(got == Set(("k1", 1L, 1.0), ("k1", 2L, 3.0), ("k1", 3L, 5.0),
      ("k2", 7L, 7.0)))
  }

  test("r14: a streaming OVER frame over a stream-static join routes — " +
    "the join splices as a view, the OVER executor runs on its flat " +
    "output") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val input = MemoryStream[OverT1]
    input.toDF().createOrReplaceTempView("sql_stream_overj")
    Seq(("k1", 10L), ("k2", 20L)).toDF("ck", "boost")
      .createOrReplaceTempView("sql_static_boost")
    val routed = graft.Sql.sql(spark,
      """SELECT c, a, boost, SUM(a) OVER (PARTITION BY c ORDER BY rowtime
        |  ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS sum_a
        |FROM sql_stream_overj s JOIN sql_static_boost d ON s.c = d.ck""".stripMargin)
    assert(routed.isStreaming)
    val q = routed.writeStream.format("memory").queryName("sqloverjoin")
      .outputMode("append").start()
    input.addData(OverT1(1, 1, "k1", ts(1)), OverT1(2, 2, "k1", ts(2)),
      OverT1(7, 7, "k2", ts(1)))
    q.processAllAvailable()
    // sentinels close the frames (k1 so the join passes them through)
    input.addData(OverT1(0, 0, "k1", ts(100))); q.processAllAvailable()
    input.addData(OverT1(0, 0, "k1", ts(200))); q.processAllAvailable()
    q.stop()
    val got = spark.table("sqloverjoin").filter($"a" > 0)
      .select($"c", $"a", $"boost", $"sum_a")
      .as[(String, Long, Long, Double)].collect().toSet
    assert(got == Set(("k1", 1L, 10L, 1.0), ("k1", 2L, 10L, 3.0),
      ("k2", 7L, 20L, 7.0)), s"got $got")
  }

  test("a window entirely on the STATIC side of a stream-static join " +
    "stays with Spark SQL (plannable natively); keywords in string " +
    "literals/comments never trip the router") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[RankT3]
    input.toDF().createOrReplaceTempView("sql_stream_ss")
    Seq((1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0), (5, 50.0))
      .toDF("id", "score").createOrReplaceTempView("sql_static_dim")
    // ROW_NUMBER over the static dim only — Spark plans the stream-static
    // join natively; the old raw-text router rejected this with the
    // 'exactly one table' error
    val stmt =
      """SELECT t.a, t.b, d.score, d.rk, 'OVER ROW_NUMBER() RANK()' AS note
        |FROM sql_stream_ss t
        |JOIN (SELECT id, score,
        |        ROW_NUMBER() OVER (ORDER BY score DESC) AS rk
        |      FROM sql_static_dim) d
        |  ON t.a = d.id  -- comment mentioning OVER and DENSE_RANK()
        |""".stripMargin
    val routed = graft.Sql.sql(spark, stmt)
    assert(routed.isStreaming)
    val q = routed.writeStream.format("memory").queryName("sqlssnative")
      .outputMode("append").start()
    input.addData(RankT3(1, 1L, "x"), RankT3(4, 2L, "y"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("sqlssnative")
      .select("a", "score", "rk").as[(Int, Double, Int)].collect().toSet
    // rk is descending by score: id 5 -> 1 ... id 1 -> 5
    assert(got == Set((1, 10.0, 5), (4, 40.0, 2)), s"got $got")
  }

  test("a CTE over the stream routes through to the rank executor " +
    "(CTE names are not base tables; bodies register as views)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[RankT3]
    input.toDF().createOrReplaceTempView("sql_stream_cte")
    val routed = graft.Sql.sql(spark,
      """WITH e AS (SELECT a, b FROM sql_stream_cte WHERE a > 0)
        |SELECT b, a, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY b ORDER BY a DESC) AS rn
        |  FROM e)
        |WHERE rn = 1""".stripMargin)
    assert(routed.isStreaming)
    val q = routed.writeStream.format("memory").queryName("sqlcteroute")
      .outputMode("append").start()
    input.addData(RankT3(1, 1L, "x"), RankT3(5, 1L, "y"), RankT3(-7, 1L, "n"),
      RankT3(3, 2L, "z"))
    q.processAllAvailable(); q.stop()
    val fin = spark.table("sqlcteroute").groupBy("b").agg(max("a").as("a"))
      .as[(Long, Int)].collect().toSet
    assert(fin == Set((1L, 5), (2L, 3)), s"got $fin")
    // the same CTE statement on a batch view stays native end-to-end
    Seq(RankT3(1, 1L, "x"), RankT3(5, 1L, "y"), RankT3(3, 2L, "z"))
      .toDF().createOrReplaceTempView("sql_batch_cte")
    val batch = graft.Sql.sql(spark,
      """WITH e AS (SELECT a, b FROM sql_batch_cte)
        |SELECT b, a, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY b ORDER BY a DESC) AS rn
        |  FROM e)
        |WHERE rn = 1 ORDER BY b""".stripMargin)
    assert(!batch.isStreaming)
    assert(rows(batch) == Seq(Seq(1L, 5, 1), Seq(2L, 3, 1)))
  }

  test("r14: a streaming rank over a stream-static join routes through " +
    "the front door — the join runs natively (spliced as a view), the " +
    "executor ranks its flat output (reference: rank over a joined " +
    "stream is plain FlinkStreamRuleSets composition)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[RankT3]
    input.toDF().createOrReplaceTempView("sql_stream_rank2")
    Seq((1, "x"), (3, "y"), (5, "z")).toDF("id", "tag")
      .createOrReplaceTempView("sql_batch_dim")
    val routed = graft.Sql.sql(spark,
      """SELECT b, a, tag, rn FROM (
        |  SELECT b, a, tag,
        |    ROW_NUMBER() OVER (PARTITION BY b ORDER BY a DESC) AS rn
        |  FROM sql_stream_rank2 t JOIN sql_batch_dim d ON t.a = d.id)
        |WHERE rn = 1""".stripMargin)
    assert(routed.isStreaming)
    val q = routed.writeStream.format("memory").queryName("sqljoinrank")
      .outputMode("append").start()
    input.addData(RankT3(1, 1L, "x"), RankT3(5, 1L, "y"), RankT3(3, 2L, "z"),
      RankT3(2, 2L, "u")) // a=2 has no dim row: dropped by the inner join
    q.processAllAvailable(); q.stop()
    val fin = spark.table("sqljoinrank").groupBy("b")
      .agg(max("a").as("a"), max_by(col("tag"), col("a")).as("tag"))
      .as[(Long, Int, String)].collect().toSet
    assert(fin == Set((1L, 5, "z"), (2L, 3, "y")), s"got $fin")
    // reference parity: StreamExecRank.scala:141 throws the same message
    val e2 = intercept[IllegalArgumentException](graft.Sql.sql(spark,
      """SELECT * FROM (
        |  SELECT *, RANK() OVER (PARTITION BY b ORDER BY a) AS r
        |  FROM sql_stream_rank2)
        |WHERE r = 1""".stripMargin))
    assert(e2.getMessage.contains(
      "RANK() on streaming table is not supported"))
  }

  test("streaming table by name: ORDER BY rowtime routes to the " +
    "event-time sort executor (reference TemporalSortITCase." +
    "testEventTimeAndOtherFieldOrderBy:81-122 verbatim); the batch " +
    "twin stays native") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def ts(m: Long) = new java.sql.Timestamp(m)
    val data = Seq(
      (ts(3), 2L, "Hello world", 3), (ts(2), 2L, "Hello", 2),
      (ts(6), 3L, "Luke Skywalker", 6), (ts(5), 3L, "I am fine.", 5),
      (ts(7), 4L, "Comment#1", 7), (ts(9), 4L, "Comment#3", 9),
      (ts(10), 4L, "Comment#4", 10), (ts(8), 4L, "Comment#2", 8),
      (ts(1), 1L, "Hi", 2), (ts(1), 1L, "Hi", 1),
      (ts(4), 3L, "Helloworld, how are you?", 4))
    val input = MemoryStream[(java.sql.Timestamp, Long, String, Int)]
    input.toDF().toDF("rowtime", "key", "str", "int")
      .createOrReplaceTempView("sql_stream_sort")
    val stmt = "SELECT key, str, `int` FROM sql_stream_sort " +
      "ORDER BY rowtime, `int`"
    val routed = graft.Sql.sql(spark, stmt)
    assert(routed.isStreaming) // Spark cannot sort a stream
    val q = routed.writeStream.format("memory").queryName("sqlsortroute")
      .outputMode("append").start()
    input.addData(data: _*); q.processAllAvailable()
    input.addData((ts(30), 900L, "z", 900)); q.processAllAvailable()
    input.addData((ts(40), 901L, "z", 901)); q.processAllAvailable()
    q.stop()
    val got = spark.table("sqlsortroute")
      .as[(Long, String, Int)].collect().toSeq.filter(_._3 < 100)
    // the ITCase's expected emission order (:107-119)
    assert(got == Seq((1L, "Hi", 1), (1L, "Hi", 2), (2L, "Hello", 2),
      (2L, "Hello world", 3), (3L, "Helloworld, how are you?", 4),
      (3L, "I am fine.", 5), (3L, "Luke Skywalker", 6),
      (4L, "Comment#1", 7), (4L, "Comment#2", 8), (4L, "Comment#3", 9),
      (4L, "Comment#4", 10)), got.toString)
    // the same statement on a BATCH view bypasses the router
    data.toDF("rowtime", "key", "str", "int")
      .createOrReplaceTempView("sql_batch_sort")
    val batch = graft.Sql.sql(spark,
      stmt.replace("sql_stream_sort", "sql_batch_sort"))
    assert(!batch.isStreaming)
    assert(rows(batch) == got.map(t => Seq[Any](t._1, t._2, t._3)))
  }

  test("streaming table by name: ORDER BY ... LIMIT routes to the global " +
    "top-n executor (reference SortLimitITCase.test:40-60 verbatim) and " +
    "bare LIMIT keeps the first arrivals (LimitITCase.testLimit:37-62)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val data = Seq(("book", 1, 12), ("book", 2, 19), ("book", 4, 11),
      ("fruit", 4, 33), ("fruit", 3, 44), ("fruit", 5, 22))
    val input = MemoryStream[(String, Int, Int)]
    input.toDF().toDF("category", "shopId", "num")
      .createOrReplaceTempView("sql_stream_limit")
    val topn = graft.Sql.sql(spark,
      "SELECT * FROM sql_stream_limit ORDER BY num DESC LIMIT 2")
    assert(topn.isStreaming)
    val q = topn.writeStream.format("memory").queryName("sqlsortlimit")
      .outputMode("append").start()
    input.addData(data.take(3): _*); q.processAllAvailable()
    input.addData(data.drop(3): _*); q.processAllAvailable()
    q.stop()
    // each change re-emits the full top-2 prefix; the final snapshot is
    // the ITCase's retract result (:57-59)
    val log = spark.table("sqlsortlimit")
      .as[(String, Int, Int)].collect().toSeq
    assert(log.takeRight(2).toSet ==
      Set(("fruit", 3, 44), ("fruit", 4, 33)), log.toString)
    // bare LIMIT: the first n rows in arrival order
    val input2 = MemoryStream[(String, Int, Int)]
    input2.toDF().toDF("category", "shopId", "num")
      .createOrReplaceTempView("sql_stream_limit2")
    val lim = graft.Sql.sql(spark,
      "SELECT * FROM sql_stream_limit2 LIMIT 4")
    assert(lim.isStreaming)
    val q2 = lim.writeStream.format("memory").queryName("sqllimit")
      .outputMode("append").start()
    input2.addData(data.take(3): _*); q2.processAllAvailable()
    input2.addData(data.drop(3): _*); q2.processAllAvailable()
    q2.stop()
    // the ITCase's expected rows (:56-60): the first four arrivals
    val log2 = spark.table("sqllimit").as[(String, Int, Int)]
      .collect().toSeq
    assert(log2.takeRight(4).toSet == Set(("book", 1, 12), ("book", 2, 19),
      ("book", 4, 11), ("fruit", 4, 33)), log2.toString)
    // batch LIMIT stays native
    data.toDF("category", "shopId", "num")
      .createOrReplaceTempView("sql_batch_limit")
    val batch = graft.Sql.sql(spark,
      "SELECT * FROM sql_batch_limit ORDER BY num DESC LIMIT 2")
    assert(!batch.isStreaming)
    assert(rows(batch).toSet ==
      Set(Seq[Any]("fruit", 3, 44), Seq[Any]("fruit", 4, 33)))
  }

  test("r15: a streaming rank over a DERIVED TABLE routes — the subquery " +
    "runs natively as a view under its own alias, the executor ranks " +
    "its output (reference: rank over any stream subtree is plain " +
    "FlinkStreamRuleSets composition)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[RankT3]
    input.toDF().createOrReplaceTempView("sql_stream_rank3")
    val routed = graft.Sql.sql(spark,
      """SELECT b, a2, rn FROM (
        |  SELECT b, a2,
        |    ROW_NUMBER() OVER (PARTITION BY b ORDER BY a2 DESC) AS rn
        |  FROM (SELECT b, a * 10 AS a2 FROM sql_stream_rank3
        |        WHERE a <> 4) t)
        |WHERE rn = 1""".stripMargin)
    assert(routed.isStreaming)
    val q = routed.writeStream.format("memory").queryName("sqlsubrank")
      .outputMode("append").start()
    input.addData(RankT3(1, 1L, "x"), RankT3(5, 1L, "y"), RankT3(3, 2L, "z"),
      RankT3(4, 2L, "w")) // a=4 is filtered out by the derived table
    q.processAllAvailable(); q.stop()
    val fin = spark.table("sqlsubrank").groupBy("b").agg(max("a2").as("a2"))
      .as[(Long, Int)].collect().toSet
    assert(fin == Set((1L, 50), (2L, 30)), s"got $fin")
  }

  test("r15: JOIN ... USING under the streaming rank route keeps its " +
    "keys (regression: the joinType-blind build cross-joined USING)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[RankT3]
    input.toDF().createOrReplaceTempView("sql_stream_rank4")
    Seq((1, "x"), (5, "z")).toDF("a", "tag")
      .createOrReplaceTempView("sql_using_dim")
    val routed = graft.Sql.sql(spark,
      """SELECT b, a, tag, rn FROM (
        |  SELECT b, a, tag,
        |    ROW_NUMBER() OVER (PARTITION BY b ORDER BY a DESC) AS rn
        |  FROM sql_stream_rank4 JOIN sql_using_dim USING (a))
        |WHERE rn = 1""".stripMargin)
    assert(routed.isStreaming)
    val q = routed.writeStream.format("memory").queryName("sqlusingrank")
      .outputMode("append").start()
    input.addData(RankT3(1, 1L, "x"), RankT3(5, 1L, "y"), RankT3(3, 2L, "z"))
    q.processAllAvailable(); q.stop()
    // USING keeps only a∈{1,5}; a cross join would keep b=2 (and fan out)
    val fin = spark.table("sqlusingrank").groupBy("b")
      .agg(max("a").as("a"), max_by(col("tag"), col("a")).as("tag"))
      .as[(Long, Int, String)].collect().toSet
    assert(fin == Set((1L, 5, "z")), s"got $fin")
  }

  test("r16: NATURAL JOIN under the streaming rank route resolves the " +
    "common columns to a USING join (reference accepts NATURAL JOIN " +
    "via Calcite; was a loud rejection in r15)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[RankT3]
    input.toDF().createOrReplaceTempView("sql_stream_nat")
    Seq((1, "x"), (5, "z")).toDF("a", "tag")
      .createOrReplaceTempView("sql_nat_dim")
    val routed = graft.Sql.sql(spark,
      """SELECT b, a, tag, rn FROM (
        |  SELECT b, a, tag,
        |    ROW_NUMBER() OVER (PARTITION BY b ORDER BY a DESC) AS rn
        |  FROM sql_stream_nat NATURAL JOIN sql_nat_dim)
        |WHERE rn = 1""".stripMargin)
    assert(routed.isStreaming)
    val q = routed.writeStream.format("memory").queryName("sqlnatrank")
      .outputMode("append").start()
    input.addData(RankT3(1, 1L, "x"), RankT3(5, 1L, "y"), RankT3(3, 2L, "z"))
    q.processAllAvailable(); q.stop()
    // natural join keys on the common column a: only a∈{1,5} survive; a
    // cross join would keep b=2 and fan rows out
    val fin = spark.table("sqlnatrank").groupBy("b")
      .agg(max("a").as("a"), max_by(col("tag"), col("a")).as("tag"))
      .as[(Long, Int, String)].collect().toSet
    assert(fin == Set((1L, 5, "z")), s"got $fin")
    // no common columns: Spark's analyzer resolves the join, and SQL
    // makes a NATURAL JOIN without common columns a cross join
    Seq((1, "x")).toDF("nocol", "tag2")
      .createOrReplaceTempView("sql_nat_dim2")
    val input2 = MemoryStream[RankT3]
    input2.toDF().createOrReplaceTempView("sql_stream_nat2")
    val crossed = graft.Sql.sql(spark,
      """SELECT * FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY b ORDER BY a) AS rn
        |  FROM sql_stream_nat2 NATURAL JOIN sql_nat_dim2)
        |WHERE rn = 1""".stripMargin)
    assert(crossed.columns.toSeq == Seq("a", "b", "c", "nocol", "tag2", "rn"))
    val q2 = crossed.writeStream.format("memory").queryName("sqlnatcross")
      .outputMode("append").start()
    input2.addData(RankT3(1, 1L, "x"), RankT3(5, 1L, "y"), RankT3(3, 2L, "z"))
    q2.processAllAvailable(); q2.stop()
    assert(spark.table("sqlnatcross").select("b", "a", "tag2")
      .as[(Long, Int, String)].collect().toSet ==
      Set((1L, 1, "x"), (2L, 3, "x")))
  }

  test("r15/r16: composed sources — a windowed derived table whose inner " +
    "shape no executor serves fails loudly; a derived-table column-alias " +
    "list routes") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[RankT3]
    input.toDF().createOrReplaceTempView("sql_stream_rank5")
    Seq((1, "x")).toDF("id", "tag").createOrReplaceTempView("sql_dim5")
    // RankT3 carries no timestamp, so the inner OVER (no ORDER BY at
    // all) is genuinely unplannable — the route must surface its own
    // loud error, not cross-join or hang
    val e1 = intercept[IllegalArgumentException](graft.Sql.sql(spark,
      """SELECT * FROM (
        |  SELECT b, a, tag,
        |    ROW_NUMBER() OVER (PARTITION BY b ORDER BY a) AS rn
        |  FROM (SELECT b, a, MAX(a) OVER (PARTITION BY b) AS m
        |        FROM sql_stream_rank5) t
        |  JOIN sql_dim5 d ON t.a = d.id)
        |WHERE rn = 1""".stripMargin))
    assert(e1.getMessage.contains("ORDER BY"), e1.getMessage)
    // Spark's analyzer applies the alias list; the rank executor reads
    // the renamed columns
    val routed = graft.Sql.sql(spark,
      """SELECT * FROM (
        |  SELECT x, y, ROW_NUMBER() OVER (PARTITION BY y ORDER BY x) AS rn
        |  FROM (SELECT a, b FROM sql_stream_rank5) t(x, y))
        |WHERE rn = 1""".stripMargin)
    assert(routed.isStreaming)
    assert(routed.columns.toSeq == Seq("x", "y", "rn"))
    val q = routed.writeStream.format("memory").queryName("sqlaliaslist")
      .outputMode("append").start()
    input.addData(RankT3(4, 1L, "p"), RankT3(1, 1L, "q"), RankT3(7, 2L, "r"))
    q.processAllAvailable()
    input.addData(RankT3(2, 2L, "s"), RankT3(9, 2L, "t"))
    q.processAllAvailable(); q.stop()
    // keep-first on x ascending: emissions improve monotonically, so the
    // smallest logged x per key is the final rank-1 row
    val fin = spark.table("sqlaliaslist").groupBy("y").agg(min("x").as("x"))
      .as[(Long, Int)].collect().toSet
    assert(fin == Set((1L, 1), (2L, 2)), s"got $fin")
  }

  test("qualified column names over a stream-static join whose inputs " +
    "share a column name route to the rank executor") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[RankT3]
    input.toDF().createOrReplaceTempView("sql_stream_qual")
    Seq((1, "x"), (3, "y"), (5, "z")).toDF("a", "tag")
      .createOrReplaceTempView("sql_dim_qual")
    // both inputs carry `a`: unqualified it would be ambiguous
    val routed = graft.Sql.sql(spark,
      """SELECT b, a, tag, rn FROM (
        |  SELECT e.b, e.a, d.tag,
        |    ROW_NUMBER() OVER (PARTITION BY e.b ORDER BY e.a DESC) AS rn
        |  FROM sql_stream_qual e JOIN sql_dim_qual d ON e.a = d.a)
        |WHERE rn = 1""".stripMargin)
    assert(routed.isStreaming)
    val q = routed.writeStream.format("memory").queryName("sqlqualrank")
      .outputMode("append").start()
    input.addData(RankT3(1, 1L, "x"), RankT3(5, 1L, "y"), RankT3(3, 2L, "z"),
      RankT3(2, 2L, "u")) // a=2 has no dim row: dropped by the inner join
    q.processAllAvailable(); q.stop()
    val fin = spark.table("sqlqualrank").groupBy("b")
      .agg(max("a").as("a"), max_by(col("tag"), col("a")).as("tag"))
      .as[(Long, Int, String)].collect().toSet
    assert(fin == Set((1L, 5, "z"), (2L, 3, "y")), s"got $fin")
  }

  test("streaming table by name: ROW_NUMBER and ORDER BY ... LIMIT over " +
    "an embedded MATCH_RECOGNIZE result route to the rank executor in one " +
    "statement") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.streaming.MrTick
    def ts(m: Long) = new java.sql.Timestamp(m * 60000L)
    val input = MemoryStream[MrTick]
    input.toDF().createOrReplaceTempView("sql_stream_mr_rank")
    val mr =
      """sql_stream_mr_rank MATCH_RECOGNIZE (
        |  PARTITION BY sym ORDER BY rowtime
        |  MEASURES UP.price AS up_p
        |  ONE ROW PER MATCH
        |  PATTERN (DOWN+ UP)
        |  DEFINE DOWN AS price < PREV(price), UP AS price > PREV(price))""".stripMargin
    def start(text: String, name: String) = {
      val df = graft.Sql.sql(spark, text)
      assert(df.isStreaming)
      df.writeStream.format("memory").queryName(name).outputMode("append")
        .start()
    }
    // each route lifts the chained-stateful check for its own query
    spark.conf.unset(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled")
    val qs = Seq(
      start(s"SELECT sym, up_p FROM $mr ORDER BY up_p DESC LIMIT 1", "sqlmrtop"),
      start(s"""SELECT sym, up_p, rn FROM (
               |  SELECT sym, up_p,
               |    ROW_NUMBER() OVER (PARTITION BY sym ORDER BY up_p DESC) AS rn
               |  FROM $mr)
               |WHERE rn = 1""".stripMargin, "sqlmrrank"))
    def step(): Unit = qs.foreach(_.processAllAvailable())
    // ACME matches (10 -> 11) and (9 -> 13); BETA matches (6 -> 8)
    input.addData(MrTick("ACME", 12, 1, ts(1)), MrTick("ACME", 10, 2, ts(2)),
      MrTick("ACME", 11, 3, ts(3)), MrTick("BETA", 7, 10, ts(1)))
    step()
    input.addData(MrTick("ACME", 9, 4, ts(4)), MrTick("ACME", 13, 5, ts(5)),
      MrTick("BETA", 6, 11, ts(7)), MrTick("BETA", 8, 12, ts(8)))
    step()
    input.addData(MrTick("ZZZ", 0, 99, ts(100))); step()
    input.addData(MrTick("ZZZ", 0, 98, ts(200))); step()
    qs.foreach(_.stop())
    // append log: the latest keep-1 emission per key is the top match
    val fin = spark.table("sqlmrrank").filter(col("sym") =!= "ZZZ")
      .groupBy("sym").agg(max("up_p").as("up_p"))
      .as[(String, Int)].collect().toSet
    assert(fin == Set(("ACME", 13), ("BETA", 8)), s"got $fin")
    // the global top-1 re-emits on each improvement; the best is ACME's
    val best = spark.table("sqlmrtop").orderBy(col("up_p").desc)
      .as[(String, Int)].collect().head
    assert(best == ("ACME", 13), s"got $best")
  }

  test("routed streaming statements register no temp views: a session " +
    "view named like a statement's CTE keeps its rows, and no graft_src* " +
    "view appears") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    Seq((42, "mine")).toDF("id", "tag").createOrReplaceTempView("e")
    val input = MemoryStream[RankT3]
    input.toDF().createOrReplaceTempView("sql_stream_noleak")
    Seq((1, "x")).toDF("id", "tag").createOrReplaceTempView("sql_dim_noleak")
    def views(): Set[String] =
      spark.catalog.listTables().collect().map(_.name).toSet
    val before = views()
    Seq(
      """WITH e AS (SELECT a, b FROM sql_stream_noleak)
        |SELECT b, a, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY b ORDER BY a) AS rn
        |  FROM e)
        |WHERE rn = 1""".stripMargin,
      """SELECT b, a, rn FROM (
        |  SELECT b, a, ROW_NUMBER() OVER (PARTITION BY b ORDER BY a) AS rn
        |  FROM (SELECT a, b FROM sql_stream_noleak WHERE a > 0) t)
        |WHERE rn = 1""".stripMargin,
      """SELECT b, a, rn FROM (
        |  SELECT b, a, ROW_NUMBER() OVER (PARTITION BY b ORDER BY a) AS rn
        |  FROM sql_stream_noleak s JOIN sql_dim_noleak d ON s.a = d.id)
        |WHERE rn = 1""".stripMargin)
      .foreach(stmt => assert(graft.Sql.sql(spark, stmt).isStreaming))
    assert(!spark.table("e").isStreaming)
    assert(rows(spark.table("e")) == Seq(Seq(42, "mine")))
    val gained = views() -- before
    assert(!gained.exists(_.startsWith("graft_src")), s"gained $gained")
    spark.catalog.dropTempView("e")
  }

  test("r16: rank over a derived table that itself computes a streaming " +
    "OVER aggregate — the inner subquery routes recursively to the OVER " +
    "executor, the outer ROW_NUMBER ranks its output (reference: rank " +
    "composes over any stream subtree, FlinkStreamRuleSets -> " +
    "StreamExecRank)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def mts(m: Long) = new java.sql.Timestamp(m * 60000L)
    val input = MemoryStream[OverT1]
    input.toDF().createOrReplaceTempView("sql_stream_nested")
    val routed = graft.Sql.sql(spark,
      """SELECT c, a, s, rn FROM (
        |  SELECT c, a, s,
        |    ROW_NUMBER() OVER (PARTITION BY c ORDER BY s DESC, a DESC) AS rn
        |  FROM (SELECT c, a,
        |          SUM(b) OVER (PARTITION BY c ORDER BY rowtime, a
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |        FROM sql_stream_nested) t)
        |WHERE rn = 1""".stripMargin)
    assert(routed.isStreaming)
    val q = routed.writeStream.format("memory").queryName("sqlnested")
      .outputMode("append").start()
    // x: running sums 10, 15, -5 -> top s=15 at a=2; y: 1, 3 -> top 3 at a=9
    input.addData(OverT1(1, 10, "x", mts(1)), OverT1(2, 5, "x", mts(2)),
      OverT1(3, -20, "x", mts(3)), OverT1(8, 1, "y", mts(1)),
      OverT1(9, 2, "y", mts(2)))
    q.processAllAvailable()
    input.addData(OverT1(0, 0, "zz", mts(100))) // advance the watermark
    q.processAllAvailable()
    input.addData(OverT1(0, 0, "zz", mts(200)))
    q.processAllAvailable(); q.stop()
    // append log: keep-1 emissions improve monotonically, latest-by-(s,a)
    // per key is the final top-1
    val fin = spark.table("sqlnested").filter(col("c").isin("x", "y"))
      .groupBy("c").agg(max(struct(col("s"), col("a"))).as("m"))
      .select(col("c"), col("m.a"), col("m.s"))
      .as[(String, Long, Double)].collect().toSet
    assert(fin == Set(("x", 2L, 15.0), ("y", 9L, 3.0)), s"got $fin")
  }

  test("r16: rank over a JOIN whose derived table computes a streaming " +
    "OVER aggregate — the join build plans the windowed subquery " +
    "recursively through the front door") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def mts(m: Long) = new java.sql.Timestamp(m * 60000L)
    val input = MemoryStream[OverT1]
    input.toDF().createOrReplaceTempView("sql_stream_nested2")
    Seq((1L, "lo"), (2L, "hi"), (3L, "lo"), (9L, "hi"))
      .toDF("id", "tag").createOrReplaceTempView("sql_dim_nested")
    val routed = graft.Sql.sql(spark,
      """SELECT c, a, s, tag, rn FROM (
        |  SELECT c, a, s, tag,
        |    ROW_NUMBER() OVER (PARTITION BY c ORDER BY s DESC, a DESC) AS rn
        |  FROM (SELECT c, a,
        |          SUM(b) OVER (PARTITION BY c ORDER BY rowtime, a
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |        FROM sql_stream_nested2) t
        |  JOIN sql_dim_nested d ON t.a = d.id)
        |WHERE rn = 1""".stripMargin)
    assert(routed.isStreaming)
    val q = routed.writeStream.format("memory").queryName("sqlnestedj")
      .outputMode("append").start()
    input.addData(OverT1(1, 10, "x", mts(1)), OverT1(2, 5, "x", mts(2)),
      OverT1(9, 2, "y", mts(1)))
    q.processAllAvailable()
    input.addData(OverT1(0, 0, "zz", mts(100)))
    q.processAllAvailable()
    input.addData(OverT1(0, 0, "zz", mts(200)))
    q.processAllAvailable(); q.stop()
    // x: sums 10 (a=1, tag lo), 15 (a=2, tag hi) -> top (15, a=2, hi);
    // y: single row sum 2 at a=9 tag hi
    val fin = spark.table("sqlnestedj").filter(col("c").isin("x", "y"))
      .groupBy("c")
      .agg(max(struct(col("s"), col("a"), col("tag"))).as("m"))
      .select(col("c"), col("m.a"), col("m.s"), col("m.tag"))
      .as[(String, Long, Double, String)].collect().toSet
    assert(fin == Set(("x", 2L, 15.0, "hi"), ("y", 9L, 2.0, "hi")),
      s"got $fin")
  }
}
