package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The reference's 3-tuple test table (TestData.tupleData3 shape). */
case class RankT3(a: Int, b: Long, c: String)

/** Shop data from RankITCase.testTopN / testTopNth. */
case class Shop(category: String, shopId: Int, num: Int)

/** The general-schema rank/dedup executor must reproduce the reference's
  * own IT-case results on the reference's own data (reference:
  * flink-table-planner-blink .../runtime/stream/sql/RankITCase.scala
  * testTopN/testTopNth and DeduplicateITCase.scala keep-first/keep-last),
  * and its batch collapse must agree with Spark's own window evaluation.
  * Streaming runs reconstruct the FINAL per-key answer from the change
  * log: the operator re-emits the refreshed ranking on change, so the
  * final top-n of everything logged (ranked the operator's way) is the
  * final state — the same reconstruction the 10M soak uses. */
class RankOpsSpec extends SparkSpec {

  // DeduplicateITCase's tupleData3 (a, b, c)
  private val tupleData3 = Seq(
    RankT3(1, 1L, "Hi"), RankT3(2, 2L, "Hello"), RankT3(3, 2L, "Hello world"),
    RankT3(4, 3L, "Hello world, how are you?"), RankT3(5, 3L, "I am fine."),
    RankT3(6, 3L, "Luke Skywalker"), RankT3(7, 4L, "Comment#1"),
    RankT3(8, 4L, "Comment#2"), RankT3(9, 4L, "Comment#3"),
    RankT3(10, 4L, "Comment#4"), RankT3(11, 5L, "Comment#5"),
    RankT3(12, 5L, "Comment#6"), RankT3(13, 5L, "Comment#7"),
    RankT3(14, 5L, "Comment#8"), RankT3(15, 5L, "Comment#9"),
    RankT3(16, 6L, "Comment#10"), RankT3(17, 6L, "Comment#11"),
    RankT3(18, 6L, "Comment#12"), RankT3(19, 6L, "Comment#13"),
    RankT3(20, 6L, "Comment#14"), RankT3(21, 6L, "Comment#15"))

  private val shopData = Seq(
    Shop("book", 1, 12), Shop("book", 2, 19), Shop("book", 4, 11),
    Shop("fruit", 4, 33), Shop("fruit", 3, 44), Shop("fruit", 5, 22))

  private def streamLog[T <: Product : org.apache.spark.sql.Encoder](
      data: Seq[T], name: String)(op: DataFrame => DataFrame)
      : DataFrame = {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[T]
    val q = op(input.toDF()).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    // two batches so cross-batch state is exercised
    input.addData(data.take(data.length / 2): _*); q.processAllAvailable()
    input.addData(data.drop(data.length / 2): _*); q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("reference RankITCase.testTopN: streaming top-2 per category, " +
    "final ranking matches the IT expected rows") {
    import spark.implicits._
    val sql =
      """SELECT * FROM (
        |  SELECT category, shopId, num, ROW_NUMBER() OVER (
        |    PARTITION BY category ORDER BY num DESC) AS rank_num
        |  FROM T)
        |WHERE rank_num <= 2""".stripMargin
    val log = streamLog(shopData, "ranktopn")(df => WindowSql.sqlDf(df, sql))
    // final = top-2 of everything logged, ranked the operator's way
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("category").orderBy(col("num").desc)
    val fin = log.select("category", "shopid", "num").distinct()
      .withColumn("rank_num", row_number().over(w))
      .filter(col("rank_num") <= 2)
      .as[(String, Int, Int, Int)].collect().toSet
    val expected = Set( // RankITCase.testTopN expected list
      ("book", 2, 19, 1), ("book", 1, 12, 2),
      ("fruit", 3, 44, 1), ("fruit", 4, 33, 2))
    assert(fin == expected, s"got $fin")
    // batch collapse emits the final ranking directly
    val batch = WindowSql.sqlDf(shopData.toDF(), sql)
      .as[(String, Int, Int, Long)].collect().toSet
    assert(batch == expected.map(t => (t._1, t._2, t._3, t._4.toLong)))
  }

  test("reference RankITCase.testTopNth: rank_num = 2 emits exactly the " +
    "second row per key") {
    import spark.implicits._
    val sql =
      """SELECT * FROM (
        |  SELECT category, shopId, num, ROW_NUMBER() OVER (
        |    PARTITION BY category ORDER BY num DESC) AS rank_num
        |  FROM T)
        |WHERE rank_num = 2""".stripMargin
    val batch = WindowSql.sqlDf(shopData.toDF(), sql)
      .as[(String, Int, Int, Long)].collect().toSet
    assert(batch == Set(("book", 1, 12, 2L), ("fruit", 4, 33, 2L)))
  }

  test("reference DeduplicateITCase: keep-first and keep-last on " +
    "proctime (arrival order), streaming final state matches") {
    import spark.implicits._
    def finalPerKey(log: DataFrame, first: Boolean): Set[(Int, Long, String)] = {
      // keep-first emits once per key; keep-last re-emits on change with
      // the kept row strictly advancing in arrival order — final = the
      // LAST logged row per key (by the monotone a column in this data)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("b").orderBy(if (first) col("a").asc else col("a").desc)
      log.distinct().withColumn("rx", row_number().over(w))
        .filter(col("rx") === 1).drop("rx")
        .as[(Int, Long, String)].collect().toSet
    }
    val firstSql =
      """SELECT a, b, c FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY b ORDER BY proctime)
        |    AS rowNum FROM T)
        |WHERE rowNum = 1""".stripMargin
    val lastSql =
      """SELECT a, b, c FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY b ORDER BY proctime
        |    DESC) AS rowNum FROM T)
        |WHERE rowNum = 1""".stripMargin
    val firstLog = streamLog(tupleData3, "dedupfirst")(
      df => WindowSql.sqlDf(df, firstSql))
    assert(finalPerKey(firstLog, first = true) == Set(
      (1, 1L, "Hi"), (2, 2L, "Hello"), (4, 3L, "Hello world, how are you?"),
      (7, 4L, "Comment#1"), (11, 5L, "Comment#5"), (16, 6L, "Comment#10")))
    // keep-first must emit exactly one row per key, ever
    assert(firstLog.count() == 6)
    val lastLog = streamLog(tupleData3, "deduplast")(
      df => WindowSql.sqlDf(df, lastSql))
    assert(finalPerKey(lastLog, first = false) == Set(
      (1, 1L, "Hi"), (3, 2L, "Hello world"), (6, 3L, "Luke Skywalker"),
      (10, 4L, "Comment#4"), (15, 5L, "Comment#9"), (21, 6L, "Comment#15")))
  }

  test("batch collapse agrees with Spark's own window evaluation on " +
    "fixture data (value order, composite output)") {
    val orders = spark.read.parquet(s"${sf()}/orders.parquet")
    val got = WindowSql.sqlDf(orders,
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val want = orders.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy(col("o_custkey"), col("rn"))
    assert(rows(got) == rows(want))
  }

  test("the native batch route is row-identical to the executor's " +
    "batch collapse") {
    val orders = spark.read.parquet(s"${sf()}/orders.parquet")
    val keys = Seq(("o_totalprice", false), ("o_orderkey", true))
    val exec = RankOps.rankRows(orders, Seq("o_custkey"), keys, 3,
      rankAlias = Some("rn")).orderBy(col("o_custkey"), col("rn"))
    val native = RankOps.rankRowsBatchNative(orders, Seq("o_custkey"),
      keys, 3, rankAlias = Some("rn")).orderBy(col("o_custkey"), col("rn"))
    assert(exec.schema == native.schema)
    assert(rows(native) == rows(exec))
    // dedup shape (no rank column) too
    val d1 = RankOps.keepOne(orders, Seq("o_custkey"), keys)
      .orderBy(col("o_custkey"))
    val d2 = RankOps.rankRowsBatchNative(orders, Seq("o_custkey"), keys, 1)
      .orderBy(col("o_custkey"))
    assert(rows(d2) == rows(d1))
  }

  test("contracts fail loudly: unknown column, bad rank filter, " +
    "streaming ORDER BY, rank-0, non-comparable order column") {
    import spark.implicits._
    val df = shopData.toDF()
    val e1 = intercept[Exception](WindowSql.sqlDf(df,
      """SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY nope
        |ORDER BY num DESC) AS rn FROM T) WHERE rn = 1""".stripMargin))
    // Spark's analyzer resolves the statement's columns and names the
    // unknown one
    assert(e1.getMessage.contains("UNRESOLVED_COLUMN") &&
      e1.getMessage.contains("nope"), e1.getMessage)
    val e2 = intercept[Exception](WindowSql.sqlDf(df,
      """SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY category
        |ORDER BY num DESC) AS rn FROM T) WHERE rn > 1""".stripMargin))
    assert(e2.getMessage.contains("rank filter"))
    val e3 = intercept[Exception](WindowSql.sqlDf(df,
      """SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY category
        |ORDER BY num DESC) AS rn FROM T) WHERE rn = 0""".stripMargin))
    assert(e3.getMessage.contains(">= 1"))
    val arr = df.withColumn("arr", array(col("num")))
    val e4 = intercept[IllegalArgumentException](RankOps.rankRows(arr,
      Seq("category"), Seq(("arr", true)), 1))
    assert(e4.getMessage.contains("non-comparable"))
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Shop]
    val e5 = intercept[Exception](WindowSql.sqlDf(input.toDF(),
      """SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY category
        |ORDER BY num DESC) AS rn FROM T) WHERE rn = 1
        |ORDER BY category""".stripMargin))
    assert(e5.getMessage.contains("presentation order"))
  }

  test("reference RankITCase.testTopNWithoutRowNumber: the outer SELECT " +
    "omits the rank column; streaming final state matches the IT's " +
    "retract-sink result") {
    import spark.implicits._
    val data = Seq(
      Shop("book", 1, 12), Shop("book", 2, 19), Shop("book", 4, 11),
      Shop("book", 5, 20), Shop("fruit", 4, 33), Shop("fruit", 3, 44),
      Shop("fruit", 5, 22), Shop("fruit", 1, 40))
    val sql =
      """SELECT category, num, shopId
        |FROM (
        |  SELECT category, shopId, num,
        |      ROW_NUMBER() OVER (PARTITION BY category ORDER BY num DESC)
        |        AS rank_num
        |  FROM T)
        |WHERE rank_num <= 2""".stripMargin
    val log = streamLog(data, "ranknorow")(df => WindowSql.sqlDf(df, sql))
    assert(log.columns.toSeq == Seq("category", "num", "shopId"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("category").orderBy(col("num").desc)
    val fin = log.distinct().withColumn("rx", row_number().over(w))
      .filter(col("rx") <= 2).drop("rx")
      .as[(String, Int, Int)].collect().toSet
    // the IT's final retract result (":1091"): book 19/20, fruit 40/44
    assert(fin == Set(("book", 19, 2), ("book", 20, 5),
      ("fruit", 40, 1), ("fruit", 44, 3)), s"got $fin")
  }

  test("reference RankITCase.testUnarySortTopNOnString: rank over a " +
    "grouped MAX on a STRING order key — final answer equals the IT's " +
    "upsert-sink result") {
    import spark.implicits._
    // the reference ranks an UPDATING aggregate (retract-input rank, a
    // Flink changelog operator); Spark's model recomputes the rank per
    // micro-batch over the aggregate's state (the UpsertSink pattern),
    // so the pinned contract is the FINAL answer: rank of the final
    // grouped MAX equals the IT's converged upsert results
    val data = Seq(
      ("book", 11, "100"), ("book", 11, "200"), ("book", 12, "400"),
      ("book", 12, "600"), ("book", 10, "600"), ("book", 10, "700"),
      ("book", 9, "800"), ("book", 9, "900"), ("book", 10, "500"),
      ("book", 8, "110"), ("book", 8, "120"), ("book", 7, "812"),
      ("book", 9, "300"), ("book", 6, "900"), ("book", 7, "50"),
      ("book", 11, "800"), ("book", 7, "50"), ("book", 8, "200"),
      ("book", 6, "700"), ("book", 5, "800"), ("book", 4, "910"),
      ("book", 3, "110"), ("book", 2, "900"), ("book", 1, "700"))
    val agg = data.toDF("category", "shopId", "price")
      .groupBy("category", "shopId")
      .agg(org.apache.spark.sql.functions.max("price").as("max_price"))
    val got = WindowSql.sqlDf(agg,
      """SELECT * FROM (
        |  SELECT category, shopId, max_price, ROW_NUMBER() OVER (
        |    PARTITION BY category ORDER BY max_price ASC) AS rank_num
        |  FROM T)
        |WHERE rank_num <= 3""".stripMargin)
      .as[(String, Int, String, Long)].collect().toSet
    // the IT's expected (":264-266"): lexicographic string order
    assert(got == Set(("book", 3, "110", 1L), ("book", 8, "200", 2L),
      ("book", 12, "600", 3L)), s"got $got")
  }
}
