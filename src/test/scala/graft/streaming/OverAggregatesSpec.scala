package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Top-level (encoder-friendly) row shape mirroring the reference IT
  * tables: 3 data columns + rowtime. */
case class OverT1(a: Long, b: Int, c: String, rowtime: Timestamp)

/** The reference's 5-tuple test table (TestData.tupleData5). */
case class OverT5(a: Int, b: Long, c: Int, d: String, e: Long)

/** The general-schema streaming OVER executor must reproduce the
  * reference's own IT-case results on the reference's own data
  * (reference: flink-table-planner-blink
  * .../runtime/stream/sql/OverWindowITCase.scala — the row-time shapes,
  * which partition 3-column tuples by a STRING key, aggregate arbitrary
  * columns, and include MIN/AVG/COUNT(col), none of which the Event-typed
  * trio can express), and its batch collapse must agree with Spark's own
  * window evaluation. Expected rows are the IT case's literal expected
  * lists with the LTCNT UDF column removed (user-defined aggregates are
  * out of the clause's scope here). */
class OverAggregatesSpec extends SparkSpec {

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

  // testRowTimeBoundedPartitionedRowsOver's data, Flink ms mapped to
  // minutes; the ts-3 "Hello" row moves to batch 1 (its frame is
  // event-time-order invariant) so batch 2's earliest row stays ahead of
  // the max-event-time watermark Spark derives from batch 1
  private val boundedRowsData = Seq(
    OverT1(1, 1, "Hello", ts(1)), OverT1(2, 2, "Hello", ts(2)),
    OverT1(1, 1, "Hello", ts(1)), OverT1(2, 2, "Hello", ts(2)),
    OverT1(2, 2, "Hello", ts(2)), OverT1(1, 1, "Hello", ts(1)),
    OverT1(7, 7, "Hello World", ts(3)), OverT1(7, 7, "Hello World", ts(1)),
    OverT1(7, 7, "Hello World", ts(1)), OverT1(3, 3, "Hello", ts(3)))
  private val boundedRowsData2 = Seq(
    OverT1(4, 4, "Hello", ts(4)),
    OverT1(5, 5, "Hello", ts(5)), OverT1(6, 6, "Hello", ts(6)),
    OverT1(20, 20, "Hello World", ts(20)),
    OverT1(8, 8, "Hello World", ts(8)), OverT1(7, 7, "Hello World", ts(7)))
  // OverWindowITCase.testRowTimeBoundedPartitionedRowsOver expected,
  // minus the LTCNT column: (c, a, COUNT(1), SUM(a))
  private val boundedRowsExpected = Seq(
    ("Hello", 1L, 1L, 1.0), ("Hello", 1L, 2L, 2.0), ("Hello", 1L, 3L, 3.0),
    ("Hello", 2L, 3L, 4.0), ("Hello", 2L, 3L, 5.0), ("Hello", 2L, 3L, 6.0),
    ("Hello", 3L, 3L, 7.0), ("Hello", 4L, 3L, 9.0), ("Hello", 5L, 3L, 12.0),
    ("Hello", 6L, 3L, 15.0),
    ("Hello World", 7L, 1L, 7.0), ("Hello World", 7L, 2L, 14.0),
    ("Hello World", 7L, 3L, 21.0), ("Hello World", 7L, 3L, 21.0),
    ("Hello World", 8L, 3L, 22.0), ("Hello World", 20L, 3L, 35.0))

  private val overRowsSql =
    """SELECT c, a,
      |  COUNT(1) OVER (PARTITION BY c ORDER BY rowtime
      |                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS cnt,
      |  SUM(a) OVER (PARTITION BY c ORDER BY rowtime
      |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS sum_a
      |FROM T1""".stripMargin

  test("reference testRowTimeBoundedPartitionedRowsOver, streaming, " +
    "string partition key, cross-batch frames") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[OverT1]
    val out = WindowSql.sqlDf(input.toDF(), overRowsSql)
    val q = out.writeStream.format("memory").queryName("genover1")
      .outputMode("append").start()
    input.addData(boundedRowsData: _*)
    q.processAllAvailable() // wm -> 3 min; the ts<=3 rows emit mid-stream
    input.addData(boundedRowsData2: _*)
    q.processAllAvailable()
    input.addData(OverT1(0, 0, "ZZZ", ts(100))) // close every real row
    q.processAllAvailable()
    input.addData(OverT1(0, 0, "ZZZ", ts(200)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("genover1").filter($"c" =!= "ZZZ")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got.sorted == boundedRowsExpected.sorted,
      s"streaming mismatch:\n got ${got.sorted}\nwant ${boundedRowsExpected.sorted}")
  }

  test("the same clause collapses identically in batch") {
    import spark.implicits._
    val df = (boundedRowsData ++ boundedRowsData2).toDF()
    val got = WindowSql.sqlDf(df, overRowsSql)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got.sorted == boundedRowsExpected.sorted)
  }

  test("reference testRowTimeBoundedNonPartitionedRangeOver (batch " +
    "collapse): no PARTITION BY, RANGE INTERVAL frame, COUNT(col)") {
    import spark.implicits._
    // the IT case's data: (a aggregated, b labels, c, rowtime ms)
    val data = Seq(
      (1L, 15, "Hello", 1500L), (1L, 16, "Hello", 1600L),
      (1L, 1, "Hello", 1000L), (2L, 2, "Hello", 2000L),
      (2L, 2, "Hello", 2000L), (2L, 3, "Hello", 2000L),
      (3L, 3, "Hello", 3000L), (4L, 4, "Hello", 4000L),
      (5L, 5, "Hello", 5000L), (6L, 6, "Hello", 6000L),
      (6L, 65, "Hello", 6500L), (6L, 9, "Hello", 9000L),
      (6L, 18, "Hello", 9500L), (6L, 9, "Hello", 9000L),
      (7L, 7, "Hello World", 10000L), (7L, 17, "Hello World", 11000L),
      (7L, 77, "Hello World", 11000L), (7L, 18, "Hello World", 14000L),
      (8L, 8, "Hello World", 15000L), (20L, 20, "Hello World", 20000L))
    val df = data.map { case (a, b, c, ms) =>
      OverT1(a, b, c, new Timestamp(ms))
    }.toDF()
    val got = WindowSql.sqlDf(df,
      """SELECT c, b,
        |  COUNT(a) OVER (ORDER BY rowtime RANGE BETWEEN INTERVAL '1'
        |                 SECOND PRECEDING AND CURRENT ROW) AS cnt,
        |  SUM(a) OVER (ORDER BY rowtime RANGE BETWEEN INTERVAL '1'
        |               SECOND PRECEDING AND CURRENT ROW) AS sum_a
        |FROM T1""".stripMargin)
      .as[(String, Int, Long, Double)].collect().toSeq
    val expected = Seq( // the IT case's expected list, (c, b, cnt, sum)
      ("Hello", 1, 1L, 1.0), ("Hello", 15, 2L, 2.0), ("Hello", 16, 3L, 3.0),
      ("Hello", 2, 6L, 9.0), ("Hello", 3, 6L, 9.0), ("Hello", 2, 6L, 9.0),
      ("Hello", 3, 4L, 9.0), ("Hello", 4, 2L, 7.0), ("Hello", 5, 2L, 9.0),
      ("Hello", 6, 2L, 11.0), ("Hello", 65, 2L, 12.0),
      ("Hello", 9, 2L, 12.0), ("Hello", 9, 2L, 12.0), ("Hello", 18, 3L, 18.0),
      ("Hello World", 7, 4L, 25.0), ("Hello World", 17, 3L, 21.0),
      ("Hello World", 77, 3L, 21.0), ("Hello World", 18, 1L, 7.0),
      ("Hello World", 8, 2L, 15.0), ("Hello World", 20, 1L, 20.0))
    assert(got.sorted == expected.sorted,
      s"\n got ${got.sorted}\nwant ${expected.sorted}")
  }

  test("reference testRowTimeUnBoundedPartitionedRowsOver (streaming): " +
    "MIN/MAX/AVG/COUNT(col) with a numeric partition key") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def r(msOff: Long, a: Int, b: Long, c: String) =
      OverT1(a.toLong, b.toInt, c, new Timestamp(14000000L + msOff))
    val batch1 = Seq(r(5, 1, 1, "Hi"), r(0, 2, 1, "Hello"),
      r(2, 3, 1, "Hello"), r(3, 1, 2, "Hello"), r(4, 1, 3, "Hello world"),
      r(7, 3, 2, "Hello world"), r(8, 2, 2, "Hello world"))
    val batch2 = Seq(r(12, 1, 5, "Hello world"), r(21, 1, 6, "Hello world"))
    val batch3 = Seq(r(23, 2, 5, "Hello world"), r(24, 3, 5, "Hello world"),
      r(26, 1, 7, "Hello world"), r(25, 1, 8, "Hello world"),
      r(22, 1, 9, "Hello world"))
    val input = MemoryStream[OverT1]
    val out = WindowSql.sqlDf(input.toDF(),
      """SELECT a, b, c,
        |  SUM(b) OVER w AS sum_b, COUNT(b) OVER w AS cnt_b,
        |  AVG(b) OVER w AS avg_b, MAX(b) OVER w AS max_b,
        |  MIN(b) OVER w AS min_b
        |FROM T1
        |WINDOW w AS (PARTITION BY a ORDER BY rowtime
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)
    val q = out.writeStream.format("memory").queryName("genover2")
      .outputMode("append").start()
    Seq(batch1, batch2, batch3).foreach { b =>
      input.addData(b: _*); q.processAllAvailable()
    }
    input.addData(r(1000000, 99, 0, "ZZZ")); q.processAllAvailable()
    q.stop()
    val got = spark.table("genover2").filter($"a" =!= 99)
      .as[(Long, Int, String, Double, Long, Double, Double, Double)]
      .collect().toSeq
    val expected = Seq( // the IT expected list minus LTCNT
      (1L, 2, "Hello", 2.0, 1L, 2.0 / 1, 2.0, 2.0),
      (1L, 3, "Hello world", 5.0, 2L, 5.0 / 2, 3.0, 2.0),
      (1L, 1, "Hi", 6.0, 3L, 6.0 / 3, 3.0, 1.0),
      (2L, 1, "Hello", 1.0, 1L, 1.0 / 1, 1.0, 1.0),
      (2L, 2, "Hello world", 3.0, 2L, 3.0 / 2, 2.0, 1.0),
      (3L, 1, "Hello", 1.0, 1L, 1.0 / 1, 1.0, 1.0),
      (3L, 2, "Hello world", 3.0, 2L, 3.0 / 2, 2.0, 1.0),
      (1L, 5, "Hello world", 11.0, 4L, 11.0 / 4, 5.0, 1.0),
      (1L, 6, "Hello world", 17.0, 5L, 17.0 / 5, 6.0, 1.0),
      (1L, 9, "Hello world", 26.0, 6L, 26.0 / 6, 9.0, 1.0),
      (1L, 8, "Hello world", 34.0, 7L, 34.0 / 7, 9.0, 1.0),
      (1L, 7, "Hello world", 41.0, 8L, 41.0 / 8, 9.0, 1.0),
      (2L, 5, "Hello world", 8.0, 3L, 8.0 / 3, 5.0, 1.0),
      (3L, 5, "Hello world", 8.0, 3L, 8.0 / 3, 5.0, 1.0))
    assert(got.sorted == expected.sorted,
      s"\n got ${got.sorted.mkString("\n     ")}\nwant ${expected.sorted.mkString("\n     ")}")
  }

  test("batch collapse agrees with Spark's own window evaluation, " +
    "including SQL null skipping") {
    val ev = graft.core.Catalog.load(spark, sf(), "events")
      .withColumn("v2", when(col("event_id") % 7 === 0, lit(null))
        .otherwise(col("value")))
    val got = WindowSql.sqlDf(ev,
      """SELECT user_id, event_id,
        |  COUNT(v2) OVER w AS cnt_v,
        |  ROUND(SUM(v2) OVER w, 4) AS sum_v,
        |  MIN(v2) OVER w AS min_v,
        |  ROUND(AVG(v2) OVER w, 4) AS avg_v
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin)
    val spec = "(PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)"
    val want = ev.selectExpr("user_id", "event_id",
      s"COUNT(v2) OVER $spec AS cnt_v",
      s"ROUND(SUM(v2) OVER $spec, 4) AS sum_v",
      s"MIN(v2) OVER $spec AS min_v",
      s"ROUND(AVG(v2) OVER $spec, 4) AS avg_v")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "general executor disagrees with Spark's window evaluation")
  }

  test("reference testProcTimeBoundedPartitionedRowsOver (streaming): " +
    "proc-time ROWS frame with SUM/MIN on the 5-tuple table") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val data = Seq(
      OverT5(1, 1L, 0, "Hallo", 1L), OverT5(2, 2L, 1, "Hallo Welt", 2L),
      OverT5(2, 3L, 2, "Hallo Welt wie", 1L),
      OverT5(3, 4L, 3, "Hallo Welt wie gehts?", 2L),
      OverT5(3, 5L, 4, "ABC", 2L), OverT5(3, 6L, 5, "BCD", 3L),
      OverT5(4, 7L, 6, "CDE", 2L), OverT5(4, 8L, 7, "DEF", 1L),
      OverT5(4, 9L, 8, "EFG", 1L), OverT5(4, 10L, 9, "FGH", 2L),
      OverT5(5, 11L, 10, "GHI", 1L), OverT5(5, 12L, 11, "HIJ", 3L),
      OverT5(5, 13L, 12, "IJK", 3L), OverT5(5, 14L, 13, "JKL", 2L),
      OverT5(5, 15L, 14, "KLM", 2L))
    val q = """SELECT a,
              |  SUM(c) OVER w AS sum_c, MIN(c) OVER w AS min_c
              |FROM MyTable
              |WINDOW w AS (PARTITION BY a ORDER BY proctime, c
              |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[OverT5]
    val out = WindowSql.sqlDf(input.toDF(), q)
    val query = out.writeStream.format("memory").queryName("genproc")
      .outputMode("append").start()
    // group a=4's ring crosses the batch boundary (c=6,7 | c=8,9)
    input.addData(data.take(8): _*); query.processAllAvailable()
    input.addData(data.drop(8): _*); query.processAllAvailable()
    query.stop() // proc-time emits immediately: no sentinel needed
    val got = spark.table("genproc").as[(Int, Double, Double)]
      .collect().toSeq
    val expected = Seq( // the IT case's expected list: (a, SUM(c), MIN(c))
      (1, 0.0, 0.0), (2, 1.0, 1.0), (2, 3.0, 1.0),
      (3, 3.0, 3.0), (3, 7.0, 3.0), (3, 12.0, 3.0),
      (4, 6.0, 6.0), (4, 13.0, 6.0), (4, 21.0, 6.0), (4, 30.0, 6.0),
      (5, 10.0, 10.0), (5, 21.0, 10.0), (5, 33.0, 10.0),
      (5, 46.0, 10.0), (5, 60.0, 10.0))
    assert(got.sorted == expected.sorted,
      s"\n got ${got.sorted}\nwant ${expected.sorted}")
    // batch collapse: the whole input is one arrival sequence
    val batchGot = WindowSql.sqlDf(data.toDF(), q)
      .as[(Int, Double, Double)].collect().toSeq
    assert(batchGot.sorted == expected.sorted)
  }

  test("contracts fail loudly: proctime RANGE UNBOUNDED, non-numeric " +
    "SUM, unknown column") {
    import spark.implicits._
    val df = boundedRowsData.toDF()
    // bounded proc-time RANGE routes to procRangeAggregates (r13); the
    // UNBOUNDED peer form remains outside the proc-time contract
    val e1 = intercept[RuntimeException](WindowSql.sqlDf(df,
      """SELECT c, COUNT(1) OVER (PARTITION BY c ORDER BY proctime
        |RANGE UNBOUNDED PRECEDING) AS cnt
        |FROM T1""".stripMargin))
    assert(e1.getMessage.contains("proc-time"))
    val e2 = intercept[Exception](WindowSql.sqlDf(df,
      """SELECT c, SUM(c) OVER (PARTITION BY a ORDER BY rowtime
        |ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS s FROM T1""".stripMargin)
      .collect())
    assert(e2.getMessage.toLowerCase.contains("numeric"))
    val e3 = intercept[Exception](WindowSql.sqlDf(df,
      """SELECT nope, COUNT(1) OVER (PARTITION BY c ORDER BY rowtime
        |ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS cnt FROM T1""".stripMargin))
    // Spark's analyzer resolves the pass-through columns and names the
    // unknown one
    assert(e3.getMessage.contains("UNRESOLVED_COLUMN") &&
      e3.getMessage.contains("nope"), e3.getMessage)
  }

  test("decimal inputs stay decimal-exact through the frame fold " +
    "(ROWS and UNBOUNDED), AVG derives from the exact sum") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    import spark.implicits._
    import OverAggregates.Agg
    // 0.10 + 0.20 is the canonical double-accumulation trap: the double
    // path yields 0.30000000000000004, the decimal path exactly 0.30
    val df = Seq((1, "0.10"), (2, "0.20"), (3, "0.30"))
      .toDF("id", "s")
      .withColumn("price", col("s").cast(DecimalType(12, 2))).drop("s")
    val aggs = Seq(Agg("SUM", Some("price"), "sum_p"),
      Agg("MIN", Some("price"), "min_p"), Agg("AVG", Some("price"), "avg_p"))
    val out = OverAggregates.overAggregates(df, Nil, Seq("id"),
      OverAggregates.RowsPreceding(2), aggs)
    assert(out.schema("sum_p").dataType == DecimalType(38, 2))
    assert(out.schema("min_p").dataType == DecimalType(12, 2))
    assert(out.schema("avg_p").dataType == DoubleType)
    val got = out.orderBy("id").collect().map(r =>
      (r.getAs[java.math.BigDecimal]("sum_p").stripTrailingZeros,
        r.getAs[java.math.BigDecimal]("min_p").stripTrailingZeros,
        r.getAs[Double]("avg_p")))
    def d(s: String) = new java.math.BigDecimal(s).stripTrailingZeros
    assert(got(1)._1 == d("0.30"), s"exact decimal sum, got ${got(1)._1}")
    assert(got(2)._1 == d("0.60"))
    assert(got.map(_._2).toSeq == Seq(d("0.10"), d("0.10"), d("0.10")))
    // AVG = correctly-rounded double of the EXACT sum, divided by n
    assert(got(1)._3 == new java.math.BigDecimal("0.30").doubleValue() / 2)
    // unbounded accumulators take the same decimal path
    val unb = OverAggregates.overAggregates(df, Nil, Seq("id"),
      OverAggregates.UnboundedPreceding, aggs)
      .orderBy("id").collect()
      .map(_.getAs[java.math.BigDecimal]("sum_p").stripTrailingZeros)
    assert(unb.toSeq == Seq(d("0.10"), d("0.30"), d("0.60")))
  }

  test("idleTtl: an idle key's state expires and a later row starts a " +
    "fresh frame; stream equals the batch collapse with gap semantics") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import OverAggregates.{Agg, RowsPreceding}
    val ttl = java.time.Duration.ofMinutes(10)
    // key "a": rows at 1,2,3 min, then a 20-min gap (>= ttl) to 23 min —
    // the 23-min row must frame alone; key "b" stays dense (never resets)
    val data = Seq(
      OverT1(1, 1, "a", ts(1)), OverT1(2, 2, "a", ts(2)),
      OverT1(3, 3, "a", ts(3)), OverT1(9, 9, "a", ts(23)),
      OverT1(4, 4, "b", ts(1)), OverT1(5, 5, "b", ts(8)),
      OverT1(6, 6, "b", ts(16)), OverT1(7, 7, "b", ts(23)))
    val aggs = Seq(Agg("COUNT", None, "cnt_w"), Agg("SUM", Some("a"), "sum_a"))
    def run(df: org.apache.spark.sql.DataFrame) =
      OverAggregates.overAggregates(df, Seq("c"), Seq("rowtime", "a"),
        RowsPreceding(2), aggs, idleTtl = Some(ttl))
    // batch collapse applies the same in-band gap reset deterministically
    val batch = run(data.toDF()).select("c", "a", "cnt_w", "sum_a")
      .as[(String, Long, Long, Double)].collect().toSet
    assert(batch.contains(("a", 9L, 1L, 9.0)),
      s"post-gap row must start a fresh frame, got $batch")
    assert(batch.contains(("b", 7L, 3L, 18.0)),
      "dense key must keep its full frame")
    // streaming: state expires via the event-time timer; the late-epoch
    // row then folds against empty state — identical output
    implicit val sq = spark.sqlContext
    val input = MemoryStream[OverT1]
    val q = run(input.toDF()).select("c", "a", "cnt_w", "sum_a")
      .writeStream.format("memory").queryName("genttl")
      .outputMode("append").start()
    input.addData(data.filter(_.rowtime.before(ts(10))): _*)
    q.processAllAvailable()
    input.addData(data.filterNot(_.rowtime.before(ts(10))): _*)
    q.processAllAvailable()
    input.addData(OverT1(0, 0, "zz", ts(100))); q.processAllAvailable()
    input.addData(OverT1(0, 0, "zz", ts(200))); q.processAllAvailable()
    q.stop()
    val stream = spark.table("genttl").as[(String, Long, Long, Double)]
      .collect().toSet.filter(r => r._1 == "a" || r._1 == "b")
    assert(stream == batch, s"\nstream $stream\nbatch  $batch")
  }

  test("non-comparable ORDER BY / tie-break columns fail up front, " +
    "not mid-query") {
    import org.apache.spark.sql.functions.{array, col, struct}
    import spark.implicits._
    // array and struct external types (Seq / Row) carry no runtime
    // Comparable — the old behavior was a ClassCastException inside the
    // executor; the contract is now a loud require at the entry point
    val df = Seq((1, 2.0), (2, 3.0)).toDF("a", "v")
      .withColumn("arr", array(col("a")))
      .withColumn("st", struct(col("a")))
    val agg = Seq(OverAggregates.Agg("SUM", Some("v"), "s"))
    val e1 = intercept[IllegalArgumentException](
      OverAggregates.procRowsAggregates(df, Seq("a"), Seq("arr"), 2, agg))
    assert(e1.getMessage.contains("non-comparable"))
    val e2 = intercept[IllegalArgumentException](
      OverAggregates.overAggregates(df, Seq("a"), Seq("st"),
        OverAggregates.RowsPreceding(2), agg))
    assert(e2.getMessage.contains("non-comparable"))
    // the general-schema MATCH_RECOGNIZE paths share the gate
    val e3 = intercept[IllegalArgumentException](
      MatchRecognizeSql.sqlDf(df,
        """SELECT * FROM T MATCH_RECOGNIZE (
          |  PARTITION BY a ORDER BY arr
          |  MEASURES FIRST(B.v) AS fv
          |  PATTERN (B) DEFINE B AS B.v > 0) AS M""".stripMargin))
    assert(e3.getMessage.contains("non-comparable"))
  }

  // testRowTimeUnBoundedPartitionedRangeOver's data (a, b, c, rowtime
  // ms), minus its LTCNT UDF measure (a user aggregate; dropping a
  // MEASURE changes no frame)
  private def msTs(ms: Long) = new Timestamp(ms)
  private val rangeUnbData1 = Seq(
    OverT1(1, 1, "Hi", msTs(14000005L)),
    OverT1(2, 1, "Hello", msTs(14000000L)),
    OverT1(1, 1, "Hello", msTs(14000002L)),
    OverT1(1, 2, "Hello", msTs(14000002L)),
    OverT1(1, 3, "Hello world", msTs(14000002L)),
    OverT1(2, 2, "Hello world", msTs(14000003L)),
    OverT1(2, 3, "Hello world", msTs(14000003L)))
  private val rangeUnbData2 = Seq(
    OverT1(1, 4, "Hello world", msTs(14000021L)),
    OverT1(1, 5, "Hello world", msTs(14000022L)),
    OverT1(1, 6, "Hello world", msTs(14000022L)),
    OverT1(1, 7, "Hello world", msTs(14000022L)),
    OverT1(2, 4, "Hello world", msTs(14000023L)),
    OverT1(2, 5, "Hello world", msTs(14000023L)))
  // OverWindowITCase.testRowTimeUnBoundedPartitionedRangeOver expected
  // minus the LTCNT column: (a, b, c, SUM, COUNT, AVG, MAX, MIN)
  private val rangeUnbExpected = Seq(
    (1L, 1, "Hello", 6.0, 3L, 2.0, 3.0, 1.0),
    (1L, 2, "Hello", 6.0, 3L, 2.0, 3.0, 1.0),
    (1L, 3, "Hello world", 6.0, 3L, 2.0, 3.0, 1.0),
    (1L, 1, "Hi", 7.0, 4L, 1.75, 3.0, 1.0),
    (2L, 1, "Hello", 1.0, 1L, 1.0, 1.0, 1.0),
    (2L, 2, "Hello world", 6.0, 3L, 2.0, 3.0, 1.0),
    (2L, 3, "Hello world", 6.0, 3L, 2.0, 3.0, 1.0),
    (1L, 4, "Hello world", 11.0, 5L, 2.2, 4.0, 1.0),
    (1L, 5, "Hello world", 29.0, 8L, 3.625, 7.0, 1.0),
    (1L, 6, "Hello world", 29.0, 8L, 3.625, 7.0, 1.0),
    (1L, 7, "Hello world", 29.0, 8L, 3.625, 7.0, 1.0),
    (2L, 4, "Hello world", 15.0, 5L, 3.0, 5.0, 1.0),
    (2L, 5, "Hello world", 15.0, 5L, 3.0, 5.0, 1.0))

  private val rangeUnbSql =
    """SELECT a, b, c,
      |  SUM(b) OVER w AS sum_b,
      |  COUNT(b) OVER w AS cnt_b,
      |  AVG(b) OVER w AS avg_b,
      |  MAX(b) OVER w AS max_b,
      |  MIN(b) OVER w AS min_b
      |FROM T1
      |WINDOW w AS (PARTITION BY a ORDER BY rowtime
      |             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  test("reference testRowTimeUnBoundedPartitionedRangeOver, streaming: " +
    "RANGE UNBOUNDED peers share one frame including all of them " +
    "(OverWindowITCase.scala:551-613)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[OverT1]
    val out = WindowSql.sqlDf(input.toDF(), rangeUnbSql)
    val q = out.writeStream.format("memory").queryName("rangeunb")
      .outputMode("append").start()
    input.addData(rangeUnbData1: _*); q.processAllAvailable()
    input.addData(rangeUnbData2: _*); q.processAllAvailable()
    input.addData(OverT1(0, 0, "ZZZ", msTs(15000000L))); q.processAllAvailable()
    input.addData(OverT1(0, 0, "ZZZ", msTs(16000000L))); q.processAllAvailable()
    q.stop()
    val got = spark.table("rangeunb").filter($"c" =!= "ZZZ")
      .as[(Long, Int, String, Double, Long, Double, Double, Double)]
      .collect().toSeq
    assert(got.sorted == rangeUnbExpected.sorted,
      s"got ${got.sorted}\nwant ${rangeUnbExpected.sorted}")
  }

  test("reference testRowTimeDistinctUnboundedPartitionedRangeOverWith" +
    "NullValues: COUNT(DISTINCT c) over a nullable STRING, peers + " +
    "null-skipping (OverWindowITCase.scala:898-941, minus its UDF column)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // (a=partition b, b=ts index, c nullable string); rowtime = ts secs
    def sTs(s: Long) = new Timestamp(s * 1000L)
    val data = Seq(
      OverT1(1, 1, null, sTs(1)), OverT1(1, 2, null, sTs(2)),
      OverT1(2, 3, null, sTs(3)), OverT1(1, 4, "Hello", sTs(4)),
      OverT1(1, 5, "Hello", sTs(5)), OverT1(2, 6, "Hello", sTs(6)),
      OverT1(1, 7, "Hello World", sTs(7)), OverT1(2, 8, "Hello World", sTs(8)),
      OverT1(2, 9, "Hello World", sTs(9)), OverT1(1, 10, null, sTs(10)))
    val sql =
      """SELECT c, a, COUNT(DISTINCT c) OVER (PARTITION BY a
        |  ORDER BY rowtime RANGE UNBOUNDED PRECEDING) AS dc
        |FROM T""".stripMargin
    val input = MemoryStream[OverT1]
    val q = WindowSql.sqlDf(input.toDF(), sql)
      .writeStream.format("memory").queryName("distover")
      .outputMode("append").start()
    input.addData(data.take(5): _*); q.processAllAvailable()
    input.addData(data.drop(5): _*); q.processAllAvailable()
    input.addData(OverT1(0, 0, "ZZZ", sTs(100))); q.processAllAvailable()
    input.addData(OverT1(0, 0, "ZZZ", sTs(200))); q.processAllAvailable()
    q.stop()
    val got = spark.table("distover").filter($"a" =!= 0L)
      .as[(String, Long, Long)].collect().toSeq
    // the IT's expected rows (":936-940"), minus the CntNullNonNull col
    val want = Seq(
      (null, 1L, 0L), (null, 1L, 0L), (null, 2L, 0L), (null, 1L, 2L),
      ("Hello", 1L, 1L), ("Hello", 1L, 1L), ("Hello", 2L, 1L),
      ("Hello World", 1L, 2L), ("Hello World", 2L, 2L),
      ("Hello World", 2L, 2L))
    assert(got.sortBy(r => (r._2, r._3, Option(r._1).getOrElse(""))) ==
      want.sortBy(r => (r._2, r._3, Option(r._1).getOrElse(""))),
      s"got $got")
    // batch collapse agrees
    val batch = WindowSql.sqlDf(data.toDF(), sql)
      .as[(String, Long, Long)].collect().toSeq
    assert(batch.sortBy(r => (r._2, r._3, Option(r._1).getOrElse(""))) ==
      want.sortBy(r => (r._2, r._3, Option(r._1).getOrElse(""))))
  }

  test("DISTINCT aggregates over bounded frames: the frame recompute " +
    "dedupes; SUM(DISTINCT)/AVG(DISTINCT) match DuckDB-style semantics") {
    import spark.implicits._
    def sTs(s: Long) = new Timestamp(s * 1000L)
    // values 10,10,20,20,10 — sliding 3-row frames
    val df = Seq((1, 10.0), (2, 10.0), (3, 20.0), (4, 20.0), (5, 10.0))
      .map { case (i, v) => OverT1(1, i, "x", sTs(i)) -> v }
      .map { case (t, v) => (t.a, t.b, v, t.rowtime) }
      .toDF("a", "b", "v", "rowtime")
    val got = WindowSql.sqlDf(df,
      """SELECT b, COUNT(DISTINCT v) OVER w AS dc,
        |  SUM(DISTINCT v) OVER w AS ds
        |FROM T
        |WINDOW w AS (PARTITION BY a ORDER BY rowtime, b
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin)
      .as[(Int, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1, 1L, 10.0), (2, 1L, 10.0), (3, 2L, 30.0),
      (4, 2L, 30.0), (5, 2L, 30.0)), s"got $got")
    // the native route never takes DISTINCT (Spark WindowExec rejects it)
    val native = WindowSql.sqlDf(df,
      """SELECT b, COUNT(DISTINCT v) OVER w AS dc
        |FROM T
        |WINDOW w AS (PARTITION BY a ORDER BY rowtime, b
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin,
      batchNative = true)
    assert(native.as[(Int, Long)].collect().sortBy(_._1).toSeq ==
      Seq((1, 1L), (2, 1L), (3, 2L), (4, 2L), (5, 2L)))
    // MIN(DISTINCT) is accepted and equals the plain MIN (SQL; the
    // reference's proc-time distinct IT uses it)
    val m = WindowSql.sqlDf(df,
      """SELECT b, MIN(DISTINCT v) OVER (PARTITION BY a ORDER BY rowtime, b
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS m
        |FROM T""".stripMargin)
    assert(m.as[(Int, Double)].collect().sortBy(_._1).toSeq ==
      Seq((1, 10.0), (2, 10.0), (3, 10.0), (4, 10.0), (5, 10.0)))
  }

  test("MIN/MAX(DISTINCT) over UNBOUNDED frames: normalized to the plain " +
    "aggregates at entry (extrema are dedup-invariant), so the running " +
    "accumulators serve them — streaming, batch collapse and native route") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def sTs(s: Long) = new Timestamp(s * 1000L)
    val data = Seq(
      OverT1(1, 3, "x", sTs(1)), OverT1(1, 1, "x", sTs(2)),
      OverT1(1, 3, "x", sTs(3)), OverT1(1, 2, "x", sTs(4)))
    val rowsSql =
      """SELECT b, MIN(DISTINCT b) OVER w AS mn, MAX(DISTINCT b) OVER w AS mx
        |FROM T
        |WINDOW w AS (PARTITION BY a ORDER BY rowtime
        |  ROWS UNBOUNDED PRECEDING)""".stripMargin
    val want = Seq((3, 3.0, 3.0), (1, 1.0, 3.0), (3, 1.0, 3.0), (2, 1.0, 3.0))
    // streaming across two micro-batches (the formerly-crashing path:
    // unboundedOut hit sys.error on a distinct MIN/MAX)
    val input = MemoryStream[OverT1]
    val q = WindowSql.sqlDf(input.toDF(), rowsSql)
      .writeStream.format("memory").queryName("distunb")
      .outputMode("append").start()
    input.addData(data.take(2): _*); q.processAllAvailable()
    input.addData(data.drop(2): _*); q.processAllAvailable()
    input.addData(OverT1(0, 0, "ZZZ", sTs(100))); q.processAllAvailable()
    input.addData(OverT1(0, 0, "ZZZ", sTs(200))); q.processAllAvailable()
    q.stop()
    val got = spark.table("distunb").filter($"b" =!= 0)
      .as[(Int, Double, Double)].collect().toSeq
    assert(got.sorted == want.sorted, s"got $got")
    // batch: executor collapse and the native WindowExec route agree
    // (normalization makes MIN/MAX(DISTINCT) native-eligible)
    for (native <- Seq(false, true)) {
      val b = WindowSql.sqlDf(data.toDF(), rowsSql,
        batchNative = native).as[(Int, Double, Double)].collect().toSeq
      assert(b.sorted == want.sorted, s"native=$native got $b")
    }
    // RANGE UNBOUNDED (peer semantics) takes the same normalized path
    val r = WindowSql.sqlDf(data.toDF(),
      """SELECT b, MAX(DISTINCT b) OVER (PARTITION BY a ORDER BY rowtime
        |  RANGE UNBOUNDED PRECEDING) AS mx
        |FROM T""".stripMargin, batchNative = false)
    assert(r.as[(Int, Double)].collect().toSeq.sorted ==
      Seq((1, 3.0), (2, 3.0), (3, 3.0), (3, 3.0)).sorted)
  }

  test("general proc-time RANGE frames: same-batch rows are peers " +
    "sharing one aggregate; entries older than the horizon retire " +
    "(injected clock)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def sTs(s: Long) = new Timestamp(s * 1000L)
    // JVM-static logical clock (ProcClockProbe): the closure must resolve
    // to the SAME object after task deserialization for set() to be seen
    val clock = ProcClockProbe.now
    val input = MemoryStream[OverT1]
    val out = OverAggregates.procRangeAggregates(input.toDF(), Seq("c"),
      Seq("b"), java.time.Duration.ofSeconds(15),
      Seq(OverAggregates.Agg("COUNT", None, "n"),
        OverAggregates.Agg("MIN", Some("b"), "mn")),
      procClock = () => ProcClockProbe.now.get())
      .select($"b", $"n", $"mn")
    val q = out.writeStream.format("memory").queryName("procrange")
      .outputMode("append").start()
    // batch 1 at t=0: two peers share one frame {1,2}
    clock.set(0L)
    input.addData(OverT1(1, 1, "k", sTs(1)), OverT1(1, 2, "k", sTs(2)))
    q.processAllAvailable()
    // batch 2 at t=10s (inside the 15s horizon): frame {1,2,3}
    clock.set(10000L)
    input.addData(OverT1(1, 3, "k", sTs(3)))
    q.processAllAvailable()
    // batch 3 at t=20s: the t=0 entries retired (20s-ago > 15s horizon),
    // the t=10s entry survives — frame {3,4}
    clock.set(20000L)
    input.addData(OverT1(1, 4, "k", sTs(4)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("procrange")
      .as[(Int, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1, 2L, 1.0), (2, 2L, 1.0), (3, 3L, 1.0),
      (4, 2L, 3.0)), s"got $got")
    // batch collapse: one batch is one instant — whole-partition peers
    val batch = OverAggregates.procRangeAggregates(
      Seq(OverT1(1, 1, "k", sTs(1)), OverT1(1, 2, "k", sTs(2)),
        OverT1(2, 9, "j", sTs(3))).toDF(), Seq("c"), Seq("b"),
      java.time.Duration.ofHours(1),
      Seq(OverAggregates.Agg("COUNT", None, "n")))
      .select($"b", $"n").as[(Int, Long)].collect().toSeq.sorted
    assert(batch == Seq((1, 2L), (2, 2L), (9, 1L)), s"got $batch")
  }

  test("cross-batch tied peers: RANGE peer-frame integrity holds under " +
    "micro-batching — peers pending together flush in one invocation " +
    "with one shared frame, and a tied peer arriving after the watermark " +
    "reached its timestamp is dropped by Spark's late filter BEFORE the " +
    "operator (the reference's late-row discipline), so no emitted peer " +
    "ever sees a smaller frame than its twin") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def sTs(s: Long) = new Timestamp(s * 1000L)
    // (1) peers arriving in DIFFERENT batches while both still ahead of
    // the watermark (5s delay keeps wm at 5s after the first peer) share
    // one frame when they flush together
    val input = MemoryStream[OverT1]
    val q = OverAggregates.overAggregates(input.toDF(), Seq("a"),
      Seq("rowtime"), OverAggregates.RangeUnbounded,
      Seq(OverAggregates.Agg("COUNT", None, "n")), delay = "5 seconds")
      .select("b", "n")
      .writeStream.format("memory").queryName("peersplit")
      .outputMode("append").start()
    input.addData(OverT1(1, 1, "x", sTs(10))); q.processAllAvailable()
    input.addData(OverT1(1, 2, "x", sTs(10))); q.processAllAvailable()
    // watermark passes 10s: both peers flush in one invocation
    input.addData(OverT1(0, 0, "Z", sTs(100))); q.processAllAvailable()
    // (2) a tied peer arriving AFTER the watermark passed 10s is late:
    // Spark drops it before the operator, so it cannot retro-split the
    // already-emitted peer frame (same as the reference's late-row drop)
    input.addData(OverT1(1, 3, "x", sTs(10))); q.processAllAvailable()
    input.addData(OverT1(0, 0, "Z", sTs(200))); q.processAllAvailable()
    q.stop()
    val got = spark.table("peersplit").filter($"b" =!= 0)
      .as[(Int, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1, 2L), (2, 2L)),
      s"got $got — tied peers must share one frame; the late third " +
        "peer must be dropped, not emitted with a bigger frame")
  }

  test("reference testProcTimeDistinctBoundedPartitionedRowsOver: " +
    "SUM/MIN(DISTINCT e) over an arrival-order ROWS frame " +
    "(OverWindowITCase.scala:944-981, minus its COLLECT column)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val data = Seq(
      OverT5(1, 1L, 0, "Hallo", 1L), OverT5(2, 2L, 1, "Hallo Welt", 2L),
      OverT5(2, 3L, 2, "Hallo Welt wie", 1L),
      OverT5(3, 4L, 3, "Hallo Welt wie gehts?", 2L),
      OverT5(3, 5L, 4, "ABC", 2L), OverT5(3, 6L, 5, "BCD", 3L),
      OverT5(4, 7L, 6, "CDE", 2L), OverT5(4, 8L, 7, "DEF", 1L),
      OverT5(4, 9L, 8, "EFG", 1L), OverT5(4, 10L, 9, "FGH", 2L),
      OverT5(5, 11L, 10, "GHI", 1L), OverT5(5, 12L, 11, "HIJ", 3L),
      OverT5(5, 13L, 12, "IJK", 3L), OverT5(5, 14L, 13, "JKL", 2L),
      OverT5(5, 15L, 14, "KLM", 2L))
    val q = """SELECT a,
              |  SUM(DISTINCT e) OVER w AS sd,
              |  MIN(DISTINCT e) OVER w AS md
              |FROM MyTable
              |WINDOW w AS (PARTITION BY a ORDER BY proctime, b
              |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[OverT5]
    val query = WindowSql.sqlDf(input.toDF(), q)
      .writeStream.format("memory").queryName("procdist")
      .outputMode("append").start()
    input.addData(data.take(8): _*); query.processAllAvailable()
    input.addData(data.drop(8): _*); query.processAllAvailable()
    query.stop()
    val got = spark.table("procdist")
      .as[(Int, Double, Double)].collect().toSeq
    // the IT's expected (":963-977") minus the COLLECT column
    val want = Seq(
      (1, 1.0, 1.0), (2, 2.0, 2.0), (2, 3.0, 1.0), (3, 2.0, 2.0),
      (3, 2.0, 2.0), (3, 5.0, 2.0), (4, 2.0, 2.0), (4, 3.0, 1.0),
      (4, 3.0, 1.0), (4, 3.0, 1.0), (5, 1.0, 1.0), (5, 4.0, 1.0),
      (5, 4.0, 1.0), (5, 6.0, 1.0), (5, 5.0, 2.0))
    assert(got.sorted == want.sorted, s"got ${got.sorted}")
  }

  test("RANGE UNBOUNDED batch collapse and native WindowExec agree with " +
    "the reference rows; the ROWS twin differs exactly on the tied rows") {
    import spark.implicits._
    val df = (rangeUnbData1 ++ rangeUnbData2).toDF()
    val exec = WindowSql.sqlDf(df, rangeUnbSql, batchNative = false)
      .as[(Long, Int, String, Double, Long, Double, Double, Double)]
      .collect().toSeq
    assert(exec.sorted == rangeUnbExpected.sorted)
    val native = WindowSql.sqlDf(df, rangeUnbSql, batchNative = true)
      .as[(Long, Int, String, Double, Long, Double, Double, Double)]
      .collect().toSeq
    assert(native.sorted == rangeUnbExpected.sorted)
    // ROWS UNBOUNDED must NOT share frames across the ties
    val rows = WindowSql.sqlDf(df,
      rangeUnbSql.replace("RANGE BETWEEN", "ROWS BETWEEN"),
      batchNative = false)
      .as[(Long, Int, String, Double, Long, Double, Double, Double)]
      .collect().toSeq
    assert(rows.sorted != rangeUnbExpected.sorted)
    assert(rows.map(_._5).max == 8L) // same row count overall
  }
}
