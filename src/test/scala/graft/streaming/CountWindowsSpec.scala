package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** The count-window executor must agree with independent references on
  * the Event table — the native batch tumble plan and Spark's own ROWS
  * window for the slide — and fold identically across micro-batch
  * boundaries. */
class CountWindowsSpec extends SparkSpec {

  test("general tumble equals the native batch tumble on the events table") {
    val ev = graft.core.Catalog.load(spark, sf(), "events")
      .select("user_id", "event_id", "ts", "event_type", "value")
    // double sums: the native partial aggregation associates differently
    // from the executor's sequential fold in the last ulp — compare at 4dp
    def project(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("win_seq"), col("n_rows"),
        round(col("sum_v"), 4).as("sum_v"), col("first_id"), col("last_id"))
      .orderBy(col("user_id"), col("win_seq"))
    val want = project(CountWindows.countTumbleBatchNative(ev, Seq("user_id"),
      Seq("ts", "event_id"), 3, "value", "event_id"))
    val got = project(CountWindows.countTumble(ev, Seq("user_id"),
      Seq("ts", "event_id"), 3, "value", "event_id"))
    assert(rows(got) == rows(want))
    assert(rows(got).nonEmpty)
  }

  test("general slide equals Spark's ROWS 4 PRECEDING window") {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.core.Catalog.load(spark, sf(), "events")
      .select("user_id", "event_id", "ts", "event_type", "value")
    // size 5, slide 2: the window of the 5 most recent rows completes at
    // the 5th row and every 2nd row after it
    val byTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val frame = byTime.rowsBetween(-4, 0)
    val want = ev
      .withColumn("rn", row_number().over(byTime))
      .withColumn("n_rows", count(lit(1)).over(frame))
      .withColumn("sum_v", round(sum(col("value")).over(frame), 4))
      .withColumn("first_id", first(col("event_id")).over(frame))
      .filter(col("rn") >= 5 && (col("rn") - 5) % 2 === 0)
      .select(col("user_id"), ((col("rn") - 5) / 2).cast("long").as("win_seq"),
        col("n_rows"), col("sum_v"), col("first_id"),
        col("event_id").as("last_id"))
      .orderBy(col("user_id"), col("win_seq"))
    val got = CountWindows.countSlide(ev, Seq("user_id"),
      Seq("ts", "event_id"), 5, 2, "value", "event_id")
      .select(col("user_id"), col("win_seq"), col("n_rows"),
        round(col("sum_v"), 4).as("sum_v"), col("first_id"), col("last_id"))
      .orderBy(col("user_id"), col("win_seq"))
    assert(rows(got) == rows(want))
    assert(rows(got).nonEmpty)
  }

  test("the native batch tumble is row-identical to the executor's " +
    "collapse on decimal values") {
    import org.apache.spark.sql.types.DecimalType
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
      .withColumn("qty", col("l_quantity").cast(DecimalType(18, 2)))
    val keys = Seq("l_linenumber", "l_partkey", "l_suppkey")
    val exec = CountWindows.countTumble(li, Seq("l_orderkey"), keys, 3,
      "qty", "l_linenumber").orderBy(col("l_orderkey"), col("win_seq"))
    val native = CountWindows.countTumbleBatchNative(li, Seq("l_orderkey"),
      keys, 3, "qty", "l_linenumber")
      .orderBy(col("l_orderkey"), col("win_seq"))
    assert(exec.schema.map(f => (f.name, f.dataType)) ==
      native.schema.map(f => (f.name, f.dataType)))
    assert(rows(native) == rows(exec))
    assert(rows(native).nonEmpty)
  }

  test("streaming: windows crossing the batch boundary complete exactly " +
    "once, equal to the batch collapse") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // 2 keys x 7 rows, tumble 3: windows 0 and 1 complete, 1 row pending
    val data = (1 to 7).flatMap(i => Seq(
      RankT3(i, 1L, "x"), RankT3(i + 100, 2L, "y")))
    val input = MemoryStream[RankT3]
    val q = CountWindows.countTumble(input.toDF(), Seq("b"), Seq("a"),
      3, "a", "a")
      .writeStream.format("memory").queryName("cwstream")
      .outputMode("append").start()
    input.addData(data.take(7): _*); q.processAllAvailable()
    input.addData(data.drop(7): _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("cwstream")
      .select("b", "win_seq", "n_rows", "sum_v", "first_id", "last_id")
      .as[(Long, Long, Long, Double, Int, Int)].collect().toSet
    val want = CountWindows.countTumble(data.toDF(), Seq("b"), Seq("a"),
      3, "a", "a")
      .select("b", "win_seq", "n_rows", "sum_v", "first_id", "last_id")
      .as[(Long, Long, Long, Double, Int, Int)].collect().toSet
    assert(got == want, s"\ngot  $got\nwant $want")
    assert(got.size == 4) // 2 keys x 2 complete windows
  }
}
