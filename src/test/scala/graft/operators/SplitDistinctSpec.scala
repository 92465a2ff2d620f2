package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.streaming.Events.Event

/** The split-distinct rewrite on a skewed STREAM: a hot key's distinct
  * set spreads over (key, bucket) level-1 state cells, the chained
  * level-2 aggregation sums them per window, and the result equals the
  * plain COUNT(DISTINCT) — exactness under skew is the whole point of
  * the rewrite (reference SplitAggregateRule). */
class SplitDistinctSpec extends SparkSpec {

  private def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  test("two-level distinct count on a hot key equals the plain distinct count") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val out = Aggregates.splitDistinctCountWindowed(input.toDF(),
      "ts", "user_id", "value", window = "5 minutes", delay = "0 seconds",
      nBuckets = 4)
      .select(col("user_id"), col("window.start").as("ws"), col("n_distinct"))
    val q = out.writeStream.format("memory").queryName("sdc")
      .outputMode("append").start()
    // hot key: user 1 sees 20 distinct values, each twice (40 rows in one
    // window); user 2 sees 2 distinct values with a duplicate
    val hot = (0 until 20).flatMap(i => Seq(
      Event(1, 100 + i, ts(i % 5), "view", i.toDouble),
      Event(1, 200 + i, ts(i % 5), "view", i.toDouble)))
    val cold = Seq(
      Event(2, 301, ts(1), "view", 7.0),
      Event(2, 302, ts(2), "view", 7.0),
      Event(2, 303, ts(3), "view", 9.0))
    input.addData(hot ++ cold: _*)
    q.processAllAvailable()
    // the [10:00, 10:05) window is still open under the watermark:
    // append emits nothing yet
    assert(spark.table("sdc").isEmpty,
      "append-mode chained aggregation emitted before the window closed")
    input.addData(Event(9, 900, ts(30), "view", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sdc")
      .select(col("user_id"), col("n_distinct")).as[(Long, Long)]
      .collect().toMap
    assert(got(1L) == 20L, s"hot key must count 20 exact distincts: $got")
    assert(got(2L) == 2L, s"cold key must count 2 exact distincts: $got")
  }

  test("batch collapse equals a plain count distinct group-by") {
    import spark.implicits._
    val df = Seq(
      (1L, "a"), (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "a")).toDF("k", "x")
    val got = Aggregates.splitDistinctCount(df, Seq("k"), "x", nBuckets = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 1L))
  }
}
