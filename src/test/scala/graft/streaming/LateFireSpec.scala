package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.Events.Event

/** Emission-sequence spec for the allowed-lateness windowed aggregate
  * ([[WindowAggAny.earlyLateFireWindowAgg]] in q110's shape: events keyed
  * by user_id, COUNT/SUM(value)): partials while open, one final on
  * close, an UPDATED final (`is_final = 2`) for a row arriving inside
  * the allowed-lateness horizon, and silence once the horizon passes. */
class LateFireSpec extends SparkSpec {

  private def lateFireWindowAgg(events: org.apache.spark.sql.Dataset[Event],
      window: java.time.Duration, earlyFire: String = "1 second",
      delay: java.time.Duration, allowedLateness: java.time.Duration)
      : org.apache.spark.sql.Dataset[WindowFire] = {
    import spark.implicits._
    WindowAggAny.earlyLateFireWindowAgg(events.toDF(), Seq("user_id"), "ts",
      Seq("event_id"), window, StatefulBatch.userWindowAggs, earlyFire,
      delay, allowedLateness).as[WindowFire]
  }

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private def await(cond: => Boolean, timeoutMs: Long = 20000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
    cond
  }

  test("late row inside the horizon re-emits an updated final; past it, nothing") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    // 5-minute windows, no out-of-orderness delay, 10 minutes of
    // allowed lateness -> the Spark watermark (= true watermark - 10 min)
    // is the retention horizon
    val query = lateFireWindowAgg(input.toDS(),
      java.time.Duration.ofMinutes(5), earlyFire = "100 milliseconds",
      delay = java.time.Duration.ZERO,
      allowedLateness = java.time.Duration.ofMinutes(10))
      .writeStream.format("memory").queryName("lfire")
      .outputMode("append").start()
    def fires(): Seq[WindowFire] = spark.table("lfire").as[WindowFire]
      .collect().filter(_.user_id == 1).toSeq

    // two rows open the [10:00, 10:05) window -> partials only
    input.addData(Event(1, 101, ts(0), "view", 2.0), Event(1, 102, ts(1), "view", 3.0))
    assert(await(fires().nonEmpty), "no early fire within the timeout")
    assert(fires().forall(_.is_final == 0), s"nothing may be final yet: ${fires()}")

    // true watermark (= max ts) passes 10:05 but the Spark watermark
    // (10:06 - 10:00 lateness = 09:56) has not -> final fires, state kept
    input.addData(Event(9, 900, ts(6), "view", 0.0))
    assert(await(fires().exists(_.is_final == 1)), "no final fire on close")
    val fin = fires().filter(_.is_final == 1)
    assert(fin.size == 1 && fin.head.n_events == 2L && fin.head.sum_value == 5.0,
      s"final must carry the on-time aggregate: ${fires()}")

    // a late row for the closed window, inside the lateness horizon
    // (ts 10:02 >= Spark watermark 09:56) -> ONE updated final
    input.addData(Event(1, 103, ts(2), "view", 4.0))
    assert(await(fires().exists(_.is_final == 2)), "no late fire for a late row")
    val late = fires().filter(_.is_final == 2)
    assert(late.size == 1 && late.head.n_events == 3L && late.head.sum_value == 9.0,
      s"late final must carry the updated aggregate: ${fires()}")

    // push the Spark watermark past the window end (10:30 - 10:00 ->
    // 10:20 >= 10:05): retention horizon passed, state dropped, and a
    // further late row is discarded by the watermark filter upstream
    input.addData(Event(9, 901, ts(30), "view", 0.0))
    Thread.sleep(1500)
    val countBefore = fires().size
    input.addData(Event(1, 104, ts(3), "view", 8.0))
    Thread.sleep(1500)
    assert(fires().size == countBefore,
      s"a row past the allowed-lateness horizon still fired: ${fires()}")
    query.stop()
  }

  test("batch collapse emits exactly the final rows") {
    import spark.implicits._
    val events = Seq(
      Event(1, 101, ts(0), "view", 2.0),
      Event(1, 102, ts(1), "view", 3.0),
      Event(1, 103, ts(7), "view", 4.0),
      Event(2, 201, ts(1), "view", 1.0)).toDS()
    val out = lateFireWindowAgg(events, java.time.Duration.ofMinutes(5),
      delay = java.time.Duration.ZERO,
      allowedLateness = java.time.Duration.ofMinutes(10))
      .collect().sortBy(f => (f.user_id, f.w_start_us))
    assert(out.forall(_.is_final == 1))
    assert(out.map(f => (f.user_id, f.n_events, f.sum_value)).toSeq ==
      Seq((1L, 2L, 5.0), (1L, 1L, 4.0), (2L, 1L, 1.0)))
  }
}
