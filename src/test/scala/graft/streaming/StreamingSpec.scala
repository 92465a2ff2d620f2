package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.Events.Event

/** The executor output columns the specs below assert on (`as[...]`
  * binds by name and ignores the pass-through input columns). */
case class RankedOut(user_id: Long, rank: Long, event_id: Long, value: Double)
case class RunningOut(user_id: Long, event_id: Long, running_count: Long,
    running_sum: Double, running_max: Double)
case class FrameOut(user_id: Long, event_id: Long, n_in_frame: Long,
    frame_sum: Double, frame_max: Double)
case class CountWindowOut(user_id: Long, win_seq: Long, n_rows: Long,
    sum_v: Double, first_id: Long, last_id: Long)

/** JVM-static logical clock for the proc-time RANGE spec: local-mode
  * executor threads share the JVM, so the injected `procClock` closure
  * reads the value the test sets between micro-batches (same device as
  * ApiSpec's AsyncProbe). */
object ProcClockProbe {
  val now = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** Structured-Streaming behavior specs: the stateful executors (top-n /
  * keep-last dedup, streaming OVER frames, count windows, event-time
  * sort) fed Event rows through MemoryStream in micro-batches, verified
  * against the equivalent batch computation over the same rows — plus
  * watermarked windowed aggregation and a stream-stream join (built-in
  * operators, exercised for semantics). */
class StreamingSpec extends SparkSpec {

  private def topN2(ds: org.apache.spark.sql.Dataset[Event]) =
    RankOps.rankRows(ds.toDF(), Seq("user_id"),
      Seq("value" -> false, "event_id" -> true), 2, rankAlias = Some("rank"))

  private def keepLast(ds: org.apache.spark.sql.Dataset[Event]) =
    RankOps.keepOne(ds.toDF(), Seq("user_id", "event_type"),
      Seq("ts" -> false, "event_id" -> false))

  import StatefulBatch.{countSumMax, frameAggs}

  /** Event-time OVER per user in (ts, event_id) order. */
  private def frameOver(ds: org.apache.spark.sql.Dataset[Event],
      frame: OverAggregates.Frame, delay: String = "0 seconds",
      idleTtl: Option[java.time.Duration] = None) =
    OverAggregates.overAggregates(ds.toDF(), Seq("user_id"),
      Seq("ts", "event_id"), frame, frameAggs, delay, idleTtl)

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private val batch1 = Seq(
    Event(1, 101, ts(0), "view", 5.0),
    Event(1, 102, ts(1), "view", 9.0),
    Event(1, 103, ts(2), "click", 3.0),
    Event(2, 201, ts(1), "view", 7.0))
  private val batch2 = Seq(
    Event(1, 104, ts(3), "view", 8.0),
    Event(1, 105, ts(4), "click", 1.0),
    Event(2, 202, ts(5), "view", 2.0))

  test("streaming top-n re-emits the refreshed per-key ranking") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = topN2(input.toDS()).writeStream
      .format("memory").queryName("topn").outputMode("append").start()
    input.addData(batch1)
    query.processAllAvailable()
    input.addData(batch2)
    query.processAllAvailable()
    query.stop()
    // last emission per user must equal the batch top-2 by value
    val all = spark.table("topn").as[RankedOut].collect()
    val finalUser1 = all.filter(_.user_id == 1).takeRight(2).sortBy(_.rank)
    assert(finalUser1.map(_.event_id).toSeq == Seq(102, 104)) // values 9.0, 8.0
    assert(finalUser1.map(_.value).toSeq == Seq(9.0, 8.0))
  }

  test("keep-last dedup emits the latest row per key") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = keepLast(input.toDS()).writeStream
      .format("memory").queryName("keeplast").outputMode("append").start()
    input.addData(batch1)
    query.processAllAvailable()
    input.addData(batch2)
    query.processAllAvailable()
    query.stop()
    val all = spark.table("keeplast").as[Event].collect()
    // final emission for (1, view) must be event 104 (latest ts)
    val last1view = all.filter(r => r.user_id == 1 && r.event_type == "view").last
    assert(last1view.event_id == 104)
    // final emission for (2, view) must be event 202
    assert(all.filter(r => r.user_id == 2 && r.event_type == "view").last.event_id == 202)
  }

  test("keep-last dedup stays silent on exclusively stale arrivals") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = keepLast(input.toDS()).writeStream
      .format("memory").queryName("keeplaststale").outputMode("append").start()
    input.addData(Event(1, 104, ts(3), "view", 8.0))
    query.processAllAvailable()
    // an OLDER event only: the kept row is unchanged -> no re-emission
    input.addData(Event(1, 99, ts(0), "view", 1.0))
    query.processAllAvailable()
    query.stop()
    val emissions = spark.table("keeplaststale").as[Event].collect()
      .filter(r => r.user_id == 1 && r.event_type == "view")
    assert(emissions.length == 1 && emissions.head.event_id == 104,
      s"stale arrival must not re-announce the unchanged latest, got ${emissions.toSeq}")
  }

  test("streaming OVER produces per-row running aggregates") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = OverAggregates.overAggregates(input.toDS().toDF(),
      Seq("user_id"), Seq("ts", "event_id"), OverAggregates.UnboundedPreceding,
      countSumMax("running_count", "running_sum", "running_max")).writeStream
      .format("memory").queryName("running").outputMode("append").start()
    input.addData(batch1)
    query.processAllAvailable()
    input.addData(batch2)
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("running").as[RunningOut].collect()
      .filter(_.user_id == 1).sortBy(_.event_id)
    // user 1 events in ts order: 101(5.0) 102(9.0) 103(3.0) 104(8.0) 105(1.0)
    assert(rows.map(_.running_count).toSeq == Seq(1, 2, 3, 4, 5))
    assert(rows.map(_.running_sum).toSeq == Seq(5.0, 14.0, 17.0, 25.0, 26.0))
    assert(rows.map(_.running_max).toSeq == Seq(5.0, 9.0, 9.0, 9.0, 9.0))
  }

  test("bounded-ROWS streaming OVER keeps the frame across micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    // ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
    val query = frameOver(input.toDS(), OverAggregates.RowsPreceding(2)).writeStream
      .format("memory").queryName("rowsframe").outputMode("append").start()
    input.addData(batch1)
    query.processAllAvailable()
    input.addData(batch2) // 104/105 frames must reach back into batch1 rows
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("rowsframe").as[FrameOut].collect()
      .filter(_.user_id == 1).sortBy(_.event_id)
    // user 1 values in ts order: 101(5.0) 102(9.0) 103(3.0) | 104(8.0) 105(1.0)
    assert(rows.map(_.n_in_frame).toSeq == Seq(1, 2, 3, 3, 3))
    assert(rows.map(_.frame_sum).toSeq == Seq(5.0, 14.0, 17.0, 20.0, 12.0))
    assert(rows.map(_.frame_max).toSeq == Seq(5.0, 9.0, 9.0, 9.0, 8.0))
  }

  test("bounded-RANGE streaming OVER evicts by event-time horizon across micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    // trailing 2-minute frame
    val query = frameOver(input.toDS(),
      OverAggregates.RangePreceding(java.time.Duration.ofMinutes(2))).writeStream
      .format("memory").queryName("rangeframe").outputMode("append").start()
    input.addData(batch1)
    query.processAllAvailable()
    input.addData(batch2)
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("rangeframe").as[FrameOut].collect()
      .filter(_.user_id == 1).sortBy(_.event_id)
    // frames (ts >= cur - 2 min): 101@10:00 {101}; 102@10:01 {101,102};
    // 103@10:02 {101,102,103}; 104@10:03 {102,103,104} — 101 evicted
    // across the batch boundary; 105@10:04 {103,104,105}
    assert(rows.map(_.n_in_frame).toSeq == Seq(1, 2, 3, 3, 3))
    assert(rows.map(_.frame_sum).toSeq == Seq(5.0, 14.0, 17.0, 20.0, 12.0))
    assert(rows.map(_.frame_max).toSeq == Seq(5.0, 9.0, 9.0, 9.0, 8.0))
  }

  test("bounded-ROWS frames follow event-time order when a row arrives late") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = frameOver(input.toDS(), OverAggregates.RowsPreceding(2),
      delay = "5 minutes").writeStream
      .format("memory").queryName("rowslate").outputMode("append").start()
    // 102@10:01 arrives AFTER 103@10:02 and in a later micro-batch;
    // within the 5-minute delay it must still frame between 101 and 103
    input.addData(Event(1, 101, ts(0), "view", 5.0), Event(1, 103, ts(2), "view", 3.0))
    query.processAllAvailable()
    input.addData(Event(1, 102, ts(1), "view", 9.0), Event(9, 900, ts(20), "view", 0.0))
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("rowslate").as[FrameOut].collect()
      .filter(_.user_id == 1).sortBy(_.event_id)
    assert(rows.map(_.event_id).toSeq == Seq(101L, 102L, 103L))
    // event-time frames: {101}, {101,102}, {101,102,103} — arrival-order
    // framing would have given 103 a frame without 102 and 102 a frame
    // containing the later-in-time 103
    assert(rows.map(_.frame_sum).toSeq == Seq(5.0, 14.0, 17.0),
      s"late row must frame in event-time order, got ${rows.toSeq}")
  }

  test("bounded-ROWS idle TTL clears a key's ring after event-time inactivity") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = frameOver(input.toDS(), OverAggregates.RowsPreceding(2),
      idleTtl = Some(java.time.Duration.ofMinutes(5))).writeStream
      .format("memory").queryName("rowsttl").outputMode("append").start()
    input.addData(Event(1, 101, ts(0), "view", 5.0), Event(9, 900, ts(1), "view", 0.0))
    query.processAllAvailable()
    // watermark moves 20 min past user 1's last row: ring must clear
    input.addData(Event(9, 901, ts(20), "view", 0.0))
    query.processAllAvailable()
    // a fresh row starts a fresh frame — {102}, not {101, 102}
    input.addData(Event(1, 102, ts(21), "view", 7.0), Event(9, 902, ts(40), "view", 0.0))
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("rowsttl").as[FrameOut].collect()
      .filter(_.user_id == 1).sortBy(_.event_id)
    assert(rows.map(_.frame_sum).toSeq == Seq(5.0, 7.0),
      s"expired ring must not leak into the new frame, got ${rows.toSeq}")
  }

  test("bounded-ROWS idle TTL holds when the late row races the expiry timer") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // the gap row arrives in the SAME micro-batch window that would fire
    // the TTL timer — the fresh-frame contract must hold without the
    // timer having cleared the ring first
    val input = MemoryStream[Event]
    val query = frameOver(input.toDS(), OverAggregates.RowsPreceding(2),
      idleTtl = Some(java.time.Duration.ofMinutes(5))).writeStream
      .format("memory").queryName("rowsttlrace").outputMode("append").start()
    input.addData(Event(1, 101, ts(0), "view", 5.0), Event(9, 900, ts(1), "view", 0.0))
    query.processAllAvailable()
    // no intermediate batch: the 30-minutes-later row and the watermark
    // advance land together
    input.addData(Event(1, 102, ts(30), "view", 7.0), Event(9, 902, ts(60), "view", 0.0))
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("rowsttlrace").as[FrameOut].collect()
      .filter(_.user_id == 1).sortBy(_.event_id)
    assert(rows.map(_.frame_sum).toSeq == Seq(5.0, 7.0),
      s"a row past the idle horizon must start a fresh frame even when it " +
        s"shares a batch with the expiry, got ${rows.toSeq}")
  }

  test("bounded-RANGE frames follow event-time order when a row arrives late") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = frameOver(input.toDS(),
      OverAggregates.RangePreceding(java.time.Duration.ofMinutes(2)),
      delay = "5 minutes").writeStream
      .format("memory").queryName("rangelate").outputMode("append").start()
    input.addData(Event(1, 101, ts(0), "view", 5.0), Event(1, 103, ts(2), "view", 3.0))
    query.processAllAvailable()
    input.addData(Event(1, 102, ts(1), "view", 9.0), Event(9, 900, ts(20), "view", 0.0))
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("rangelate").as[FrameOut].collect()
      .filter(_.user_id == 1).sortBy(_.event_id)
    assert(rows.map(_.event_id).toSeq == Seq(101L, 102L, 103L))
    assert(rows.map(_.frame_sum).toSeq == Seq(5.0, 14.0, 17.0),
      s"late row must frame in event-time order, got ${rows.toSeq}")
  }

  test("proc-time bounded-ROWS OVER frames in arrival order, not event time") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    // ROWS BETWEEN 1 PRECEDING AND CURRENT ROW over PROCESSING order
    val query = OverAggregates.procRowsAggregates(input.toDS().toDF(),
      Seq("user_id"), Seq("ts", "event_id"), 1, frameAggs).writeStream
      .format("memory").queryName("procrows").outputMode("append").start()
    input.addData(Event(1, 101, ts(0), "view", 5.0), Event(1, 103, ts(2), "view", 3.0))
    query.processAllAvailable()
    // 102@10:01 arrives LATE: the proc-time contract frames it against
    // what ARRIVED before it (103), never re-orders by event time — the
    // exact divergence from the event-time ROWS frame (see "frames follow
    // event-time order" above, which asserts 5.0/14.0/17.0 on this input)
    input.addData(Event(1, 102, ts(1), "view", 9.0))
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("procrows").as[FrameOut].collect()
    // emission order IS arrival order: 101, 103, then late 102
    assert(rows.map(_.event_id).toSeq == Seq(101L, 103L, 102L))
    assert(rows.map(_.frame_sum).toSeq == Seq(5.0, 8.0, 12.0),
      s"frames must follow arrival order, got ${rows.toSeq}")
    assert(rows.map(_.n_in_frame).toSeq == Seq(1L, 2L, 2L))
  }

  test("proc-time bounded-RANGE OVER treats a micro-batch as one peer instant and evicts by the horizon") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    ProcClockProbe.now.set(100000L)
    val query = OverAggregates.procRangeAggregates(input.toDS().toDF(),
      Seq("user_id"), Seq("ts", "event_id"), java.time.Duration.ofHours(1),
      frameAggs, procClock = () => ProcClockProbe.now.get()).writeStream
      .format("memory").queryName("procrange").outputMode("append").start()
    // batch 1: both rows are peers — each emits the SAME aggregate over
    // the full peer set (the reference's same-millisecond contract)
    input.addData(Event(1, 101, ts(0), "view", 5.0), Event(1, 102, ts(1), "view", 9.0))
    query.processAllAvailable()
    // batch 2, 10 proc-minutes later: inside the horizon — frame keeps batch 1
    ProcClockProbe.now.set(100000L + 10 * 60 * 1000L)
    input.addData(Event(1, 103, ts(2), "view", 3.0))
    query.processAllAvailable()
    // batch 3, 2 proc-hours after batch 1 and 110 proc-minutes after
    // batch 2: everything prior is past the 1-hour horizon and retires
    ProcClockProbe.now.set(100000L + 2 * 3600 * 1000L)
    input.addData(Event(1, 104, ts(3), "view", 8.0))
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("procrange").as[FrameOut].collect()
    assert(rows.map(_.event_id).toSeq == Seq(101L, 102L, 103L, 104L))
    assert(rows.map(_.frame_sum).toSeq == Seq(14.0, 14.0, 17.0, 8.0),
      s"peers must share one frame and the horizon must evict, got ${rows.toSeq}")
    assert(rows.map(_.n_in_frame).toSeq == Seq(2L, 2L, 3L, 1L))
    assert(rows.map(_.frame_max).toSeq == Seq(9.0, 9.0, 9.0, 8.0))
  }

  test("watermarked tumbling-window aggregation closes windows") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val counts = input.toDS()
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "2 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("w_start"), col("user_id"), col("n"), col("total"))
    val query = counts.writeStream
      .format("memory").queryName("wmagg").outputMode("append").start()
    input.addData(batch1)
    query.processAllAvailable()
    // late-arriving watermark push: event far in the future closes all prior windows
    input.addData(Seq(Event(9, 901, ts(59), "view", 0.0)))
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("wmagg").collect()
    // user 1 had events at 10:00,10:01 (window 10:00) and 10:02 (window 10:02)
    val u1 = rows.filter(_.getLong(1) == 1)
    assert(u1.length == 2)
    assert(u1.map(_.getLong(2)).sorted.toSeq == Seq(1, 2))
  }

  test("stream-stream interval join matches within the time bound") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val c = clicks.toDS().filter(col("event_type") === "click")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"), col("ts").as("c_ts"))
    val v = views.toDS().filter(col("event_type") === "view")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"), col("ts").as("v_ts"))
    // view followed by a click from the same user within 3 minutes
    val joined = v.join(c,
      col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") && col("c_ts") <= col("v_ts") + expr("INTERVAL 3 MINUTES"))
    val query = joined.writeStream
      .format("memory").queryName("ssjoin").outputMode("append").start()
    views.addData(batch1 ++ batch2)
    clicks.addData(batch1 ++ batch2)
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("ssjoin").collect()
      .map(r => (r.getAs[Long]("v_id"), r.getAs[Long]("c_id"))).toSet
    // click 103 @10:02 joins views 101 @10:00 and 102 @10:01;
    // click 105 @10:04 joins views 102 @10:01, 104 @10:03
    assert(rows == Set((101L, 103L), (102L, 103L), (102L, 105L), (104L, 105L)))
  }

  test("stream-stream SEMI join emits left rows with a time-bounded match") {
    // reference StreamingSemiAntiJoinOperator.java:35 — semi side:
    // views that got a click from the same user within 3 minutes
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val c = clicks.toDS().filter(col("event_type") === "click")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val v = views.toDS().filter(col("event_type") === "view")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"), col("ts").as("v_ts"))
    val joined = StreamJoins.semiJoin(v, c,
      col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") && col("c_ts") <= col("v_ts") + expr("INTERVAL 3 MINUTES"))
    val query = joined.writeStream
      .format("memory").queryName("sssemi").outputMode("append").start()
    views.addData(batch1 ++ batch2)
    clicks.addData(batch1 ++ batch2)
    query.processAllAvailable()
    // flush: advance both watermarks past every candidate view
    views.addData(Event(9, 901, ts(59), "view", 0.0))
    clicks.addData(Event(9, 902, ts(59), "click", 0.0))
    query.processAllAvailable()
    query.stop()
    val got = spark.table("sssemi").collect().map(_.getAs[Long]("v_id")).toSet
    // clicks 103 @10:02 / 105 @10:04 cover views 101, 102, 104; each view
    // appears ONCE even when matched by two clicks (102 matches both)
    assert(got.intersect(Set(101L, 102L, 104L)) == Set(101L, 102L, 104L))
    assert(spark.table("sssemi").collect().length ==
      spark.table("sssemi").collect().map(_.getAs[Long]("v_id")).distinct.length,
      "semi join must not duplicate a left row per match")
    assert(!got.contains(201L), "user-2 view has no click at all")
  }

  test("stream-stream ANTI join emits left rows with no match once the watermark closes") {
    // anti side of StreamingSemiAntiJoinOperator: views never clicked
    // within the bound; emission requires the watermark to pass the
    // bound (only then is 'no match' final)
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val c = clicks.toDS().filter(col("event_type") === "click")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val v = views.toDS().filter(col("event_type") === "view")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"), col("ts").as("v_ts"))
    // Spark rejects a native stream-stream left_anti; StreamJoins.antiJoin
    // composes it from the watermark-closed left-outer join
    val joined = StreamJoins.antiJoin(v, c,
      col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") && col("c_ts") <= col("v_ts") + expr("INTERVAL 3 MINUTES"),
      rightProbe = col("c_user"))
    val query = joined.writeStream
      .format("memory").queryName("ssanti").outputMode("append").start()
    views.addData(batch1 ++ batch2)
    clicks.addData(batch1 ++ batch2)
    query.processAllAvailable()
    views.addData(Event(9, 901, ts(59), "view", 0.0))
    clicks.addData(Event(9, 902, ts(59), "click", 0.0))
    query.processAllAvailable()
    query.stop()
    val got = spark.table("ssanti").collect().map(_.getAs[Long]("v_id")).toSet
    // view 201 (user 2) is never clicked; views 101/102/104 all are
    assert(got.contains(201L), s"unmatched view must surface in anti join, got $got")
    assert(got.intersect(Set(101L, 102L, 104L)).isEmpty,
      s"matched views must not appear in anti join, got $got")
  }

  test("count-tumbling windows complete across micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = CountWindows.countTumble(input.toDS().toDF(), Seq("user_id"),
      Seq("ts", "event_id"), 3, "value", "event_id").writeStream
      .format("memory").queryName("ctumble").outputMode("append").start()
    // 4 user-1 events: first window (101,102,103) completes, 104 pends
    input.addData(batch1)
    query.processAllAvailable()
    // 2 more user-1 events: (104,105,106) completes the second window
    input.addData(batch2 :+ Event(1, 106, ts(6), "view", 4.0))
    query.processAllAvailable()
    query.stop()
    val wins = spark.table("ctumble").as[CountWindowOut].collect()
      .filter(_.user_id == 1).sortBy(_.win_seq)
    assert(wins.map(w => (w.win_seq, w.first_id, w.last_id, w.n_rows)).toSeq ==
      Seq((0L, 101L, 103L, 3L), (1L, 104L, 106L, 3L)))
    assert(wins.head.sum_v == 5.0 + 9.0 + 3.0)
  }

  test("count-sliding windows emit every slide-th event after warmup") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = CountWindows.countSlide(input.toDS().toDF(), Seq("user_id"),
      Seq("ts", "event_id"), 3, 2, "value", "event_id").writeStream
      .format("memory").queryName("cslide").outputMode("append").start()
    input.addData(batch1) // user 1: 101,102,103 -> first window at event 3
    query.processAllAvailable()
    input.addData(batch2 :+ Event(1, 106, ts(6), "view", 4.0)) // events 4,5,6
    query.processAllAvailable()
    query.stop()
    val wins = spark.table("cslide").as[CountWindowOut].collect()
      .filter(_.user_id == 1).sortBy(_.win_seq)
    // windows end at events 3 (seen=3) and 5 (seen=5): (101..103), (103..105)
    assert(wins.map(w => (w.win_seq, w.first_id, w.last_id)).toSeq ==
      Seq((0L, 101L, 103L), (1L, 103L, 105L)))
  }

  test("streaming sort releases rows in event-time order as the watermark advances") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = RowSort.sortByEventTime(input.toDS().toDF(), Seq("ts", "event_id"),
      delay = "5 minutes").writeStream
      .format("memory").queryName("ssort").outputMode("append").start()
    // arrive out of order across batches
    input.addData(Event(1, 103, ts(3), "view", 1.0), Event(1, 101, ts(1), "view", 1.0))
    query.processAllAvailable()
    input.addData(Event(1, 102, ts(2), "view", 1.0), Event(1, 104, ts(4), "view", 1.0))
    query.processAllAvailable()
    // advance the watermark far past everything, then one more trigger
    // for the event-time timeout to drain the buffer
    input.addData(Event(9, 900, ts(30), "view", 0.0))
    query.processAllAvailable()
    input.addData(Event(9, 901, ts(40), "view", 0.0))
    query.processAllAvailable()
    query.stop()
    val emitted = spark.table("ssort").as[Event].collect()
      .filter(_.user_id == 1).map(_.event_id).toSeq
    assert(emitted == Seq(101L, 102L, 103L, 104L),
      s"rows must be released in event-time order, got $emitted")
  }

  test("update-mode windowed agg early-fires partials and late-fires within the watermark") {
    // the reference's early-fire/late-fire emit strategies (SURVEY §2.9):
    // update mode emits the CURRENT partial per trigger (early fire) and
    // re-emits a closed-over window when late data arrives inside the
    // watermark delay (late fire)
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val agg = input.toDS()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("user_id"), col("n"))
    val query = agg.writeStream
      .format("memory").queryName("earlyfire").outputMode("update").start()
    input.addData(Event(1, 101, ts(0), "view", 1.0))
    query.processAllAvailable() // early fire: partial n=1
    input.addData(Event(1, 102, ts(1), "view", 1.0))
    query.processAllAvailable() // early fire: refreshed n=2
    input.addData(Event(1, 103, ts(2), "view", 1.0)) // "late" vs 102? still in delay
    query.processAllAvailable() // late-ish fire: n=3
    query.stop()
    val fires = spark.table("earlyfire")
      .filter(col("user_id") === 1).select("n").collect().map(_.getLong(0)).toSeq
    assert(fires == Seq(1L, 2L, 3L),
      s"each trigger must re-emit the refreshed partial, got $fires")
  }

  test("dropDuplicatesWithinWatermark keeps first occurrence per key") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val deduped = input.toDS()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    val query = deduped.writeStream
      .format("memory").queryName("wmdedup").outputMode("append").start()
    input.addData(batch1 ++ batch2) // one batch: 3 user-1 'view's, 2 'click's
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("wmdedup").as[Event].collect()
    assert(rows.count(r => r.user_id == 1 && r.event_type == "view") == 1)
    assert(rows.count(r => r.user_id == 1 && r.event_type == "click") == 1)
    assert(rows.count(r => r.user_id == 2 && r.event_type == "view") == 1)
  }

  test("stateful operators run unchanged on the RocksDB state store") {
    // At 100 TB streaming state the HDFS-backed in-memory provider is the
    // wrong tool — RocksDB is the provider that spills keyed state to
    // local disk with incremental checkpoints. The operators must not
    // care: flatMapGroupsWithState state encoders serialize through the
    // provider interface, so top-n over RocksDB must equal top-n over the
    // default store on identical input.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val input = MemoryStream[Event]
      val query = topN2(input.toDS()).writeStream
        .format("memory").queryName("topn_rocks").outputMode("append").start()
      input.addData(batch1)
      query.processAllAvailable()
      input.addData(batch2)
      query.processAllAvailable()
      // cross-batch state survived the RocksDB round trip: batch2's 104
      // displaced batch1's 101 in user 1's top-2 — impossible without
      // reading back batch1's stored entries
      query.stop()
      val all = spark.table("topn_rocks").as[RankedOut].collect()
      val finalUser1 = all.filter(_.user_id == 1).takeRight(2).sortBy(_.rank)
      assert(finalUser1.map(_.event_id).toSeq == Seq(102, 104))
      assert(finalUser1.map(_.value).toSeq == Seq(9.0, 8.0))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming reservoir converges to the same sample under any arrival order") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val ids = (0L until 40L).map(i => ("s" + (i % 2), i))
    // the deterministic reference: bottom-3-by-hash membership per stratum
    def expected(stratum: String) = ids.filter(_._1 == stratum)
      .map { case (_, id) =>
        (graft.operators.Sampling.pseudoRankLong(id, seed = 5), id)
      }.sorted.take(3).map(_._2)
    // two hostile arrival orders: ascending ids, then descending ids split
    // at a different batch boundary — membership must be identical
    val arrivals = Seq(
      Seq(ids.take(25), ids.drop(25)),
      Seq(ids.reverse.take(10), ids.reverse.drop(10)))
    val finals = arrivals.zipWithIndex.map { case (batches, qi) =>
      val input = MemoryStream[(String, Long)]
      val query = graft.operators.Sampling.reservoirPerKey(input.toDS(), k = 3, seed = 5)
        .writeStream.format("memory").queryName(s"reservoir$qi")
        .outputMode("append").start()
      batches.foreach { b => input.addData(b); query.processAllAvailable() }
      query.stop()
      val all = spark.table(s"reservoir$qi").as[graft.operators.Sampling.Sampled].collect()
      // final emission per stratum = last k rows for that stratum
      Seq("s0", "s1").map { s =>
        s -> all.filter(_.stratum == s).takeRight(3).sortBy(_.sample_rank)
          .map(_.item_id).toSeq
      }.toMap
    }
    Seq("s0", "s1").foreach { s =>
      assert(finals(0)(s) == expected(s),
        s"stratum $s: streaming membership diverged from bottom-k-by-hash")
      assert(finals(0)(s) == finals(1)(s),
        s"stratum $s: arrival order changed the converged sample")
    }
  }
}
