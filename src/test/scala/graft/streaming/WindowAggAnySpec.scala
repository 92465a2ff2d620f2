package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.OverAggregates.Agg
import graft.streaming.Events.Event

/** One emission of the q97/q110-shaped window aggregate (events keyed by
  * user_id, COUNT/SUM(value)) — top level: Spark encoders cannot
  * instantiate suite-inner classes. */
case class WindowFire(user_id: Long, w_start_us: Long, n_events: Long,
    sum_value: Double, is_final: Int)

/** Emission-sequence and collapse spec for the early/late fire windowed
  * aggregate: partials on the proc-time interval, one final on watermark
  * close, late finals inside allowed lateness — on q97's events shape
  * and on string partition keys with MIN/AVG/COUNT(DISTINCT) aggregates
  * — plus the close guarantee: the final fires even when one
  * micro-batch jumps the watermark past close AND retention horizon. */
class WindowAggAnySpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  // 60 s: generous against degraded shared-host sessions — a full-suite
  // run at 2x normal wall time flaked a 20 s await once (r14)
  private def await(cond: => Boolean, timeoutMs: Long = 60000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
    cond
  }

  private val aggs = Seq(
    Agg("COUNT", None, "n"),
    Agg("MIN", Some("v"), "mn"),
    Agg("COUNT", Some("u"), "du", distinct = true))

  /** q97's early-fire shape over the events' five columns. */
  private def earlyFireWindowAgg(events: org.apache.spark.sql.Dataset[Event],
      window: java.time.Duration, earlyFire: String = "1 second")
      : org.apache.spark.sql.Dataset[WindowFire] = {
    import spark.implicits._
    WindowAggAny.earlyLateFireWindowAgg(events.toDF(), Seq("user_id"), "ts",
      Seq("event_id"), window, StatefulBatch.userWindowAggs, earlyFire)
      .as[WindowFire]
  }

  test("early-fire emits changed partials on the interval, then a final on close") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = earlyFireWindowAgg(input.toDS(),
      java.time.Duration.ofMinutes(5), earlyFire = "100 milliseconds")
      .writeStream.format("memory").queryName("efire")
      .outputMode("append").start()
    def fires(): Seq[WindowFire] = spark.table("efire").as[WindowFire]
      .collect().filter(_.user_id == 1).toSeq

    // NOTE: no processAllAvailable anywhere in this test — with a
    // processing-time timer re-armed every 100 ms the engine never
    // quiesces, so processAllAvailable can block indefinitely; the
    // continuously-running engine picks the data up on its own and the
    // sink is polled instead.
    // Two rows land in the [10:00, 10:05) window; watermark is still
    // behind the window end, so only PARTIALS may fire
    input.addData(Event(1, 101, ts(0), "view", 2.0), Event(1, 102, ts(1), "view", 3.0))
    assert(await(fires().nonEmpty), "no early fire within the timeout")
    val partials = fires()
    assert(partials.forall(_.is_final == 0),
      s"window is still open — nothing may be final yet: $partials")
    assert(partials.last.n_events == 2L && partials.last.sum_value == 5.0,
      s"partial must carry the current aggregate: $partials")

    // unchanged aggregate → the interval timer must NOT re-emit
    val countBefore = fires().size
    Thread.sleep(500)
    assert(fires().size == countBefore,
      "early fire re-emitted an unchanged partial")

    // advance the watermark past 10:05 → the next firing finalizes
    input.addData(Event(9, 900, ts(30), "view", 0.0))
    assert(await(fires().exists(_.is_final == 1)), "no final fire on close")
    query.stop()
    val all = fires()
    val finals = all.filter(_.is_final == 1)
    assert(finals.size == 1, s"exactly one final per window, got $all")
    assert(finals.head.n_events == 2L && finals.head.sum_value == 5.0)
    // the final is the LAST emission for the window
    assert(all.last.is_final == 1, s"emissions after the final: $all")
  }

  test("batch collapse emits exactly the final rows") {
    import spark.implicits._
    val events = Seq(
      Event(1, 101, ts(0), "view", 2.0),
      Event(1, 102, ts(1), "view", 3.0),
      Event(1, 103, ts(7), "view", 4.0),
      Event(2, 201, ts(1), "view", 1.0)).toDS()
    val out = earlyFireWindowAgg(events, java.time.Duration.ofMinutes(5))
      .collect().sortBy(f => (f.user_id, f.w_start_us))
    assert(out.forall(_.is_final == 1))
    assert(out.map(f => (f.user_id, f.n_events, f.sum_value)).toSeq ==
      Seq((1L, 2L, 5.0), (1L, 1L, 4.0), (2L, 1L, 1.0)))
  }

  test("general early-fire: changed partials on the interval, one final " +
    "on close, on a string-keyed schema with MIN and COUNT(DISTINCT)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Timestamp, Double, Long)]
    val out = WindowAggAny.earlyLateFireWindowAgg(
      input.toDF().toDF("k", "t", "v", "u"), Seq("k"), "t", Seq("u"),
      java.time.Duration.ofMinutes(5), aggs, earlyFire = "100 milliseconds")
    val q = out.writeStream.format("memory").queryName("wany")
      .outputMode("append").start()
    def fires(): Seq[(String, Long, Double, Long, Int)] =
      spark.table("wany").filter($"k" === "a")
        .select($"k", $"n", $"mn", $"du", $"is_final")
        .as[(String, Long, Double, Long, Int)].collect().toSeq
    // two rows, same user twice + one other: COUNT 3, MIN 2.0, DISTINCT u 2
    input.addData(("a", ts(0), 5.0, 7L), ("a", ts(1), 2.0, 7L),
      ("a", ts(2), 9.0, 8L))
    assert(await(fires().nonEmpty), "no early fire within the timeout")
    assert(fires().forall(_._5 == 0), s"window still open: ${fires()}")
    assert(fires().last == ("a", 3L, 2.0, 2L, 0), s"got ${fires()}")
    // unchanged aggregate: the timer must not re-emit
    val before = fires().size
    Thread.sleep(500)
    assert(fires().size == before, "re-emitted an unchanged partial")
    // advance the watermark past the window end -> exactly one final
    input.addData(("z", ts(30), 0.0, 0L))
    assert(await(fires().exists(_._5 == 1)), "no final on close")
    q.stop()
    val finals = fires().filter(_._5 == 1)
    assert(finals == Seq(("a", 3L, 2.0, 2L, 1)), s"got ${fires()}")
    assert(fires().last._5 == 1, s"emissions after the final: ${fires()}")
  }

  test("allowed lateness: a row after the close re-emits an updated " +
    "final (is_final = 2); beyond the horizon it is discarded") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Timestamp, Double, Long)]
    val out = WindowAggAny.earlyLateFireWindowAgg(
      input.toDF().toDF("k", "t", "v", "u"), Seq("k"), "t", Seq("u"),
      java.time.Duration.ofMinutes(5), aggs, earlyFire = "100 milliseconds",
      allowedLateness = java.time.Duration.ofMinutes(20))
    val q = out.writeStream.format("memory").queryName("wlate")
      .outputMode("append").start()
    def fires(): Seq[(Long, Double, Long, Int)] =
      spark.table("wlate").filter($"k" === "a")
        .select($"n", $"mn", $"du", $"is_final")
        .as[(Long, Double, Long, Int)].collect().toSeq
    input.addData(("a", ts(1), 5.0, 7L))
    // true watermark (sparkWm + lateness) passes the 10:05 close once
    // maxTs reaches 10:15; sparkWm (= maxTs - 20min = 9:55) stays BELOW
    // the close, so rows in [9:55, 10:05) are late-but-inside-horizon
    input.addData(("z", ts(15), 0.0, 0L))
    assert(await(fires().exists(_._4 == 1)), "no first final")
    // a late row inside the horizon updates the final
    input.addData(("a", ts(4), 1.0, 9L))
    assert(await(fires().exists(_._4 == 2)), "no late final")
    assert(fires().filter(_._4 == 2) == Seq((2L, 1.0, 2L, 2)),
      s"got ${fires()}")
    // push sparkWm past the horizon (10:05): state drops; a later row
    // for the window is discarded, not re-emitted
    input.addData(("z", ts(59), 0.0, 0L))
    Thread.sleep(600) // let the horizon poll drop the state
    val nBefore = fires().size
    input.addData(("a", ts(3), 0.5, 10L))
    Thread.sleep(800)
    assert(fires().size == nBefore,
      s"beyond-horizon row must be discarded: ${fires()}")
    q.stop()
  }

  test("watermark jump past close AND horizon still fires the final " +
    "(the guarantee the Event-typed operator does not make)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Timestamp, Double, Long)]
    val out = WindowAggAny.earlyLateFireWindowAgg(
      input.toDF().toDF("k", "t", "v", "u"), Seq("k"), "t", Seq("u"),
      java.time.Duration.ofMinutes(5), aggs, earlyFire = "100 milliseconds",
      allowedLateness = java.time.Duration.ofMinutes(1))
    val q = out.writeStream.format("memory").queryName("wjump")
      .outputMode("append").start()
    def finals(): Seq[(Long, Double, Long, Int)] =
      spark.table("wjump").filter($"k" === "a" && $"is_final" === 1)
        .select($"n", $"mn", $"du", $"is_final")
        .as[(Long, Double, Long, Int)].collect().toSeq
    input.addData(("a", ts(1), 5.0, 7L))
    // one sentinel jumps the watermark from 0 straight past
    // close (10:05) + lateness (1 min): the discard branch must still
    // fire the pending final exactly once
    input.addData(("z", ts(59), 0.0, 0L))
    assert(await(finals().nonEmpty), "final lost in the watermark jump")
    q.stop()
    assert(finals() == Seq((1L, 5.0, 1L, 1)), s"got ${finals()}")
  }

  test("batch collapse emits exactly the plain tumbling aggregate, " +
    "composite key, decimal-exact SUM") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, ts(0), BigDecimal("1.10")),
      ("a", 1L, ts(1), BigDecimal("2.20")),
      ("a", 1L, ts(7), BigDecimal("4.40")),
      ("b", 2L, ts(1), BigDecimal("8.80")))
      .toDF("k", "g", "t", "m")
      .withColumn("m", col("m").cast("decimal(18,2)"))
    val got = WindowAggAny.earlyLateFireWindowAgg(df, Seq("k", "g"), "t",
      Seq("m"), java.time.Duration.ofMinutes(5),
      Seq(Agg("COUNT", None, "n"), Agg("SUM", Some("m"), "s")))
      .select($"k", $"g", $"w_start_us", $"n", $"s".cast("string"))
      .as[(String, Long, Long, Long, String)].collect().toSeq.sorted
    val base = ts(0).getTime * 1000L
    val w5 = 5L * 60 * 1000000
    assert(got == Seq(
      ("a", 1L, base, 2L, "3.30"),
      ("a", 1L, base + w5, 1L, "4.40"),
      ("b", 2L, base, 1L, "8.80")).sorted, s"got $got")
    // agrees with Spark's own windowed aggregate
    val native = df.groupBy(window($"t", "5 minutes"), $"k", $"g")
      .agg(count(lit(1)).as("n"), sum($"m").as("s"))
      .select($"k", $"g", unix_micros($"window.start"), $"n",
        $"s".cast("decimal(38,2)").cast("string"))
      .as[(String, Long, Long, Long, String)].collect().toSeq.sorted
    assert(got == native, s"executor $got vs native $native")
  }

  test("reference stream WindowAggregateITCase." +
    "testEventTimeTumblingWindowWithAllowLateness:149-213 (minus the " +
    "custom weightAvg UDAF): late row inside the 10ms retention updates " +
    "the final; the too-late row drops; upsert state matches verbatim") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, Int, String)]
    val out = WindowAggAny.earlyLateFireWindowAgg(
      input.toDF().toDF("t", "long", "int", "string"),
      Seq("string"), "t", Seq("long", "int"),
      java.time.Duration.ofMillis(5),
      Seq(Agg("COUNT", Some("long"), "du", distinct = true),
        Agg("COUNT", Some("int"), "n"), Agg("AVG", Some("int"), "av"),
        Agg("MIN", Some("int"), "mn"), Agg("MAX", Some("int"), "mx"),
        Agg("SUM", Some("int"), "sm")),
      earlyFire = "100 milliseconds",
      allowedLateness = java.time.Duration.ofMillis(10))
    val q = out.writeStream.format("memory").queryName("wlateit")
      .outputMode("append").start()
    def ms(m: Long) = new Timestamp(m)
    def upsert(): Set[(String, Long, Long, Long, Int, Int, Int, Long)] = {
      val all = spark.table("wlateit").filter($"string" =!= "zz")
        .select($"string", $"w_start_us", $"du", $"n", $"av", $"mn",
          $"mx", $"sm", $"is_final")
        .as[(String, Long, Long, Long, Double, Double, Double, Double, Int)]
        .collect().toSeq
      // TestingUpsertTableSink keyed on (string, w_start): keep the
      // latest fired value per key = the emission with the largest count
      all.filter(_._9 > 0).groupBy(r => (r._1, r._2)).values
        .map(_.maxBy(_._4))
        .map(r => (r._1, r._2, r._3, r._4, r._5.toInt, r._6.toInt,
          r._7.toInt, r._8.toLong)).toSet
    }
    // the ITCase's arrival order up to the out-of-order tail; watermark
    // offset 0 -> after this batch sparkWm = 16ms - 10ms lateness.
    // (processAllAvailable never quiesces under the early-fire timers —
    // await the finals the batch itself must fire, as this suite's
    // other tests do.)
    input.addData((ms(1), 1L, 1, "Hi"), (ms(2), 2L, 2, "Hello"),
      (ms(4), 2L, 2, "Hello"), (ms(8), 3L, 3, "Hello world"),
      (ms(4), 3L, 3, "Hello"), (ms(16), 3L, 3, "Hello world"))
    assert(await(upsert().size == 3), s"batch1 finals: ${upsert()}")
    // (9L, 4, Hello world): late for the closed [5,10) but inside its
    // 20ms horizon -> is_final=2 re-emit; (3L, 1, Hi): [0,5)'s horizon
    // (15ms) already passed -> dropped before the operator
    input.addData((ms(9), 4L, 4, "Hello world"), (ms(3), 1L, 1, "Hi"))
    assert(await(upsert().exists(r => r._1 == "Hello world" &&
      r._2 == 5000L && r._4 == 2L)), s"late final: ${upsert()}")
    input.addData((ms(40), 0L, 0, "zz")) // close [15,20)
    assert(await(upsert().size == 4), s"got ${upsert()}")
    q.stop()
    // the ITCase's expected upsert rows (:208-212), CAST(AVG AS INT)
    assert(upsert() == Set(
      ("Hi", 0L, 1L, 1L, 1, 1, 1, 1L),
      ("Hello", 0L, 2L, 3L, 2, 2, 3, 7L),
      ("Hello world", 5000L, 2L, 2L, 3, 3, 4, 7L),
      ("Hello world", 15000L, 1L, 1L, 3, 3, 3, 3L)), s"got ${upsert()}")
  }

  // ------------------------------------------------ HOP / SESSION (r14)

  test("hop early/late fire: a row enters size/slide windows, each " +
    "closing independently as the watermark passes its end") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Timestamp, Double, Long)]
    val out = WindowAggAny.earlyLateFireHopAgg(
      input.toDF().toDF("k", "t", "v", "u"), Seq("k"), "t", Seq("u"),
      size = java.time.Duration.ofMinutes(10),
      slide = java.time.Duration.ofMinutes(5), aggs,
      earlyFire = "100 milliseconds")
    val q = out.writeStream.format("memory").queryName("whop")
      .outputMode("append").start()
    def fires(): Seq[(Long, Long, Double, Long, Int)] =
      spark.table("whop").filter($"k" === "a")
        .select($"w_start_us", $"n", $"mn", $"du", $"is_final")
        .as[(Long, Long, Double, Long, Int)].collect().toSeq
    val base = ts(0).getTime * 1000L
    val m5 = 5L * 60 * 1000000
    // 10:01 lives in [09:55, 10:05) and [10:00, 10:10)
    input.addData(("a", ts(1), 5.0, 7L))
    assert(await(fires().map(_._1).toSet == Set(base - m5, base)),
      s"partials in both windows expected: ${fires()}")
    assert(fires().forall(_._5 == 0), s"still open: ${fires()}")
    // watermark to 10:06: closes [09:55, 10:05) only
    input.addData(("z", ts(6), 0.0, 0L))
    assert(await(fires().exists(_._5 == 1)), "no final on close")
    assert(fires().filter(_._5 == 1) == Seq((base - m5, 1L, 5.0, 1L, 1)),
      s"got ${fires()}")
    // second row at 10:07 joins [10:00, 10:10) and [10:05, 10:15) but
    // NOT the closed window
    input.addData(("a", ts(7), 2.0, 8L))
    assert(await(fires().exists(f => f._1 == base && f._2 == 2L)),
      s"merged partial expected: ${fires()}")
    // watermark to 10:16 closes both remaining windows
    input.addData(("z", ts(16), 0.0, 0L))
    assert(await(fires().count(_._5 == 1) == 3), s"got ${fires()}")
    q.stop()
    assert(fires().filter(_._5 == 1).sorted == Seq(
      (base - m5, 1L, 5.0, 1L, 1),
      (base, 2L, 2.0, 2L, 1),
      (base + m5, 1L, 2.0, 1L, 1)).sorted, s"got ${fires()}")
  }

  test("hop batch collapse equals Spark's own sliding-window aggregate " +
    "(size not a multiple of slide)") {
    import spark.implicits._
    val df = Seq(
      ("a", ts(0), 1.0, 1L), ("a", ts(4), 2.0, 2L), ("a", ts(11), 4.0, 2L),
      ("b", ts(7), 8.0, 3L))
      .toDF("k", "t", "v", "u")
    val got = WindowAggAny.earlyLateFireHopAgg(df, Seq("k"), "t", Seq("u"),
      size = java.time.Duration.ofMinutes(7),
      slide = java.time.Duration.ofMinutes(3),
      Seq(Agg("COUNT", None, "n"), Agg("SUM", Some("v"), "s")))
      .select($"k", $"w_start_us", $"n", $"s")
      .as[(String, Long, Long, Double)].collect().toSeq.sorted
    val native = df.groupBy(window($"t", "7 minutes", "3 minutes"), $"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .select($"k", unix_micros($"window.start"), $"n", $"s")
      .as[(String, Long, Long, Double)].collect().toSeq.sorted
    assert(got == native && got.nonEmpty, s"executor $got vs native $native")
  }

  test("session early fire + merge: a bridging row merges two open " +
    "sessions (accumulators and distinct sets merge), the merged " +
    "session closes once") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Timestamp, Double, Long)]
    val out = WindowAggAny.earlyLateFireSessionAgg(
      input.toDF().toDF("k", "t", "v", "u"), Seq("k"), "t", Seq("u"),
      gap = java.time.Duration.ofMinutes(5), aggs,
      earlyFire = "100 milliseconds",
      // a watermark delay keeps BOTH sessions open across the batches
      // below (with delay 0 the second row's own timestamp would close
      // the first session before the bridge arrives)
      delay = java.time.Duration.ofMinutes(10))
    val q = out.writeStream.format("memory").queryName("wsess")
      .outputMode("append").start()
    def fires(): Seq[(Long, Long, Double, Long, Int)] =
      spark.table("wsess").filter($"k" === "a")
        .select($"w_start_us", $"n", $"mn", $"du", $"is_final")
        .as[(Long, Long, Double, Long, Int)].collect().toSeq
    val base = ts(0).getTime * 1000L
    val m1 = 60L * 1000000
    // two sessions: 10:00 and 10:08 (gap 5m, 10:05 < 10:08)
    input.addData(("a", ts(0), 5.0, 7L), ("a", ts(8), 2.0, 8L))
    assert(await(fires().map(_._1).toSet == Set(base, base + 8 * m1)),
      s"two open sessions expected: ${fires()}")
    // bridging row at 10:04 merges them: one session [10:00 .. 10:08]
    input.addData(("a", ts(4), 1.0, 7L))
    assert(await(fires().exists(f => f._1 == base && f._2 == 3L)),
      s"merged partial expected: ${fires()}")
    assert(fires().last == (base, 3L, 1.0, 2L, 0), s"got ${fires()}")
    // close: watermark (maxTs - 10m delay) past the merged end 10:13
    input.addData(("z", ts(40), 0.0, 0L))
    assert(await(fires().exists(_._5 == 1)), "no final on close")
    q.stop()
    assert(fires().filter(_._5 == 1) == Seq((base, 3L, 1.0, 2L, 1)),
      s"got ${fires()}")
  }

  test("session allowed lateness: a late row inside the horizon " +
    "EXTENDS the closed session and re-emits updated finals; beyond " +
    "the horizon it is discarded") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Timestamp, Double, Long)]
    val out = WindowAggAny.earlyLateFireSessionAgg(
      input.toDF().toDF("k", "t", "v", "u"), Seq("k"), "t", Seq("u"),
      gap = java.time.Duration.ofMinutes(5), aggs,
      earlyFire = "100 milliseconds",
      allowedLateness = java.time.Duration.ofMinutes(20))
    val q = out.writeStream.format("memory").queryName("wsesslate")
      .outputMode("append").start()
    def fires(): Seq[(Long, Long, Double, Long, Int)] =
      spark.table("wsesslate").filter($"k" === "a")
        .select($"w_start_us", $"n", $"mn", $"du", $"is_final")
        .as[(Long, Long, Double, Long, Int)].collect().toSeq
    val base = ts(0).getTime * 1000L
    input.addData(("a", ts(1), 5.0, 7L))
    // true watermark = sparkWm + 20m; maxTs 10:15 -> trueWm 10:15
    // passes the session end 10:06, sparkWm 9:55 stays below it (the
    // session state is RETAINED for the lateness horizon)
    input.addData(("z", ts(15), 0.0, 0L))
    assert(await(fires().exists(_._5 == 1)), s"no first final: ${fires()}")
    // late row at 10:03 inside the horizon: merges into the closed
    // session (extends lastUs 10:01 -> 10:03) and updates the final
    input.addData(("a", ts(3), 1.0, 9L))
    assert(await(fires().exists(_._5 == 2)), s"no late final: ${fires()}")
    assert(fires().filter(_._5 == 2) == Seq((base + 60L * 1000000, 2L,
      1.0, 2L, 2)), s"got ${fires()}")
    // sparkWm past the extended horizon (10:08): state drops; a later
    // row for the session is discarded
    input.addData(("z", Timestamp.valueOf("2024-01-01 11:30:00"), 0.0, 0L))
    // r16: 600 ms flaked under multi-suite load (the horizon poll had
    // not dropped the state before the late row arrived and merged);
    // give the drop a full proc-timer interval budget
    Thread.sleep(3000)
    val nBefore = fires().size
    input.addData(("a", ts(2), 0.5, 10L))
    Thread.sleep(1500)
    assert(fires().size == nBefore,
      s"beyond-horizon row must be discarded: ${fires()}")
    q.stop()
  }

  test("r15 session identity contract: a late row merging IN FRONT of a " +
    "closed session re-emits under the FIRED start (not the moved one); " +
    "a late bridge of two fired sessions retracts the absorbed identity " +
    "with is_final=3") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Timestamp, Double, Long)]
    val out = WindowAggAny.earlyLateFireSessionAgg(
      input.toDF().toDF("k", "t", "v", "u"), Seq("k"), "t", Seq("u"),
      gap = java.time.Duration.ofMinutes(5), aggs,
      earlyFire = "100 milliseconds",
      allowedLateness = java.time.Duration.ofMinutes(20))
    val q = out.writeStream.format("memory").queryName("wsessident")
      .outputMode("append").start()
    def fires(k: String): Seq[(Long, Long, Double, Long, Int)] =
      spark.table("wsessident").filter($"k" === k)
        .select($"w_start_us", $"n", $"mn", $"du", $"is_final")
        .as[(Long, Long, Double, Long, Int)].collect().toSeq
    def us(m: Int): Long = ts(m).getTime * 1000L
    // ---- front-merge: session fires at start 10:01, then a late row at
    // 10:00 moves the true start earlier; the update keeps identity 10:01
    input.addData(("a", ts(1), 5.0, 7L))
    input.addData(("z", ts(15), 0.0, 0L))
    assert(await(fires("a").exists(_._5 == 1)), s"no final: ${fires("a")}")
    input.addData(("a", ts(0), 1.0, 9L))
    assert(await(fires("a").exists(_._5 == 2)), s"no update: ${fires("a")}")
    assert(fires("a").filter(_._5 == 2) == Seq((us(1), 2L, 1.0, 2L, 2)),
      s"update must keep the fired identity: ${fires("a")}")
    // ---- bridge-merge: both sessions fire, a late row bridges them;
    // the absorbed fired identity (10:09) is retracted, the merged
    // update emits under the surviving one (10:01)
    input.addData(("b", ts(1), 4.0, 1L), ("b", ts(9), 6.0, 2L))
    input.addData(("z", ts(25), 0.0, 0L))
    assert(await(fires("b").count(_._5 == 1) == 2),
      s"both finals must fire: ${fires("b")}")
    input.addData(("b", ts(5), 2.0, 3L))
    assert(await(fires("b").exists(_._5 == 3)), s"no retract: ${fires("b")}")
    val retract = fires("b").filter(_._5 == 3)
    assert(retract.map(_._1) == Seq(us(9)),
      s"retract must name the absorbed identity: $retract")
    val upd = fires("b").filter(_._5 == 2)
    assert(upd == Seq((us(1), 3L, 2.0, 3L, 2)),
      s"merged update must keep the surviving identity: ${fires("b")}")
    q.stop()
  }

  test("session batch collapse equals the gaps-and-islands session " +
    "aggregate (Spark session_window), composite key") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, ts(0), 1.0, 1L), ("a", 1L, ts(3), 2.0, 2L),
      ("a", 1L, ts(11), 4.0, 2L), ("a", 2L, ts(1), 16.0, 5L),
      ("b", 1L, ts(7), 8.0, 3L))
      .toDF("k", "g", "t", "v", "u")
    val got = WindowAggAny.earlyLateFireSessionAgg(df, Seq("k", "g"), "t",
      Seq("u"), gap = java.time.Duration.ofMinutes(5),
      Seq(Agg("COUNT", None, "n"), Agg("SUM", Some("v"), "s")))
      .select($"k", $"g", $"w_start_us", $"n", $"s")
      .as[(String, Long, Long, Long, Double)].collect().toSeq.sorted
    val native = df
      .groupBy(session_window($"t", "5 minutes"), $"k", $"g")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .select($"k", $"g", unix_micros($"session_window.start"), $"n", $"s")
      .as[(String, Long, Long, Long, Double)].collect().toSeq.sorted
    assert(got == native && got.nonEmpty, s"executor $got vs native $native")
  }
}
