package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The streaming temporal join's semantics (watermark-gated emission,
  * late-version honoring, newest-at-watermark pruning, left-outer NULLs,
  * idle retention — `TemporalJoinSpec` pins them on a long-keyed shape)
  * must hold on a STRING key with extra payload columns on both sides and
  * the dim timestamp in the output, and its batch collapse must match the
  * q63 ASOF oracle on the events fixture. */
class TemporalJoinAnySpec extends SparkSpec {

  private def ts(h: Int, m: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("general temporal join: late versions honored, string key, " +
    "payload columns carried, dim timestamp emitted") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val facts = MemoryStream[(String, Timestamp, Long, Double, String)]
    val dims = MemoryStream[(String, Timestamp, Long, Double, String)]
    val out = TemporalJoinAny.temporalJoin(
      facts.toDF().toDF("k", "ts", "fid", "amount", "tag"),
      dims.toDF().toDF("k", "ts", "ver", "rate", "label"),
      keyCols = Seq("k"), tsCol = "ts", dimVerCols = Seq("ver"),
      factTieBreak = Seq("fid"), delay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("tjany")
      .outputMode("append").start()
    // version at 10:00; facts at 09:55 (before any version) and 10:02
    dims.addData(("a", ts(10, 0), 1L, 100.0, "v1"))
    facts.addData(("a", ts(9, 55), 500L, 5.0, "early"),
      ("a", ts(10, 2), 501L, 7.0, "late"))
    q.processAllAvailable()
    // the LATE version (event time 10:01, arriving after fact 501)
    dims.addData(("a", ts(10, 1), 2L, 200.0, "v2"))
    q.processAllAvailable()
    // advance the watermark past 10:02, then once more for the timeout
    facts.addData(("z", ts(10, 30), 900L, 0.0, "wm"))
    q.processAllAvailable()
    facts.addData(("z", ts(10, 40), 901L, 0.0, "wm"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tjany").filter($"k" === "a")
      .select($"fid", $"tag", $"dim_ver", $"dim_rate", $"dim_label",
        $"dim_ts")
      .as[(Long, String, Option[Long], Option[Double], Option[String],
        Option[Timestamp])].collect().toMap2
    assert(got(500L) == ("early", None, None, None, None),
      s"fact before any version emits NULL dim fields: $got")
    assert(got(501L) == ("late", Some(2L), Some(200.0), Some("v2"),
      Some(ts(10, 1))),
      s"fact must take the LATE version 2 with its payload and ts: $got")
  }

  private implicit class MapOps[A, B, C, D, E, F](
      rows: Array[(A, B, C, D, E, F)]) {
    def toMap2: Map[A, (B, C, D, E, F)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
  }

  test("version pruning keeps newest-at-watermark plus newer") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val facts = MemoryStream[(String, Timestamp, Long, Double, String)]
    val dims = MemoryStream[(String, Timestamp, Long, Double, String)]
    val out = TemporalJoinAny.temporalJoin(
      facts.toDF().toDF("k", "ts", "fid", "amount", "tag"),
      dims.toDF().toDF("k", "ts", "ver", "rate", "label"),
      keyCols = Seq("k"), tsCol = "ts", dimVerCols = Seq("ver"),
      factTieBreak = Seq("fid"), delay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("tjanyp")
      .outputMode("append").start()
    // three versions; the watermark sweeps past all of them
    dims.addData(("a", ts(10, 0), 1L, 10.0, "x"),
      ("a", ts(10, 5), 2L, 20.0, "x"), ("a", ts(10, 10), 3L, 30.0, "x"))
    q.processAllAvailable()
    // a fact after all versions, after the watermark passed them: must
    // still match version 3 (the retained newest)
    facts.addData(("a", ts(10, 20), 600L, 1.0, "t"))
    q.processAllAvailable()
    facts.addData(("z", ts(10, 30), 901L, 0.0, "wm"))
    q.processAllAvailable()
    facts.addData(("z", ts(10, 40), 902L, 0.0, "wm"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tjanyp").filter($"k" === "a")
      .select($"fid", $"dim_ver")
      .as[(Long, Option[Long])].collect().toMap
    assert(got == Map(600L -> Some(3L)), s"got $got")
  }

  test("idle retention reclaims a quiet key's version state (watermark " +
    "time, the Event-typed operator's contract)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val facts = MemoryStream[(String, Timestamp, Long, Double, String)]
    val dims = MemoryStream[(String, Timestamp, Long, Double, String)]
    val out = TemporalJoinAny.temporalJoin(
      facts.toDF().toDF("k", "ts", "fid", "amount", "tag"),
      dims.toDF().toDF("k", "ts", "ver", "rate", "label"),
      keyCols = Seq("k"), tsCol = "ts", dimVerCols = Seq("ver"),
      factTieBreak = Seq("fid"), delay = "0 seconds",
      idleRetentionMs = Some(60 * 1000L)) // 1 min of watermark time
    val q = out.writeStream.format("memory").queryName("tjanyi")
      .outputMode("append").start()
    dims.addData(("a", ts(10, 0), 1L, 100.0, "x"))
    q.processAllAvailable() // key-a idle timer armed at wm + 1 min
    // push the watermark far past the retention horizon, plus one more
    // trigger so the expiry timeout actually fires
    facts.addData(("z", ts(10, 30), 900L, 0.0, "wm"))
    q.processAllAvailable()
    facts.addData(("z", ts(10, 40), 901L, 0.0, "wm"))
    q.processAllAvailable()
    // a fact for key a AFTER expiry: version state is gone -> NULL dims
    facts.addData(("a", ts(10, 50), 500L, 1.0, "t"))
    q.processAllAvailable()
    facts.addData(("z", ts(11, 30), 902L, 0.0, "wm"))
    q.processAllAvailable()
    facts.addData(("z", ts(11, 40), 903L, 0.0, "wm"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tjanyi").filter($"k" === "a")
      .select($"fid", $"dim_ver")
      .as[(Long, Option[Long])].collect().toMap
    assert(got == Map(500L -> None),
      s"expired version must not enrich a later fact, got $got")
  }

  test("proc-time general temporal join: latest version SEEN enriches, " +
    "dims apply before facts within a trigger, event time ignored") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val facts = MemoryStream[(String, Timestamp, Long, Double, String)]
    val dims = MemoryStream[(String, Timestamp, Long, Double, String)]
    val out = TemporalJoinAny.temporalJoinProcTime(
      facts.toDF().toDF("k", "ts", "fid", "amount", "tag"),
      dims.toDF().toDF("k", "ts", "ver", "rate", "label"),
      keyCols = Seq("k"), tsCol = "ts", dimVerCols = Seq("ver"),
      factTieBreak = Seq("fid"))
    val q = out.writeStream.format("memory").queryName("tjanyproc")
      .outputMode("append").start()
    // fact before any version: emits immediately with NULL dims
    facts.addData(("a", ts(9, 0), 400L, 1.0, "t"))
    q.processAllAvailable()
    dims.addData(("a", ts(9, 30), 1L, 100.0, "v1"))
    q.processAllAvailable()
    // same-trigger version+fact: the fact sees the new version
    dims.addData(("a", ts(10, 0), 2L, 200.0, "v2"))
    facts.addData(("a", ts(10, 0), 401L, 2.0, "t"))
    q.processAllAvailable()
    // an OLDER-event-time fact still gets the latest version — proc-time
    // semantics ignore event time
    facts.addData(("a", ts(9, 10), 402L, 3.0, "t"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tjanyproc")
      .select($"fid", $"dim_ver", $"dim_label")
      .as[(Long, Option[Long], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(400L -> ((None, None)),
      401L -> ((Some(2L), Some("v2"))), 402L -> ((Some(2L), Some("v2")))),
      s"got $got")
  }

  test("batch collapse matches the q63 batch as-of join on the events " +
    "fixture") {
    import spark.implicits._
    val ev = graft.core.Catalog.load(spark, sf(), "events")
    val facts = ev.filter($"event_type" === "purchase")
    val dims = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts", $"event_id", $"value")
    val got = TemporalJoinAny.temporalJoin(facts, dims,
      keyCols = Seq("user_id"), tsCol = "ts",
      dimVerCols = Seq("event_id"), factTieBreak = Seq("event_id"))
      .select($"event_id", $"dim_event_id")
      .as[(Long, Option[Long])].collect()
      .map { case (f, d) => f -> d.getOrElse(-1L) }.toMap
    val oracle = graft.SparkEntry.queries("q63_asof_join")(spark, sf())
      .collect().map { r =>
        r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3))
      }.toMap
    assert(got.size == oracle.size)
    val diff = got.collect { case (k, v) if oracle(k) != v => (k, v, oracle(k)) }
    assert(diff.isEmpty, s"mismatched enrichments (first 5): ${diff.take(5)}")
  }
}
