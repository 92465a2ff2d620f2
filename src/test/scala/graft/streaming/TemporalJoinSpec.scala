package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Fact-stream row (left side) — top level for the encoders. */
case class Fact(k: Long, ts: Timestamp, fact_id: Long, fact_value: Double)

/** Dimension-version row (right side); higher `ver` wins ties on ts. */
case class DimVersion(k: Long, ts: Timestamp, ver: Long, dim_value: Double)

/** Enriched output; dim fields are None when no version precedes. */
case class Enriched(k: Long, ts: Timestamp, fact_id: Long,
    fact_value: Double, dim_ver: Option[Long], dim_value: Option[Double])

/** Streaming temporal/as-of join specs for [[TemporalJoinAny]] on a
  * long-keyed fact/version shape, mirroring the reference's
  * TemporalJoinITCase semantics (reference
  * TemporalRowTimeJoinOperator.java:71): watermark-gated emission,
  * enrichment with the latest version at-or-before the fact's event time
  * including versions that arrive LATE (after the fact, before the
  * watermark), left-outer None for facts with no preceding version — and
  * batch-collapse parity against the q63 as-of oracle data. */
class TemporalJoinSpec extends SparkSpec {

  private def enriched(df: DataFrame): Dataset[Enriched] = {
    import spark.implicits._
    df.select($"k", $"ts", $"fact_id", $"fact_value", $"dim_ver",
      $"dim_dim_value".as("dim_value")).as[Enriched]
  }

  private def temporalJoin(facts: Dataset[Fact], dims: Dataset[DimVersion],
      delay: String, idleRetentionMs: Option[Long] = None): Dataset[Enriched] =
    enriched(TemporalJoinAny.temporalJoin(facts.toDF(), dims.toDF(),
      keyCols = Seq("k"), tsCol = "ts", dimVerCols = Seq("ver"),
      factTieBreak = Seq("fact_id"), delay = delay,
      idleRetentionMs = idleRetentionMs))

  private def temporalJoinProcTime(facts: Dataset[Fact],
      dims: Dataset[DimVersion]): Dataset[Enriched] =
    enriched(TemporalJoinAny.temporalJoinProcTime(facts.toDF(), dims.toDF(),
      keyCols = Seq("k"), tsCol = "ts", dimVerCols = Seq("ver"),
      factTieBreak = Seq("fact_id")))

  private def ts(h: Int, m: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("temporal join enriches at event time, honoring late version arrival") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val facts = MemoryStream[Fact]
    val dims = MemoryStream[DimVersion]
    val query = temporalJoin(facts.toDS(), dims.toDS(), delay = "5 minutes")
      .writeStream.format("memory").queryName("tj").outputMode("append").start()

    // trigger 1: a version at 10:00, a fact BEFORE any version (09:55),
    // and a fact at 10:02 — nothing can emit yet (watermark at epoch)
    dims.addData(DimVersion(1, ts(10, 0), ver = 1, dim_value = 100.0))
    facts.addData(Fact(1, ts(9, 55), fact_id = 500, fact_value = 5.0),
      Fact(1, ts(10, 2), fact_id = 501, fact_value = 7.0))
    query.processAllAvailable()

    // trigger 2: the LATE version — event time 10:01 (before fact 501's
    // 10:02) arriving after the fact, still ahead of the watermark
    // (10:02 - 5 min). Fact 500 (ts 09:55 <= wm 09:57) emits with None.
    dims.addData(DimVersion(1, ts(10, 1), ver = 2, dim_value = 200.0))
    query.processAllAvailable()

    // advance the watermark past 10:02, then one more trigger so the
    // event-time timeout for key 1 fires and flushes fact 501
    facts.addData(Fact(99, ts(10, 30), 900, 0.0))
    query.processAllAvailable()
    facts.addData(Fact(99, ts(10, 40), 901, 0.0))
    query.processAllAvailable()
    query.stop()

    val out = spark.table("tj").as[Enriched].collect()
      .filter(_.k == 1).map(e => e.fact_id -> ((e.dim_ver, e.dim_value))).toMap
    assert(out(500L) == ((None, None)), "fact before any version emits None")
    assert(out(501L) == ((Some(2L), Some(200.0))),
      "fact must be enriched by the LATE version 2 (ts 10:01), not version 1")
  }

  test("version state prunes to newest-at-watermark plus newer") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val facts = MemoryStream[Fact]
    val dims = MemoryStream[DimVersion]
    val query = temporalJoin(facts.toDS(), dims.toDS(), delay = "0 seconds")
      .writeStream.format("memory").queryName("tjp").outputMode("append").start()
    // three versions, watermark sweeps past all of them
    dims.addData(DimVersion(1, ts(10, 0), 1, 10.0),
      DimVersion(1, ts(10, 5), 2, 20.0), DimVersion(1, ts(10, 10), 3, 30.0))
    query.processAllAvailable()
    // a fact AFTER all versions, arriving after the watermark passed the
    // old versions: must still match version 3 (the retained newest)
    facts.addData(Fact(1, ts(10, 20), 600, 1.0))
    query.processAllAvailable()
    facts.addData(Fact(99, ts(11, 0), 901, 0.0))
    query.processAllAvailable()
    facts.addData(Fact(99, ts(11, 10), 902, 0.0))
    query.processAllAvailable()
    query.stop()
    val out = spark.table("tjp").as[Enriched].collect().filter(_.k == 1)
    assert(out.map(e => e.fact_id -> e.dim_ver).toMap == Map(600L -> Some(3L)))
  }

  test("processing-time temporal join enriches with the latest version seen so far") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val facts = MemoryStream[Fact]
    val dims = MemoryStream[DimVersion]
    val query = temporalJoinProcTime(facts.toDS(), dims.toDS())
      .writeStream.format("memory").queryName("tjproc").outputMode("append").start()
    // fact before any version: emits immediately with None
    facts.addData(Fact(1, ts(9, 0), 400, 1.0))
    query.processAllAvailable()
    dims.addData(DimVersion(1, ts(9, 30), 1, 100.0))
    query.processAllAvailable()
    // same-trigger version+fact: the fact sees the new version (dims
    // apply first within a micro-batch)
    dims.addData(DimVersion(1, ts(10, 0), 2, 200.0))
    facts.addData(Fact(1, ts(10, 0), 401, 2.0))
    query.processAllAvailable()
    // a fact with an OLDER event time still gets the latest version —
    // processing-time semantics ignore event time
    facts.addData(Fact(1, ts(9, 10), 402, 3.0))
    query.processAllAvailable()
    query.stop()
    val out = spark.table("tjproc").as[Enriched].collect()
      .map(e => e.fact_id -> e.dim_ver).toMap
    assert(out == Map(400L -> None, 401L -> Some(2L), 402L -> Some(2L)))
  }

  test("idle retention reclaims version state for quiet keys") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val facts = MemoryStream[Fact]
    val dims = MemoryStream[DimVersion]
    val query = temporalJoin(facts.toDS(), dims.toDS(), delay = "0 seconds",
      idleRetentionMs = Some(60 * 1000L)) // 1 minute of watermark time
      .writeStream.format("memory").queryName("tjidle").outputMode("append").start()
    dims.addData(DimVersion(1, ts(10, 0), 1, 100.0))
    query.processAllAvailable() // key-1 idle timer armed at wm + 1 min
    // push the watermark far past the retention horizon, plus one more
    // trigger so the expiry timeout actually fires
    facts.addData(Fact(99, ts(10, 30), 900, 0.0))
    query.processAllAvailable()
    facts.addData(Fact(99, ts(10, 40), 901, 0.0))
    query.processAllAvailable()
    // a fact for key 1 AFTER expiry: version state is gone -> None
    facts.addData(Fact(1, ts(10, 50), 500, 1.0))
    query.processAllAvailable()
    facts.addData(Fact(99, ts(11, 30), 902, 0.0))
    query.processAllAvailable()
    facts.addData(Fact(99, ts(11, 40), 903, 0.0))
    query.processAllAvailable()
    query.stop()
    val out = spark.table("tjidle").as[Enriched].collect()
      .filter(_.k == 1).map(e => e.fact_id -> e.dim_ver).toMap
    assert(out == Map(500L -> None),
      s"expired version must not enrich a later fact, got $out")
  }

  test("batch collapse matches the q63 as-of join on the events fixture") {
    import spark.implicits._
    val ev = graft.core.Catalog.load(spark, sf(), "events")
      .select("user_id", "ts", "event_id", "value", "event_type")
    val facts = ev.filter($"event_type" === "purchase")
      .map(r => Fact(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    val dims = ev.filter($"event_type" === "view")
      .map(r => DimVersion(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    val got = temporalJoin(facts, dims, delay = "0 seconds")
      .collect().map(e => e.fact_id -> e.dim_ver.getOrElse(-1L)).toMap

    val oracle = graft.SparkEntry.queries("q63_asof_join")(spark, sf())
      .collect().map { r =>
        r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3))
      }.toMap
    assert(got.size == oracle.size)
    val diff = got.collect { case (k, v) if oracle(k) != v => (k, v, oracle(k)) }
    assert(diff.isEmpty, s"mismatched enrichments (first 5): ${diff.take(5)}")
  }

  test("a non-orderable version or tie-break column fails when the join " +
    "is built, on both the row-time and the proc-time join") {
    import spark.implicits._
    val t = new Timestamp(0L)
    val facts = Seq((1L, t, 10L)).toDF("k", "ts", "fid")
    val binVer = Seq((1L, t, Array[Byte](1), 1.0), (1L, t, Array[Byte](2), 2.0))
      .toDF("k", "ts", "ver", "rate")
    val joins: Seq[(String, (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, Seq[String]) => Any)] = Seq(
      "temporalJoin" -> ((f, d, tie) => TemporalJoinAny.temporalJoin(f, d,
        Seq("k"), "ts", dimVerCols = Seq("ver"), factTieBreak = tie)),
      "temporalJoinProcTime" -> ((f, d, tie) =>
        TemporalJoinAny.temporalJoinProcTime(f, d, Seq("k"), "ts",
          dimVerCols = Seq("ver"), factTieBreak = tie)))
    joins.foreach { case (name, join) =>
      // building the DataFrame runs no job: the error comes before any
      // task could meet the column's bytes
      val e = intercept[IllegalArgumentException](
        join(facts, binVer, Seq("fid")))
      assert(e.getMessage.contains("'ver'") &&
        e.getMessage.contains("non-comparable"), s"$name: ${e.getMessage}")
      val f2 = facts.withColumn("tags", org.apache.spark.sql.functions
        .array($"fid"))
      val dims = binVer.withColumn("ver", $"rate")
      val e2 = intercept[IllegalArgumentException](join(f2, dims, Seq("tags")))
      assert(e2.getMessage.contains("'tags'"), s"$name: ${e2.getMessage}")
    }
  }
}
