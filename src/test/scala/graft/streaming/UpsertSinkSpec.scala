package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

private[streaming] case class Ev(k: Long, ver: Long, payload: String)

/** The upsert sink's cross-batch contract: `current` always holds the
  * latest row per key — new keys insert, existing keys overwrite, absent
  * keys survive, within-batch duplicates collapse before the merge. */
class UpsertSinkSpec extends SparkSpec {

  test("upsert maintains latest-row-per-key across micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("upsert-spec").toString
    val input = MemoryStream[Ev]
    val q = UpsertSink.upsertWriter(input.toDF(), Seq("k"), Seq("ver"), dir)
      .start()
    // batch 1: two keys, key 1 has a within-batch duplicate (ver 2 wins)
    input.addData(Ev(1, 1, "a"), Ev(1, 2, "b"), Ev(2, 1, "c"))
    q.processAllAvailable()
    val s1 = UpsertSink.currentState(spark, dir).as[Ev].collect()
      .map(e => e.k -> (e.ver, e.payload)).toMap
    assert(s1 == Map(1L -> (2L, "b"), 2L -> (1L, "c")))
    // batch 2: key 1 upserts again, key 3 inserts, key 2 untouched
    input.addData(Ev(1, 5, "d"), Ev(3, 1, "e"))
    q.processAllAvailable()
    q.stop()
    val s2 = UpsertSink.currentState(spark, dir).as[Ev].collect()
      .map(e => e.k -> (e.ver, e.payload)).toMap
    assert(s2 == Map(1L -> (5L, "d"), 2L -> (1L, "c"), 3L -> (1L, "e")))
  }

  test("batch caller: folding bounded frames through mergeBatch equals keep-last") {
    import spark.implicits._
    val dir = Files.createTempDirectory("upsert-batch").toString
    UpsertSink.mergeBatch(Seq(Ev(7, 1, "x"), Ev(8, 1, "y")).toDF(),
      Seq("k"), Seq("ver"), dir)
    UpsertSink.mergeBatch(Seq(Ev(7, 9, "z")).toDF(), Seq("k"), Seq("ver"), dir)
    val s = UpsertSink.currentState(spark, dir).as[Ev].collect()
      .map(e => e.k -> e.payload).toMap
    assert(s == Map(7L -> "z", 8L -> "y"))
  }

  test("bucketed upsert rewrites only the buckets a batch touches") {
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val dir = Files.createTempDirectory("upsert-bucketed").toString
    val n = 4
    // seed every bucket
    UpsertSink.mergeBatch((0L until 64L).map(k => Ev(k, 1, s"v$k")).toDF(),
      Seq("k"), Seq("ver"), dir, nBuckets = n)
    // the committed version dir per bucket: a rewritten bucket gets a
    // fresh v<n>, an untouched one keeps its path
    def bucketFiles(): Map[String, Set[String]] =
      UpsertSink.readManifest(spark, dir).map { case (b, v) =>
        s"b$b" -> JFiles.list(Paths.get(dir, s"b$b/v$v")).iterator().asScala
          .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
          .map((f: String) => s"v$v/$f")
      }
    val before = bucketFiles()
    assert(before.size == n, s"expected $n bucket dirs: ${before.keys}")
    // one-key batch touches exactly one bucket
    UpsertSink.mergeBatch(Seq(Ev(7, 9, "updated")).toDF(),
      Seq("k"), Seq("ver"), dir, nBuckets = n)
    val after = bucketFiles()
    val changed = after.keySet.filter(b => before(b) != after(b))
    assert(changed.size == 1, s"exactly one bucket should be rewritten: $changed")
    // and the state is still complete + correct
    val st = UpsertSink.currentState(spark, dir).as[Ev].collect()
      .map(e => e.k -> e.payload).toMap
    assert(st.size == 64 && st(7L) == "updated" && st(8L) == "v8")
  }

  test("merge is idempotent: re-applying the same batch reproduces the state") {
    import spark.implicits._
    // the property that makes per-bucket atomicity safe under streaming
    // batch replay (a failed batch re-runs with the same content)
    val dir = Files.createTempDirectory("upsert-idem").toString
    val b1 = Seq(Ev(1, 1, "a"), Ev(2, 1, "b")).toDF()
    val b2 = Seq(Ev(1, 5, "c"), Ev(3, 1, "d")).toDF()
    UpsertSink.mergeBatch(b1, Seq("k"), Seq("ver"), dir, nBuckets = 2)
    UpsertSink.mergeBatch(b2, Seq("k"), Seq("ver"), dir, nBuckets = 2)
    def state() = UpsertSink.currentState(spark, dir).as[Ev].collect()
      .map(e => e.k -> (e.ver, e.payload)).toMap
    val once = state()
    UpsertSink.mergeBatch(b2, Seq("k"), Seq("ver"), dir, nBuckets = 2) // replay
    assert(state() == once)
    // the retraction algebra is additive — NOT replay-idempotent — so the
    // sink tracks the applied batchId and skips an engine replay
    val rdir = Files.createTempDirectory("retract-idem").toString
    val c1 = Seq(Chg(1, 1, 10.0), Chg(2, 1, 7.0)).toDF()
    RetractSink.mergeBatch(c1, Seq("k"), "flag", "v", rdir, batchId = 0)
    RetractSink.mergeBatch(c1, Seq("k"), "flag", "v", rdir, batchId = 0) // replay
    def cnts() = UpsertSink.currentState(spark, rdir).as[St].collect()
      .map(s => s.k -> s.cnt).toMap
    assert(cnts() == Map(1L -> 1L, 2L -> 1L), "replayed batch must be skipped")
    // an id-less batch caller applies unconditionally (documented)
    RetractSink.mergeBatch(c1, Seq("k"), "flag", "v", rdir)
    assert(cnts() == Map(1L -> 2L, 2L -> 2L))
  }

  test("retract replay skipping is scoped by the marker id: stable across " +
      "restart = exactly-once; fresh per run = re-applied") {
    import spark.implicits._
    val rdir = Files.createTempDirectory("retract-stable").toString
    val c1 = Seq(Chg(1, 1, 10.0)).toDF()
    def cnts() = UpsertSink.currentState(spark, rdir).as[St].collect()
      .map(s => s.k -> s.cnt).toMap
    // run A applies batch 0; its checkpoint commit is "lost" to a crash
    RetractSink.mergeBatch(c1, Seq("k"), "flag", "v", rdir, batchId = 0,
      runId = "ckpt/loc")
    // restart with the SAME stable id: the engine re-runs batch 0 — the
    // marker recognizes it and the additive merge stays exactly-once
    RetractSink.mergeBatch(c1, Seq("k"), "flag", "v", rdir, batchId = 0,
      runId = "ckpt/loc")
    assert(cnts() == Map(1L -> 1L),
      "same stable id: replayed batch must be skipped across restart")
    // a DIFFERENT id (the default fresh-UUID posture, or a wiped
    // checkpoint restarting batchIds at 0) is a new scope: applied
    RetractSink.mergeBatch(c1, Seq("k"), "flag", "v", rdir, batchId = 0,
      runId = "run-B")
    assert(cnts() == Map(1L -> 2L),
      "different id: batch 0 of a new scope must apply")
  }

  test("retract sink applies the ± changelog; a fully retracted key disappears") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("retract-spec").toString
    val input = MemoryStream[Chg]
    val q = RetractSink.retractWriter(input.toDF(), Seq("k"), "flag", "v", dir)
      .start()
    // batch 1: key 1 accumulates twice, key 2 once
    input.addData(Chg(1, 1, 10.0), Chg(1, 1, 5.0), Chg(2, 1, 7.0))
    q.processAllAvailable()
    val s1 = UpsertSink.currentState(spark, dir).as[St].collect()
      .map(s => s.k -> (s.cnt, s.total)).toMap
    assert(s1 == Map(1L -> (2L, 15.0), 2L -> (1L, 7.0)))
    // batch 2: key 1 retracts one row, key 2 retracts fully -> dropped
    input.addData(Chg(1, -1, 10.0), Chg(2, -1, 7.0))
    q.processAllAvailable()
    q.stop()
    val s2 = UpsertSink.currentState(spark, dir).as[St].collect()
      .map(s => s.k -> (s.cnt, s.total)).toMap
    assert(s2 == Map(1L -> (1L, 5.0)))
  }

  test("read-back uses the recorded schema and runs no Spark job") {
    import spark.implicits._
    val single = Files.createTempDirectory("upsert-schema").toString
    val bucketed = Files.createTempDirectory("upsert-schema-b").toString
    val batch = Seq(Ev(1, 1, "a"), Ev(2, 1, "b"), Ev(3, 2, null)).toDF()
    Seq(single -> 1, bucketed -> 4).foreach { case (dir, n) =>
      UpsertSink.mergeBatch(batch, Seq("k"), Seq("ver"), dir, nBuckets = n)
      UpsertSink.mergeBatch(Seq(Ev(2, 5, "c")).toDF(), Seq("k"), Seq("ver"),
        dir, nBuckets = n)
    }
    val inferred = spark.read.parquet(UpsertSink.snapshotPath(spark, single).get.toString)
    def state(df: org.apache.spark.sql.DataFrame) =
      df.as[Ev].collect().map(e => e.k -> (e.ver, e.payload)).toMap
    val expected = Map(1L -> (1L, "a"), 2L -> (5L, "c"), 3L -> (2L, null))
    Seq(single, bucketed).foreach { dir =>
      val (df, jobs) = jobsDuring(UpsertSink.currentState(spark, dir))
      assert(jobs == 0, s"currentState ran $jobs jobs under $dir")
      assert(df.schema == inferred.schema, dir)
      assert(state(df) == expected, dir)
    }
    // a snapshot written before the record existed is read by inference
    Files.delete(java.nio.file.Paths.get(
      UpsertSink.snapshotPath(spark, single).get.toString, "_schema"))
    assert(state(UpsertSink.currentState(spark, single)) == expected)
  }

  test("the schema record commits with its snapshot: an unpublished " +
      "version is invisible to read-back") {
    import spark.implicits._
    val dir = Files.createTempDirectory("upsert-atomic").toString
    UpsertSink.mergeBatch(Seq(Ev(1, 1, "a")).toDF(), Seq("k"), Seq("ver"), dir)
    // a crashed attempt at the next version: files (a different schema
    // among them) staged, pointer never flipped
    Seq((1L, "x")).toDF("k", "other").write.parquet(s"$dir/v1")
    val (df, jobs) = jobsDuring(UpsertSink.currentState(spark, dir))
    assert(jobs == 0)
    assert(df.as[Ev].collect().toSeq == Seq(Ev(1, 1, "a")))
    // the next merge replaces the leftover and publishes its own record
    UpsertSink.mergeBatch(Seq(Ev(2, 1, "b")).toDF(), Seq("k"), Seq("ver"), dir)
    assert(UpsertSink.currentState(spark, dir).as[Ev].collect().map(_.k).toSet ==
      Set(1L, 2L))
  }
}

private[streaming] case class Chg(k: Long, flag: Int, v: Double)
private[streaming] case class St(k: Long, cnt: Long, total: Double)
