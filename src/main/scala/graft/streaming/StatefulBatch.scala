package graft.streaming

import org.apache.spark.sql.functions._

import graft.core.QueryDef

/** The stateful executors under the correctness gate:
  * `flatMapGroupsWithState` executes on batch Datasets too (one invocation
  * per key, empty initial state), where each operator's semantics collapse
  * to a SQL-expressible form — so the same code paths exercised by the
  * streaming specs are also hash-checked against DuckDB:
  *
  *  - top-n          → rank-by-value per key
  *  - keep-last      → latest row per key
  *  - running OVER   → SUM/COUNT/MAX OVER (… ROWS UNBOUNDED PRECEDING)
  *
  * The running aggregates are bit-deterministic because the executor sorts
  * each group's rows by the declared order key (ts, event_id) before
  * folding — the same sequence the oracle's window frame accumulates in.
  */
object StatefulBatch {

  def defs: Seq[QueryDef] =
    Seq(q72TopnState, q73KeepLastState, q74RunningOver, q88TemporalJoinState,
      q90CountTumble, q91CountSlide, q94RowsFrame, q95RangeFrame,
      q97WindowEarly, q110LateFire, q104UpsertSink, q105RetractApply,
      q120ProcRowsFrame, q121ProcRangeFrame, q124StreamReservoir,
      q150StreamSortAny, q158WindowEarlyAny, q159WindowLateAny,
      q160TemporalJoinAny, q161ProcRangeAny, q169SqlRankJoinStream,
      q170HopWindowAny, q171SessionWindowAny, q173SqlRankDerivedStream,
      q174SqlRankSubqueryJoinStream, q177SqlRankOverWindowedSubquery,
      q178SqlRankJoinWindowedSubquery, q179SqlRankNaturalJoin)

  /** Scale-adaptive parallelism for a bounded stream replay (r16
    * optimization, guide §2.2/§2.4). A replay's micro-batch volume is
    * knowable upfront — the file source lists its input — so shuffle
    * (= state-store) partitions are sized by DATA VOLUME,
    * ceil(bytes / 4 MB) clamped to [2, session cores], instead of
    * inheriting the session's core constant. Each stateful operator
    * pays a per-partition per-batch fixed cost (HDFSBackedStateStore
    * delta-file commit + load, task launch); at replay scale that
    * fixed cost dominates: q177 measured 16.0 s at 32 partitions vs
    * 4.7 s at 2–8 on the same 2 MB input (flat across 2–8, cliff past
    * 16), with identical results — per-key processing is independent
    * of partition count. The formula, not the constant, is the
    * contract: at 100 TB the same sizing saturates the cluster
    * (bytes/4 MB >> cores and the cores cap binds), exactly like the
    * reference sizing operator parallelism to the job, not to one
    * host.
    * The session's `spark.sql.shuffle.partitions` is restored on exit
    * (state partitioning is fixed at each query's first batch from the
    * setting's value at `start()`, so scoping it to the replay is
    * exact). */
  private[graft] def withReplayParallelism[T](
      spark: org.apache.spark.sql.SparkSession, dir: String)(f: => T): T = {
    val target = 4L * 1024 * 1024
    val p = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes =
      if (fs.exists(p)) fs.getContentSummary(p).getLength
      else 0L
    val cores = spark.sparkContext.defaultParallelism
    val parts = math.max(2L, math.min(cores.toLong,
      (bytes + target - 1) / target)).toInt
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, parts.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** Start a bounded replay under [[withReplayParallelism]] and drain it
    * (AvailableNow). State partitioning is captured at `start()`, so the
    * scope covers exactly the replay's batches — sinks' foreachBatch
    * merges included. */
  private[graft] def runReplay(spark: org.apache.spark.sql.SparkSession,
      dir: String)(w: org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row]): Unit =
    withReplayParallelism(spark, dir) {
      w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }

  /** GENERAL-SCHEMA proc-time bounded-RANGE OVER (r13 — the last OVER
    * shape that was Event-typed; reference
    * ProcTimeRangeBoundedPrecedingFunction.java) collapsed to batch: a
    * single batch is ONE processing-time instant, so every row of a key
    * is every other row's peer and the frame is the whole partition —
    * here keyed by the STRING event_type with a MIN measure. Horizon
    * eviction across micro-batches is spec'd with an injected clock in
    * OverAggregatesSpec. */
  val q161ProcRangeAny: QueryDef = QueryDef("q161_proc_range_any",
    """SELECT event_type, event_id,
      |  COUNT(*) OVER (PARTITION BY event_type) AS n_in_frame,
      |  round(SUM(value) OVER (PARTITION BY event_type), 4) AS frame_sum,
      |  MIN(value) OVER (PARTITION BY event_type) AS frame_min
      |FROM events
      |ORDER BY event_type, event_id""".stripMargin) { (spark, dir) =>
    WindowSql.sqlDf(graft.core.Catalog.load(spark, dir, "events"),
      """SELECT event_type, event_id,
        |  COUNT(*) OVER w AS n_in_frame,
        |  ROUND(SUM(value) OVER w, 4) AS frame_sum,
        |  MIN(value) OVER w AS frame_min
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY proctime, ts, event_id
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin)
      .orderBy(col("event_type"), col("event_id"))
  }

  /** GENERAL-SCHEMA streaming temporal join (r13; reference
    * TemporalRowTimeJoinOperator.java joins any two keyed row streams)
    * collapsed to batch: purchases enriched with the latest click per
    * user, carrying payload q88 projects away — the fact's event_type
    * string and the DIM ROW'S TIMESTAMP in the output. The oracle is DuckDB's own ASOF LEFT JOIN (tie-free on the
    * fixture: no same-user same-ts clicks). */
  val q160TemporalJoinAny: QueryDef = QueryDef("q160_temporal_join_any",
    """SELECT p.event_id, p.user_id, p.event_type,
      |  CAST(p.value AS DOUBLE) AS value,
      |  c.event_id AS dim_event_id, c.ts AS dim_ts, c.value AS dim_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin) { (spark, dir) =>
    val ev = graft.core.Catalog.load(spark, dir, "events")
    TemporalJoinAny.temporalJoin(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"), col("value")),
      keyCols = Seq("user_id"), tsCol = "ts",
      dimVerCols = Seq("event_id"), factTieBreak = Seq("event_id"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("dim_event_id"), col("dim_ts"), col("dim_value"))
      .orderBy(col("event_id"))
  }

  /** GENERAL-SCHEMA early-fire windowed aggregation (r13 — the last
    * streaming operator family that was Event-typed; reference
    * WindowEmitStrategy early fires on any registered table) collapsed to
    * batch: a 1-hour tumble keyed by the STRING event_type with MIN and
    * COUNT(DISTINCT) measures (q97/q110 are the user_id-keyed
    * COUNT/SUM shape). With no watermark every emission is the final one,
    * i.e. the plain tumbling aggregate the oracle hash-checks; the
    * partial-then-final sequence is pinned by `WindowAggAnySpec`. */
  val q158WindowEarlyAny: QueryDef = QueryDef("q158_window_early_any",
    """WITH e AS (
      |  SELECT event_type, user_id, value, epoch_us(ts) AS us FROM events)
      |SELECT event_type,
      |  us - (us % 3600000000) AS w_start_us,
      |  COUNT(*) AS n_events, round(SUM(value), 4) AS sum_value,
      |  MIN(value) AS min_value, COUNT(DISTINCT user_id) AS n_users,
      |  1 AS is_final
      |FROM e
      |GROUP BY 1, 2
      |ORDER BY event_type, w_start_us""".stripMargin) { (spark, dir) =>
    import graft.streaming.OverAggregates.Agg
    WindowAggAny.earlyLateFireWindowAgg(
      graft.core.Catalog.load(spark, dir, "events"),
      Seq("event_type"), "ts", Seq("event_id"),
      java.time.Duration.ofHours(1),
      Seq(Agg("COUNT", None, "n_events"), Agg("SUM", Some("value"), "sum_value"),
        Agg("MIN", Some("value"), "min_value"),
        Agg("COUNT", Some("user_id"), "n_users", distinct = true)))
      .select(col("event_type"), col("w_start_us"), col("n_events"),
        round(col("sum_value"), 4).as("sum_value"), col("min_value"),
        col("n_users"), col("is_final"))
      .orderBy(col("event_type"), col("w_start_us"))
  }

  /** GENERAL-SCHEMA allowed-lateness windowed aggregation (reference
    * late fires / `AfterEndOfWindow#withLateFirings` on any table)
    * collapsed to batch: composite (user_id, event_type) key with an AVG
    * measure. Every row folds before the single batch emission — the
    * plain tumbling aggregate the oracle hash-checks; the partial →
    * final → late-final sequence and the beyond-horizon drop are pinned
    * by `WindowAggAnySpec`. */
  val q159WindowLateAny: QueryDef = QueryDef("q159_window_late_any",
    """WITH e AS (
      |  SELECT user_id, event_type, value, epoch_us(ts) AS us FROM events)
      |SELECT user_id, event_type,
      |  us - (us % 3600000000) AS w_start_us,
      |  COUNT(*) AS n_events, round(AVG(value), 4) AS avg_value,
      |  MAX(value) AS max_value,
      |  1 AS is_final
      |FROM e
      |GROUP BY 1, 2, 3
      |ORDER BY user_id, event_type, w_start_us""".stripMargin) { (spark, dir) =>
    import graft.streaming.OverAggregates.Agg
    WindowAggAny.earlyLateFireWindowAgg(
      graft.core.Catalog.load(spark, dir, "events"),
      Seq("user_id", "event_type"), "ts", Seq("event_id"),
      java.time.Duration.ofHours(1),
      Seq(Agg("COUNT", None, "n_events"), Agg("AVG", Some("value"), "avg_value"),
        Agg("MAX", Some("value"), "max_value")),
      delay = java.time.Duration.ZERO,
      allowedLateness = java.time.Duration.ofMinutes(10))
      .select(col("user_id"), col("event_type"), col("w_start_us"),
        col("n_events"), round(col("avg_value"), 4).as("avg_value"),
        col("max_value"), col("is_final"))
      .orderBy(col("user_id"), col("event_type"), col("w_start_us"))
  }

  /** GENERAL-SCHEMA streaming event-time sort (r12 — the last stateful
    * operator that was Event-typed; reference RowTimeSortOperator via
    * StreamExecSort) collapsed to batch: the orders fact re-ordered on
    * (o_orderdate, o_orderkey). The gate hashes the multiset (full row
    * content); the EMISSION-ORDER contract — rows release in event-time
    * order as the watermark advances — is pinned by `RowSortSpec`. */
  val q150StreamSortAny: QueryDef = QueryDef("q150_stream_sort_any",
    """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
      |FROM orders
      |ORDER BY o_orderdate, o_orderkey""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.functions.col
    RowSort.sortByEventTime(
      graft.core.Catalog.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice")),
      Seq("o_orderdate", "o_orderkey"))
  }

  /** Bounded stream over the events fixture, layout-adaptive: the driver
    * fixture is a single `events.parquet` FILE inside `dir` (the file
    * source lists a directory, so a glob filter scopes it away from the
    * sibling tables); ScaleGen's scaled fixtures write `events.parquet`
    * as a DIRECTORY of part files — list that directly. The SF1 soak
    * caught the glob variant reading zero files against the directory
    * layout (empty stream → no committed snapshot), so both layouts are
    * handled here, once, for every sink query. */
  private def eventsStream(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val p = s"$dir/events.parquet"
    val reader = spark.readStream.schema(graft.core.Catalog.schemas("events"))
    // Resolve the layout through Hadoop's FileSystem, not java.io.File:
    // a local File.isDirectory is silently false for any non-local URI
    // (hdfs://, s3a://), which would misroute a directory fixture into
    // the glob branch — the exact empty-stream bug this helper fixes.
    val hPath = new org.apache.hadoop.fs.Path(p)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(hPath) && fs.getFileStatus(hPath).isDirectory)
      reader.parquet(p)
    else reader.option("pathGlobFilter", "events.parquet").parquet(dir)
  }

  /** The events fixture as a bounded stream WITH a watermark sentinel
    * (r16) — the harness rendering of Flink's end-of-bounded-input
    * MAX_WATERMARK: event-time executors (the streaming OVER family)
    * emit a row only once the watermark passes its timestamp, and the
    * fixture's sub-millisecond timestamps keep the ms-floored watermark
    * short of the last real row forever. A single far-future sentinel
    * row (event_id/user_id = -1, ts 10 years past the data, with a
    * 500 µs sub-ms offset so the sentinel ITSELF never ripens and emits
    * nothing) pushes the watermark past every real row — the same
    * contract the 10M-event soaks pin (`StreamSoak`: "sentinel watermark
    * push as final files"). Real fixture files are hardlinked (copy
    * fallback) into a temp dir next to the sentinel file.
    *
    * `perKey = true` (r16, for MEASURES-side NEXT delayed emission):
    * ONE sentinel row per user_id, at a WHOLE-millisecond timestamp so
    * the ms-floored watermark reaches it and the sentinels CLOSE — each
    * key's held tail match then sees its successor row (the sentinel,
    * event_id −1 / value 0.0, mirrored by the oracle) and emits. */
  private[graft] def sentinelEventsStream(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, perKey: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    import java.nio.file.{Files, Path, Paths}
    val tmp = Files.createTempDirectory("graft-wm-sentinel")
    def link(from: Path, to: Path): Unit =
      try { Files.createLink(to, from); () }
      catch { case _: Exception => Files.copy(from, to); () }
    val src = Paths.get(dir, "events.parquet")
    if (Files.isDirectory(src)) {
      val it = Files.list(src).iterator()
      var i = 0
      while (it.hasNext) {
        val f = it.next()
        if (f.getFileName.toString.endsWith(".parquet")) {
          link(f, tmp.resolve(f"data_$i%05d.parquet")); i += 1
        }
      }
    } else link(src, tmp.resolve("data.parquet"))
    val events = graft.core.Catalog.load(spark, dir, "events")
    val maxTs = events
      .agg(org.apache.spark.sql.functions.max("ts")).head().getTimestamp(0)
    // single-sentinel mode keeps a 500 µs sub-ms offset (the ms-floored
    // watermark stays short of it: the sentinel itself never ripens);
    // per-key mode lands on the whole millisecond (the sentinels CLOSE)
    val sentinelUs = maxTs.getTime * 1000L +
      10L * 365 * 24 * 3600 * 1000000L + (if (perKey) 0L else 500L)
    val staging = tmp.resolve("staging")
    val sentinelCols = Seq(
      "CAST(-1 AS BIGINT) AS event_id",
      s"timestamp_micros(${sentinelUs}L) AS ts",
      if (perKey) "user_id" else "CAST(-1 AS BIGINT) AS user_id",
      "'sentinel' AS event_type",
      "CAST(0.0 AS DOUBLE) AS value",
      "CAST(NULL AS STRING) AS props")
    (if (perKey)
      events.select(org.apache.spark.sql.functions.col("user_id")).distinct()
        .selectExpr(sentinelCols: _*)
     else spark.sql(s"SELECT ${sentinelCols.mkString(", ")}"))
      .coalesce(1).write.parquet(staging.toString)
    val part = Files.list(staging).iterator()
    var moved = false
    while (part.hasNext) {
      val f = part.next()
      if (f.getFileName.toString.endsWith(".parquet")) {
        Files.move(f, tmp.resolve("zz_sentinel.parquet")); moved = true
      }
    }
    require(moved, "internal: sentinel parquet part file not produced")
    spark.readStream.schema(graft.core.Catalog.schemas("events"))
      .option("pathGlobFilter", "*.parquet").parquet(tmp.toString)
  }

  /** The upsert sink replayed over the events fixture as a bounded
    * stream (AvailableNow), then the sink's state table read back:
    * maintaining latest-row-per-key through the foreachBatch merge must
    * equal keep-last dedup over the whole input — the upsert analogue of
    * the batch-collapse contract above. */
  /** r14: GENERAL-SCHEMA early/late-fire over HOP (sliding) windows —
    * the emit strategy composed with the reference's SlidingWindowAssigner
    * (WindowEmitStrategy applies to any assigner;
    * SlidingWindowAssigner.java:40) — collapsed to batch: a 1-hour
    * window sliding by 30 minutes keyed by event_type, so every row
    * lands in exactly two windows; with no watermark every emission is
    * the final one, i.e. the plain sliding aggregate the oracle
    * hash-checks (the oracle unrolls the two slide offsets). The
    * partial → final sequence and per-window independent closing are
    * pinned by `WindowAggAnySpec`. */
  val q170HopWindowAny: QueryDef = QueryDef("q170_hop_window_any",
    """WITH e AS (
      |  SELECT event_type, user_id, value, epoch_us(ts) AS us FROM events)
      |SELECT event_type,
      |  us - (us % 1800000000) - k * 1800000000 AS w_start_us,
      |  COUNT(*) AS n_events, round(SUM(value), 4) AS sum_value,
      |  MAX(value) AS max_value, COUNT(DISTINCT user_id) AS n_users,
      |  1 AS is_final
      |FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k) ks
      |GROUP BY 1, 2
      |ORDER BY event_type, w_start_us""".stripMargin) { (spark, dir) =>
    import graft.streaming.OverAggregates.Agg
    WindowAggAny.earlyLateFireHopAgg(
      graft.core.Catalog.load(spark, dir, "events"),
      Seq("event_type"), "ts", Seq("event_id"),
      size = java.time.Duration.ofHours(1),
      slide = java.time.Duration.ofMinutes(30),
      Seq(Agg("COUNT", None, "n_events"), Agg("SUM", Some("value"), "sum_value"),
        Agg("MAX", Some("value"), "max_value"),
        Agg("COUNT", Some("user_id"), "n_users", distinct = true)))
      .select(col("event_type"), col("w_start_us"), col("n_events"),
        round(col("sum_value"), 4).as("sum_value"), col("max_value"),
        col("n_users"), col("is_final"))
      .orderBy(col("event_type"), col("w_start_us"))
  }

  /** r14: GENERAL-SCHEMA early/late-fire over SESSION windows — the
    * emit strategy composed with the reference's merging
    * SessionWindowAssigner (SessionWindowAssigner.java:37) — collapsed
    * to batch: 30-minute-gap sessions per user_id; one invocation per
    * key sees every row, so the emitted finals are exactly the
    * gaps-and-islands session aggregate the oracle computes (ordered
    * deterministically by (us, event_id) so tied timestamps island
    * identically). Merging, early fires, lateness extension and the
    * beyond-horizon drop are pinned by `WindowAggAnySpec`. */
  val q171SessionWindowAny: QueryDef = QueryDef("q171_session_window_any",
    """WITH e AS (
      |  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events),
      |m AS (SELECT user_id, event_id, value, us,
      |  CASE WHEN us - lag(us) OVER (PARTITION BY user_id
      |                               ORDER BY us, event_id) >= 1800000000
      |       THEN 1 ELSE 0 END AS brk
      |  FROM e),
      |g AS (SELECT user_id, value, us,
      |  SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                 ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m)
      |SELECT user_id, MIN(us) AS w_start_us, COUNT(*) AS n_events,
      |  round(SUM(value), 4) AS sum_value, MIN(value) AS min_value,
      |  1 AS is_final
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, w_start_us""".stripMargin) { (spark, dir) =>
    import graft.streaming.OverAggregates.Agg
    WindowAggAny.earlyLateFireSessionAgg(
      graft.core.Catalog.load(spark, dir, "events"),
      Seq("user_id"), "ts", Seq("event_id"),
      gap = java.time.Duration.ofMinutes(30),
      Seq(Agg("COUNT", None, "n_events"), Agg("SUM", Some("value"), "sum_value"),
        Agg("MIN", Some("value"), "min_value")))
      .select(col("user_id"), col("w_start_us"), col("n_events"),
        round(col("sum_value"), 4).as("sum_value"), col("min_value"),
        col("is_final"))
      .orderBy(col("user_id"), col("w_start_us"))
  }

  /** r14: the front door's streaming rank over a STREAM-STATIC JOIN
    * (reference: rank over a joined stream is plain FlinkStreamRuleSets
    * composition — no one-table restriction). The events fixture replays
    * as a bounded stream, joins a static cohort dim inside the routed
    * statement (WindowSql splices the rank executor over the join Spark
    * analyzes natively), and the append changelog
    * collapses through the upsert sink: for a keep-1 rank the emissions
    * per key improve monotonically, so latest-by-(value, event_id) IS
    * the final top-1 — the same answer DuckDB computes directly. */
  val q169SqlRankJoinStream: QueryDef = QueryDef("q169_sql_rank_join_stream",
    """WITH d AS (SELECT DISTINCT user_id AS uid, user_id % 5 AS cohort
      |           FROM events)
      |SELECT cohort, user_id, event_id, value FROM (
      |  SELECT d.cohort, e.user_id, e.event_id, e.value,
      |    ROW_NUMBER() OVER (PARTITION BY d.cohort
      |                       ORDER BY e.value DESC, e.event_id DESC) AS rn
      |  FROM events e JOIN d ON e.user_id = d.uid)
      |WHERE rn = 1
      |ORDER BY cohort""".stripMargin) { (spark, dir) =>
    eventsStream(spark, dir).createOrReplaceTempView("graft_sql_stream")
    graft.core.Catalog.load(spark, dir, "events")
      .select(col("user_id").as("uid"), (col("user_id") % 5).as("cohort"))
      .distinct()
      .createOrReplaceTempView("graft_sql_dim")
    val routed = graft.Sql.sql(spark,
      """SELECT cohort, user_id, event_id, value FROM (
        |  SELECT cohort, user_id, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY cohort
        |                       ORDER BY value DESC, event_id DESC) AS rn
        |  FROM graft_sql_stream s JOIN graft_sql_dim d
        |    ON s.user_id = d.uid)
        |WHERE rn = 1""".stripMargin)
    require(routed.isStreaming, "the routed rank-over-join must stream")
    val sinkDir =
      java.nio.file.Files.createTempDirectory("graft-sqljoin").toString
    runReplay(spark, dir)(UpsertSink
      .upsertWriter(routed, Seq("cohort"), Seq("value", "event_id"), sinkDir,
        outputMode = "append"))
    UpsertSink.currentState(spark, sinkDir)
      .select(col("cohort"), col("user_id"), col("event_id"), col("value"))
      .orderBy(col("cohort"))
  }

  /** r15: the front door's streaming rank over a DERIVED TABLE — the
    * most common SQL idiom after a plain table (reference: rank over any
    * stream subtree is plain FlinkStreamRuleSets composition feeding
    * StreamExecRank.scala). The inner filtered/projected subquery is the
    * rank Project's child: Spark analyzes it (it stays a stream) and
    * WindowSql runs the rank executor over it. Collapse contract as q169: keep-1 emissions improve
    * monotonically, so the upsert sink's latest-by-(value, event_id) IS
    * the final top-1 per key. */
  val q173SqlRankDerivedStream: QueryDef = QueryDef(
    "q173_sql_rank_derived_stream",
    """SELECT user_id, event_id, value FROM (
      |  SELECT user_id, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY value DESC, event_id DESC) AS rn
      |  FROM (SELECT user_id, event_id, value * 2 AS value
      |        FROM events WHERE event_type = 'click') t) z
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    eventsStream(spark, dir).createOrReplaceTempView("graft_sql_stream")
    val routed = graft.Sql.sql(spark,
      """SELECT user_id, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY value DESC, event_id DESC) AS rn
        |  FROM (SELECT user_id, event_id, value * 2 AS value
        |        FROM graft_sql_stream WHERE event_type = 'click') t)
        |WHERE rn = 1""".stripMargin)
    require(routed.isStreaming, "the routed rank-over-derived-table must stream")
    val sinkDir =
      java.nio.file.Files.createTempDirectory("graft-sqlsub").toString
    runReplay(spark, dir)(UpsertSink
      .upsertWriter(routed, Seq("user_id"), Seq("value", "event_id"), sinkDir,
        outputMode = "append"))
    UpsertSink.currentState(spark, sinkDir)
      .select(col("user_id"), col("event_id"), col("value"))
      .orderBy(col("user_id"))
  }

  /** r15: streaming rank over a SUBQUERY-UNDER-JOIN — a window-free
    * derived table feeding a stream-static join feeding the rank
    * executor (Spark analyzes the whole join with its derived table;
    * WindowSql runs the rank executor over it). Same collapse contract
    * as q169. */
  val q174SqlRankSubqueryJoinStream: QueryDef = QueryDef(
    "q174_sql_rank_subquery_join_stream",
    """WITH d AS (SELECT DISTINCT user_id AS uid, user_id % 5 AS cohort
      |           FROM events)
      |SELECT cohort, user_id, event_id, value FROM (
      |  SELECT d.cohort, s.user_id, s.event_id, s.value,
      |    ROW_NUMBER() OVER (PARTITION BY d.cohort
      |                       ORDER BY s.value DESC, s.event_id DESC) AS rn
      |  FROM (SELECT user_id, event_id, value FROM events
      |        WHERE event_type = 'purchase') s
      |  JOIN d ON s.user_id = d.uid)
      |WHERE rn = 1
      |ORDER BY cohort""".stripMargin) { (spark, dir) =>
    eventsStream(spark, dir).createOrReplaceTempView("graft_sql_stream")
    graft.core.Catalog.load(spark, dir, "events")
      .select(col("user_id").as("uid"), (col("user_id") % 5).as("cohort"))
      .distinct()
      .createOrReplaceTempView("graft_sql_dim")
    val routed = graft.Sql.sql(spark,
      """SELECT cohort, user_id, event_id, value FROM (
        |  SELECT cohort, user_id, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY cohort
        |                       ORDER BY value DESC, event_id DESC) AS rn
        |  FROM (SELECT user_id, event_id, value FROM graft_sql_stream
        |        WHERE event_type = 'purchase') s
        |  JOIN graft_sql_dim d ON s.user_id = d.uid)
        |WHERE rn = 1""".stripMargin)
    require(routed.isStreaming, "the routed rank-over-subquery-join must stream")
    val sinkDir =
      java.nio.file.Files.createTempDirectory("graft-sqlsubjoin").toString
    runReplay(spark, dir)(UpsertSink
      .upsertWriter(routed, Seq("cohort"), Seq("value", "event_id"), sinkDir,
        outputMode = "append"))
    UpsertSink.currentState(spark, sinkDir)
      .select(col("cohort"), col("user_id"), col("event_id"), col("value"))
      .orderBy(col("cohort"))
  }

  /** r16: streaming rank over a derived table that ITSELF computes a
    * streaming OVER aggregate — the round-15 dialect seam closed
    * (reference: rank composes over any stream subtree,
    * FlinkStreamRuleSets feeding StreamExecRank.scala:56 region). The
    * front door splices the streaming OVER executor under the windowed
    * subquery, then the rank executor over its output — two chained
    * stateful executors in ONE statement. The watermark sentinel
    * ([[sentinelEventsStream]]) flushes the OVER executor's tail, the
    * Flink bounded-input MAX_WATERMARK contract; the sentinel's own key
    * never ripens, so it emits nothing. Collapse contract as q169/q173:
    * keep-1 rank emissions improve monotonically in (s, event_id), so
    * the upsert sink's latest-by-(s, event_id) IS the final top-1. */
  val q177SqlRankOverWindowedSubquery: QueryDef = QueryDef(
    "q177_sql_rank_over_windowed_subquery",
    """WITH t AS (
      |  SELECT user_id, event_id,
      |    SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      |  FROM events)
      |SELECT user_id, event_id, round(s, 4) AS s FROM (
      |  SELECT user_id, event_id, s,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY s DESC, event_id DESC) AS rn
      |  FROM t) z
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    sentinelEventsStream(spark, dir)
      .createOrReplaceTempView("graft_sql_stream_wm")
    val routed = graft.Sql.sql(spark,
      """SELECT user_id, event_id, s FROM (
        |  SELECT user_id, event_id, s,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY s DESC, event_id DESC) AS rn
        |  FROM (SELECT user_id, event_id,
        |          SUM(value) OVER (PARTITION BY user_id
        |            ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |        FROM graft_sql_stream_wm) t)
        |WHERE rn = 1""".stripMargin)
    require(routed.isStreaming,
      "the routed rank-over-windowed-subquery must stream")
    val sinkDir =
      java.nio.file.Files.createTempDirectory("graft-sqlnested").toString
    runReplay(spark, dir)(UpsertSink
      .upsertWriter(routed, Seq("user_id"), Seq("s", "event_id"), sinkDir,
        outputMode = "append"))
    UpsertSink.currentState(spark, sinkDir)
      .select(col("user_id"), col("event_id"), round(col("s"), 4).as("s"))
      .orderBy(col("user_id"))
  }

  /** r16: streaming rank over a JOIN whose derived table computes a
    * streaming OVER aggregate — the windowed subquery runs the OVER
    * executor, joins the static cohort dim, and the rank
    * executor keys on the dim column. Same sentinel + collapse contract
    * as q177; the sentinel user (-1) is additionally dropped by the
    * inner join (not in the dim).
    *
    * The windowed metric is a running COUNT, deliberately: ranking
    * ACROSS users on a windowed SUM(double) is engine-float-fragile —
    * the sf1 tiled fixtures put mathematically-equal running sums (the
    * same base user in two replicas) in ONE cohort partition, and
    * whether that is a tie then hangs on summation ORDER (DuckDB's
    * windowed sum is segment-tree-combined, Spark's is sequential), so
    * the two engines rank different rows first. COUNT is exact on both
    * sides, ties are exact ties, and the event_id tie-break decides
    * identically at every scale; the composition under test (rank over
    * a joined windowed derived table) is unchanged, and OVER-SUM
    * semantics keep their own single-partition-safe oracles
    * (q94/q95/q133-q138, q177). */
  val q178SqlRankJoinWindowedSubquery: QueryDef = QueryDef(
    "q178_sql_rank_join_windowed_subquery",
    """WITH t AS (
      |  SELECT user_id, event_id,
      |    COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      |  FROM events),
      |d AS (SELECT DISTINCT user_id AS uid, user_id % 5 AS cohort
      |      FROM events)
      |SELECT cohort, user_id, event_id, s FROM (
      |  SELECT d.cohort, t.user_id, t.event_id, t.s,
      |    ROW_NUMBER() OVER (PARTITION BY d.cohort
      |                       ORDER BY t.s DESC, t.event_id DESC) AS rn
      |  FROM t JOIN d ON t.user_id = d.uid) z
      |WHERE rn = 1
      |ORDER BY cohort""".stripMargin) { (spark, dir) =>
    sentinelEventsStream(spark, dir)
      .createOrReplaceTempView("graft_sql_stream_wm2")
    graft.core.Catalog.load(spark, dir, "events")
      .select(col("user_id").as("uid"), (col("user_id") % 5).as("cohort"))
      .distinct()
      .createOrReplaceTempView("graft_sql_dim_wm")
    val routed = graft.Sql.sql(spark,
      """SELECT cohort, user_id, event_id, s FROM (
        |  SELECT cohort, user_id, event_id, s,
        |    ROW_NUMBER() OVER (PARTITION BY cohort
        |                       ORDER BY s DESC, event_id DESC) AS rn
        |  FROM (SELECT user_id, event_id,
        |          COUNT(*) OVER (PARTITION BY user_id
        |            ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |        FROM graft_sql_stream_wm2) t
        |  JOIN graft_sql_dim_wm d ON t.user_id = d.uid)
        |WHERE rn = 1""".stripMargin)
    require(routed.isStreaming,
      "the routed rank-over-joined-windowed-subquery must stream")
    val sinkDir =
      java.nio.file.Files.createTempDirectory("graft-sqlnestedj").toString
    runReplay(spark, dir)(UpsertSink
      .upsertWriter(routed, Seq("cohort"), Seq("s", "event_id"), sinkDir,
        outputMode = "append"))
    UpsertSink.currentState(spark, sinkDir)
      .select(col("cohort"), col("user_id"), col("event_id"), col("s"))
      .orderBy(col("cohort"))
  }

  /** r16: NATURAL JOIN on the streaming rank route — the r15 loud
    * rejection replaced by resolving the common columns (here exactly
    * `user_id`) to a USING join, the same resolution as Spark's own
    * ResolveNaturalAndUsingJoin and the reference's Calcite parser.
    * Collapse contract as q169. */
  val q179SqlRankNaturalJoin: QueryDef = QueryDef(
    "q179_sql_rank_natural_join",
    """WITH d AS (SELECT DISTINCT user_id, user_id % 5 AS cohort
      |           FROM events)
      |SELECT cohort, user_id, event_id, value FROM (
      |  SELECT cohort, user_id, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY cohort
      |                       ORDER BY value DESC, event_id DESC) AS rn
      |  FROM events NATURAL JOIN d)
      |WHERE rn = 1
      |ORDER BY cohort""".stripMargin) { (spark, dir) =>
    eventsStream(spark, dir).createOrReplaceTempView("graft_sql_stream_nat")
    graft.core.Catalog.load(spark, dir, "events")
      .select(col("user_id"), (col("user_id") % 5).as("cohort"))
      .distinct()
      .createOrReplaceTempView("graft_sql_dim_nat")
    val routed = graft.Sql.sql(spark,
      """SELECT cohort, user_id, event_id, value FROM (
        |  SELECT cohort, user_id, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY cohort
        |                       ORDER BY value DESC, event_id DESC) AS rn
        |  FROM graft_sql_stream_nat NATURAL JOIN graft_sql_dim_nat)
        |WHERE rn = 1""".stripMargin)
    require(routed.isStreaming, "the routed rank-over-natural-join must stream")
    val sinkDir =
      java.nio.file.Files.createTempDirectory("graft-sqlnat").toString
    runReplay(spark, dir)(UpsertSink
      .upsertWriter(routed, Seq("cohort"), Seq("value", "event_id"), sinkDir,
        outputMode = "append"))
    UpsertSink.currentState(spark, sinkDir)
      .select(col("cohort"), col("user_id"), col("event_id"), col("value"))
      .orderBy(col("cohort"))
  }

  val q104UpsertSink: QueryDef = QueryDef("q104_upsert_sink",
    """SELECT user_id, event_id, event_type, value FROM (
      |  SELECT user_id, event_id, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    val sinkDir = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val stream = eventsStream(spark, dir)
    runReplay(spark, dir)(UpsertSink
      .upsertWriter(stream, Seq("user_id"), Seq("ts", "event_id"), sinkDir,
        nBuckets = 8))
    UpsertSink.currentState(spark, sinkDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .orderBy(col("user_id"))
  }

  /** The retract sink replayed over a VALID retract changelog derived
    * from the events fixture — every retract message mirrors an
    * accumulate message (same key, same value), the reference contract
    * (a RetractStreamTableSink's retract rows are the previously emitted
    * rows). Rows with `event_id % 3 == 0` get a mirrored retract twin;
    * users with `user_id % 97 == 0` are retracted IN FULL, exercising
    * the full-retraction drop (cnt back to 0 removes the key). The
    * mirror invariant is load-bearing: at a zero-crossing the sink drops
    * the key's state (exactly the reference's record-count-zero state
    * clear, GroupAggFunction), which is lossless only because mirrored
    * retracts leave total ~ 0 there. The soak's round-10 leg fed an
    * UNMIRRORED signed stream and measured 97k keys of total drift at
    * 22 batches — that is the sink faithfully implementing reference
    * semantics on an input that violates the retract-stream invariant,
    * recorded in SCALE.md §Round 11. Totals compared at 4dp (incremental
    * double folds; same trade as q74). */
  val q105RetractApply: QueryDef = QueryDef("q105_retract_apply",
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt,
      |  round(SUM(value), 4) AS total
      |FROM events
      |WHERE event_type IN ('click', 'error')
      |  AND NOT (event_id % 3 = 0 OR user_id % 97 = 0)
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    val sinkDir = java.nio.file.Files.createTempDirectory("graft-retract").toString
    val changelog = eventsStream(spark, dir)
      .filter(col("event_type").isin("click", "error"))
      .withColumn("flag", explode(
        when(col("event_id") % 3 === 0 || col("user_id") % 97 === 0,
          array(lit(1), lit(-1))).otherwise(array(lit(1)))))
    runReplay(spark, dir)(RetractSink
      .retractWriter(changelog, Seq("user_id"), "flag", "value", sinkDir))
    UpsertSink.currentState(spark, sinkDir)
      .select(col("user_id"), col("cnt"), round(col("total"), 4).as("total"))
      .orderBy(col("user_id"))
  }

  /** The events table in its five event columns (user_id, event_id, ts,
    * event_type, value). */
  private def events(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.core.Catalog.load(spark, dir, "events")
      .select("user_id", "event_id", "ts", "event_type", "value")

  /** COUNT(*) / SUM(value) / MAX(value) under the given output names. */
  private[graft] def countSumMax(cnt: String, sum: String,
      max: String): Seq[OverAggregates.Agg] =
    Seq(OverAggregates.Agg("COUNT", None, cnt),
      OverAggregates.Agg("SUM", Some("value"), sum),
      OverAggregates.Agg("MAX", Some("value"), max))

  /** The per-window COUNT(*) / SUM(value) q97/q110 (and the soak's
    * early/late-fire legs) declare. */
  private[graft] val userWindowAggs: Seq[OverAggregates.Agg] =
    Seq(OverAggregates.Agg("COUNT", None, "n_events"),
      OverAggregates.Agg("SUM", Some("value"), "sum_value"))

  /** The bounded-frame aggregates q94/q95/q120/q121 declare. */
  private[graft] val frameAggs = countSumMax("n_in_frame", "frame_sum", "frame_max")

  /** The count-window oracle's columns from [[CountWindows]] output;
    * sums at 4dp (sequential fold vs the oracle's aggregation differ in
    * the last ulp). */
  private val countWindowCols = Seq(col("user_id"), col("win_seq"),
    col("n_rows").as("n_events"), round(col("sum_v"), 4).as("sum_value"),
    col("first_id").as("first_event"), col("last_id").as("last_event"))

  val q72TopnState: QueryDef = QueryDef("q72_topn_state",
    """SELECT user_id, rank, event_id, value FROM (
      |  SELECT user_id, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY value DESC, event_id) AS rank
      |  FROM events) WHERE rank <= 3
      |ORDER BY user_id, rank""".stripMargin) { (spark, dir) =>
    RankOps.rankRows(events(spark, dir), Seq("user_id"),
      Seq("value" -> false, "event_id" -> true), 3, rankAlias = Some("rank"))
      .select(col("user_id"), col("rank"), col("event_id"), col("value"))
      .orderBy(col("user_id"), col("rank"))
  }

  val q73KeepLastState: QueryDef = QueryDef("q73_keep_last_state",
    """SELECT user_id, event_type, event_id, value FROM (
      |  SELECT user_id, event_type, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin) { (spark, dir) =>
    RankOps.keepOne(events(spark, dir), Seq("user_id", "event_type"),
      Seq("ts" -> false, "event_id" -> false))
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val q74RunningOver: QueryDef = QueryDef("q74_running_over",
    """SELECT user_id, event_id,
      |  COUNT(*) OVER win AS running_count,
      |  round(SUM(value) OVER win, 4) AS running_sum,
      |  MAX(value) OVER win AS running_max
      |FROM events
      |WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS UNBOUNDED PRECEDING)
      |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    OverAggregates.overAggregates(events(spark, dir), Seq("user_id"),
      Seq("ts", "event_id"), OverAggregates.UnboundedPreceding,
      countSumMax("running_count", "running_sum", "running_max"))
      // DuckDB evaluates windowed SUM with a segment tree, so the double
      // association order differs from the operator's sequential fold in
      // the last ulp — compare at 4dp
      .select(col("user_id"), col("event_id"), col("running_count"),
        round(col("running_sum"), 4).as("running_sum"), col("running_max"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** The streaming temporal join ([[TemporalJoinAny.temporalJoin]], the
    * views of a user as its versioned dimension, `event_id` the version
    * tie-break) collapsed to batch, against the same ASOF oracle as the
    * batch rewrite (q63) — one operator, two execution modes, one
    * answer. */
  val q88TemporalJoinState: QueryDef = QueryDef("q88_temporal_join_state",
    """SELECT p.event_id AS purchase_id, p.user_id,
      |  CAST(p.value AS DOUBLE) AS purchase_value,
      |  v.event_id AS viewed_event, v.value AS viewed_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY purchase_id""".stripMargin) { (spark, dir) =>
    def side(eventType: String) = events(spark, dir)
      .filter(col("event_type") === eventType)
      .select("user_id", "ts", "event_id", "value")
    TemporalJoinAny.temporalJoin(side("purchase"), side("view"),
      keyCols = Seq("user_id"), tsCol = "ts",
      dimVerCols = Seq("event_id"), factTieBreak = Seq("event_id"))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("value").as("purchase_value"),
        col("dim_event_id").as("viewed_event"),
        col("dim_value").as("viewed_value"))
      .orderBy(col("purchase_id"))
  }

  /** Count-tumbling windows (reference CountTumblingWindowAssigner.java)
    * collapsed to batch: every 3 events per user in event-time order form
    * a window; only complete windows emit. Sums compared at 4dp (sequential
    * fold vs the oracle's group aggregation differ in the last ulp). */
  val q90CountTumble: QueryDef = QueryDef("q90_count_tumble",
    """WITH seq AS (
      |  SELECT user_id, event_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events)
      |SELECT user_id, CAST(FLOOR((rn - 1) / 3.0) AS BIGINT) AS win_seq,
      |  COUNT(*) AS n_events, round(SUM(value), 4) AS sum_value,
      |  MIN_BY(event_id, rn) AS first_event, MAX_BY(event_id, rn) AS last_event
      |FROM seq
      |GROUP BY 1, 2 HAVING COUNT(*) = 3
      |ORDER BY user_id, win_seq""".stripMargin) { (spark, dir) =>
    CountWindows.countTumble(events(spark, dir), Seq("user_id"),
      Seq("ts", "event_id"), 3, "value", "event_id")
      .select(countWindowCols: _*)
      .orderBy(col("user_id"), col("win_seq"))
  }

  /** Bounded-ROWS streaming OVER (reference
    * RowTimeRowsBoundedPrecedingFunction.java) collapsed to batch:
    * count/sum/max over the last 5 rows per user in event-time order —
    * the exact `ROWS BETWEEN 4 PRECEDING AND CURRENT ROW` frame. */
  val q94RowsFrame: QueryDef = QueryDef("q94_rows_frame",
    """SELECT user_id, event_id,
      |  COUNT(*) OVER win AS n_in_frame,
      |  round(SUM(value) OVER win, 4) AS frame_sum,
      |  MAX(value) OVER win AS frame_max
      |FROM events
      |WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    OverAggregates.overAggregates(events(spark, dir), Seq("user_id"),
      Seq("ts", "event_id"), OverAggregates.RowsPreceding(4), frameAggs)
      .select(col("user_id"), col("event_id"), col("n_in_frame"),
        round(col("frame_sum"), 4).as("frame_sum"), col("frame_max"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Bounded-RANGE streaming OVER (reference
    * RowTimeRangeBoundedPrecedingFunction.java) collapsed to batch:
    * count/sum/max over the trailing 24 event-time hours per user. Both
    * engines frame on epoch MICROSECONDS (the operator's eventMicros vs
    * the oracle's epoch_us over the nanos-precision fixture timestamps),
    * so the horizon arithmetic is identical integer math. */
  val q95RangeFrame: QueryDef = QueryDef("q95_range_frame",
    """WITH e AS (
      |  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events)
      |SELECT user_id, event_id,
      |  COUNT(*) OVER win AS n_in_frame,
      |  round(SUM(value) OVER win, 4) AS frame_sum,
      |  MAX(value) OVER win AS frame_max
      |FROM e
      |WINDOW win AS (PARTITION BY user_id ORDER BY us
      |               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    OverAggregates.overAggregates(events(spark, dir), Seq("user_id"),
      Seq("ts", "event_id"),
      OverAggregates.RangePreceding(java.time.Duration.ofHours(24)), frameAggs)
      .select(col("user_id"), col("event_id"), col("n_in_frame"),
        round(col("frame_sum"), 4).as("frame_sum"), col("frame_max"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Proc-time bounded-ROWS streaming OVER (reference
    * ProcTimeRowsBoundedPrecedingFunction.java) collapsed to batch: one
    * batch is one arrival sequence in (ts, event_id) order, so the
    * operator equals the `ROWS BETWEEN 2 PRECEDING AND CURRENT ROW`
    * window — the same collapse shape as q94 but through the
    * no-watermark arrival-order code path (the cross-batch divergence
    * between the two is what StreamingSpec pins). */
  val q120ProcRowsFrame: QueryDef = QueryDef("q120_proc_rows_frame",
    """SELECT user_id, event_id,
      |  COUNT(*) OVER win AS n_in_frame,
      |  round(SUM(value) OVER win, 4) AS frame_sum,
      |  MAX(value) OVER win AS frame_max
      |FROM events
      |WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    OverAggregates.procRowsAggregates(events(spark, dir), Seq("user_id"),
      Seq("ts", "event_id"), 2, frameAggs)
      .select(col("user_id"), col("event_id"), col("n_in_frame"),
        round(col("frame_sum"), 4).as("frame_sum"), col("frame_max"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Proc-time bounded-RANGE streaming OVER (reference
    * ProcTimeRangeBoundedPrecedingFunction.java) collapsed to batch: a
    * single batch is ONE processing-time instant, so every row of a key
    * is every other row's peer and the frame is the whole partition —
    * each row carries the identical per-key aggregate (the reference's
    * same-millisecond peer contract at batch granularity). The
    * horizon-eviction behavior across micro-batches is spec'd with an
    * injected clock in StreamingSpec. */
  val q121ProcRangeFrame: QueryDef = QueryDef("q121_proc_range_frame",
    """SELECT user_id, event_id,
      |  COUNT(*) OVER (PARTITION BY user_id) AS n_in_frame,
      |  round(SUM(value) OVER (PARTITION BY user_id), 4) AS frame_sum,
      |  MAX(value) OVER (PARTITION BY user_id) AS frame_max
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    OverAggregates.procRangeAggregates(events(spark, dir), Seq("user_id"),
      Seq("ts", "event_id"), java.time.Duration.ofHours(1), frameAggs)
      .select(col("user_id"), col("event_id"), col("n_in_frame"),
        round(col("frame_sum"), 4).as("frame_sum"), col("frame_max"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Early-fire windowed aggregation (reference WindowEmitStrategy early
    * fires + EventTimeTriggers final) collapsed to batch: with no
    * watermark every emission is the final one, i.e. a plain 1-hour
    * tumbling aggregate — which is what the oracle hash-checks; the
    * partial-then-final emission sequence is spec'd in WindowAggAnySpec. */
  val q97WindowEarly: QueryDef = QueryDef("q97_early_fire",
    """WITH e AS (
      |  SELECT user_id, value, epoch_us(ts) AS us FROM events)
      |SELECT user_id,
      |  us - (us % 3600000000) AS w_start_us,
      |  COUNT(*) AS n_events, round(SUM(value), 4) AS sum_value,
      |  1 AS is_final
      |FROM e
      |GROUP BY 1, 2
      |ORDER BY user_id, w_start_us""".stripMargin) { (spark, dir) =>
    WindowAggAny.earlyLateFireWindowAgg(events(spark, dir), Seq("user_id"),
      "ts", Seq("event_id"), java.time.Duration.ofHours(1), userWindowAggs)
      .select(col("user_id"), col("w_start_us"), col("n_events"),
        round(col("sum_value"), 4).as("sum_value"), col("is_final"))
      .orderBy(col("user_id"), col("w_start_us"))
  }

  /** Allowed-lateness windowed aggregation (reference WindowEmitStrategy
    * late fires + `AfterEndOfWindow#withLateFirings`) collapsed to batch:
    * with no watermark every row folds before the single emission, i.e. a
    * plain 1-hour tumbling aggregate — what the oracle hash-checks; the
    * partial → final → late-final sequence is spec'd in LateFireSpec. */
  val q110LateFire: QueryDef = QueryDef("q110_late_fire",
    """WITH e AS (
      |  SELECT user_id, value, epoch_us(ts) AS us FROM events)
      |SELECT user_id,
      |  us - (us % 3600000000) AS w_start_us,
      |  COUNT(*) AS n_events, round(SUM(value), 4) AS sum_value,
      |  1 AS is_final
      |FROM e
      |GROUP BY 1, 2
      |ORDER BY user_id, w_start_us""".stripMargin) { (spark, dir) =>
    WindowAggAny.earlyLateFireWindowAgg(events(spark, dir), Seq("user_id"),
      "ts", Seq("event_id"), java.time.Duration.ofHours(1), userWindowAggs,
      allowedLateness = java.time.Duration.ofMinutes(10))
      .select(col("user_id"), col("w_start_us"), col("n_events"),
        round(col("sum_value"), 4).as("sum_value"), col("is_final"))
      .orderBy(col("user_id"), col("w_start_us"))
  }

  /** Count-sliding windows (reference CountSlidingWindowAssigner.java)
    * collapsed to batch: a window of the 5 most recent events completes at
    * every 2nd event once 5 have arrived. */
  val q91CountSlide: QueryDef = QueryDef("q91_count_slide",
    """WITH seq AS (
      |  SELECT user_id, event_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |win AS (
      |  SELECT user_id, rn, event_id AS last_event, value,
      |    SUM(value) OVER (PARTITION BY user_id ORDER BY rn
      |                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS sum_value,
      |    COUNT(*) OVER (PARTITION BY user_id ORDER BY rn
      |                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS n_events,
      |    FIRST_VALUE(event_id) OVER (PARTITION BY user_id ORDER BY rn
      |                                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS first_event
      |  FROM seq)
      |SELECT user_id, CAST(FLOOR((rn - 5) / 2.0) AS BIGINT) AS win_seq,
      |  n_events, round(sum_value, 4) AS sum_value, first_event, last_event
      |FROM win
      |WHERE rn >= 5 AND (rn - 5) % 2 = 0
      |ORDER BY user_id, win_seq""".stripMargin) { (spark, dir) =>
    CountWindows.countSlide(events(spark, dir), Seq("user_id"),
      Seq("ts", "event_id"), 5, 2, "value", "event_id")
      .select(countWindowCols: _*)
      .orderBy(col("user_id"), col("win_seq"))
  }

  /** The streaming reservoir collapsed over the documents fixture keyed by
    * source: bottom-k-by-hash membership must equal the batch stratified
    * sample with the same seed (the arrival-order-independence contract —
    * StreamingSpec drives the same operator across multiple batches and
    * shuffled arrival orders). */
  val q124StreamReservoir: QueryDef = QueryDef("q124_stream_reservoir",
    s"""SELECT source, doc_id, sample_rank FROM (
       |  SELECT source, doc_id, row_number() OVER (
       |    PARTITION BY source
       |    ORDER BY ${graft.operators.Sampling.pseudoRankSql("doc_id", seed = 37)}, doc_id)
       |    AS sample_rank
       |  FROM documents)
       |WHERE sample_rank <= 7 ORDER BY source, doc_id""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      val docs = graft.core.Catalog.load(spark, dir, "documents")
        .select(col("source"), col("doc_id")).as[(String, Long)]
      graft.operators.Sampling.reservoirPerKey(docs, k = 7, seed = 37).toDF()
        .select(col("stratum").as("source"), col("item_id").as("doc_id"),
          col("sample_rank"))
        .orderBy(col("source"), col("doc_id"))
  }
}
