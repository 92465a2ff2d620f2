package graft.tools

import java.io.PrintWriter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Sampling
import graft.streaming.{CountWindows, KeyedState, OverAggregates, RankOps,
  WindowAggAny}

/** Dev utility: streaming soak at scale (round-9 VERDICT #6). The
  * stateful operator suite is spec-proven on RocksDB at toy volume; this
  * tool drives the state-bearing operators through a REAL multi-batch
  * file stream over ~10M tiled events on the RocksDB state store,
  * records per-batch state/latency metrics from StreamingQueryProgress,
  * and checks zero semantic drift against the same operator run in one
  * batch over the identical frame.
  *
  * Covered: q72 top-n, q73 keep-last, q94 ROWS frame, q95 RANGE frame,
  * q124 reservoir (ordered replay), q97 early-fire and q110 late-fire
  * window aggregation (late-fire on an OUT-OF-ORDER replay with genuine
  * straggler batches so the `is_final = 2` path actually fires at
  * volume), q90/q91 count windows, and the streaming event-time sort
  * (`gen_sort`: multiset + emission-order check).
  *
  * Mechanics:
  *  - events are tiled `factor`× from the base fixture with per-replica
  *    key offsets (same discipline as [[ScaleGen]]), partitioned
  *    by ts into `nFiles` files so file order is time order — the file
  *    stream (maxFilesPerTrigger=1) then replays history in watermark-
  *    compatible order, one micro-batch per file;
  *  - the straggler variant additionally holds back a deterministic
  *    ~0.2% of each file's rows (event_id % 499 == 0) and replays file
  *    k's stragglers AFTER main file k+1 — each straggler is then late
  *    by at most two file spans of event time, inside the late-fire
  *    operator's allowed-lateness horizon, so late finals fire while
  *    beyond-horizon drops stay impossible (drift would show otherwise);
  *  - a sentinel event (event_id = -1) 10 years past the data's end is
  *    written as a final extra file: its arrival pushes the event-time
  *    watermark past every real row, so the operators adjudicate
  *    their tails before AvailableNow terminates (excluded from all
  *    comparisons);
  *  - drift checks reconstruct each operator's FINAL answer from the
  *    emitted append log with the operator's own monotonicity (top-n
  *    entries only ever came through the log; keep-last's final winner
  *    is the log's (ts, event_id)-max per key; the reservoir is
  *    bottom-k-by-hash of logged ids; a window's last fire carries its
  *    max n_events) and compare with the batch run's final answer
  *    reconstructed the same way; operators that emit exactly one row
  *    per input row (the frames) or per completed window (count
  *    windows) compare as whole multisets.
  *
  * Usage: runMain graft.tools.StreamSoak <baseSfDir> <workDir> [factor]
  * [nFiles] [opPrefix] — emits one JSON line per (operator, batch) plus
  * a summary line per operator to <workDir>/soak.jsonl.
  */
object StreamSoak {

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val work = args(1)
    val factor = if (args.length > 2) args(2).toInt else 100
    val nFiles = if (args.length > 3) args(3).toInt else 20
    val opPrefix = if (args.length > 4) args(4) else ""
    val spark = graft.core.SessionFactory.local("graft-stream-soak")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    val eventsDir = s"$work/events_tiled"
    val straggDir = s"$work/events_straggler"
    tileEvents(spark, base, eventsDir, factor, nFiles, stragglers = false)
    tileEvents(spark, base, straggDir, factor, nFiles, stragglers = true)
    val out = new PrintWriter(s"$work/soak.jsonl")

    def batchDf(dir: String) = spark.read.parquet(dir)
      .select(col("user_id"), col("event_id"),
        col("ts").cast("timestamp").as("ts"), col("event_type"), col("value"))
    def streamDf(dir: String) = spark.readStream
      .schema(batchDf(dir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    // real (non-sentinel) data horizon, for excluding sentinel windows
    val maxRealTs = batchDf(eventsDir).filter(col("event_id") >= 0L)
      .agg(max(col("ts"))).head().getTimestamp(0)
    val maxRealUs = maxRealTs.getTime * 1000L
    val fileSpanMs =
      (maxRealTs.getTime - batchDf(eventsDir).filter(col("event_id") >= 0L)
        .agg(min(col("ts"))).head().getTimestamp(0).getTime) / nFiles

    val real = (df: DataFrame) => df.filter(col("event_id") >= 0L)
    // idle-key horizon for the TTL leg: odd users stop at mid-span
    val ttlCutoffMs = maxRealTs.getTime - fileSpanMs * nFiles / 2
    // window ops: drop the sentinel windows (their finals can't fire in
    // the stream — the watermark never passes the last sentinel)
    val realWin = (df: DataFrame) => df.filter(col("w_start_us") <= maxRealUs)

    // q72's per-user top-3 by value (shared by topn and recovery_topn)
    val topN = (in: DataFrame) => RankOps.rankRows(in,
      Seq("user_id"), Seq("value" -> false, "event_id" -> true), 3,
      rankAlias = Some("rank"))
    def finalTopN(log: DataFrame): DataFrame = {
      // top-n entries only ever enter through the log; final = top-n of
      // everything logged, ranked the operator's way (value desc, id asc)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("value").desc, col("event_id").asc)
      real(log).select("user_id", "event_id", "value").distinct()
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
    }
    def finalKeepLast(log: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      real(log).withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
    }
    def finalReservoir(log: DataFrame): DataFrame = {
      // final membership = bottom-k by the operator's own deterministic
      // pseudo-rank over every id that ever entered (the log re-emits the
      // full sample on change, so it contains every final member; evicted
      // ids rank below by construction)
      import org.apache.spark.sql.expressions.Window
      val rankOf = udf((id: Long) =>
        graft.operators.Sampling.pseudoRankLong(id, 7L))
      val w = Window.partitionBy("stratum")
        .orderBy(col("prank"), col("item_id"))
      log.select("stratum", "item_id").distinct()
        .withColumn("prank", rankOf(col("item_id")))
        .withColumn("sample_rank", row_number().over(w))
        .filter(col("sample_rank") <= 32)
        .select("stratum", "item_id", "sample_rank")
    }
    // general-schema rank/dedup logs: entries only ever enter the
    // prefix through the log, so final = the log's rows re-ranked the
    // operator's way (the same argument as finalTopN/finalKeepLast)
    def genSortLimitFinal(log: DataFrame): DataFrame = {
      // global prefix: entries only ever enter through the log; final =
      // the log's global top-10, ranked the statement's way
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy()
        .orderBy(col("value").desc, col("event_id").asc)
      real(log).distinct()
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
        .drop("rk")
    }
    def genTopNFinal(log: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type")
        .orderBy(col("value").desc, col("event_id").asc)
      real(log).drop("rn").distinct()
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
    }
    def genKeepLastFinal(log: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      real(log).distinct().withColumn("rx", row_number().over(w))
        .filter(col("rx") === 1).drop("rx")
    }
    // window-fire logs: a window's final answer is its LAST fire —
    // n_events is monotone across a window's emissions, so last =
    // max (n, is_final); batch mode emits exactly one is_final=1 row
    def finalWindowFire(log: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "w_start_us")
        .orderBy(col("n_events").desc, col("is_final").desc)
      realWin(log).withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "w_start_us", "n_events", "sum_value")
    }
    // late-fire pairs can fold the same rows in a different order than
    // the batch collapse (stragglers append after the first final), so
    // the double sum is compared at 1e-6 instead of bit-exactly — n is
    // exact. Returns (onlyStream, onlyBatch) as (pair mismatches +
    // stream-only windows, batch-only windows).
    def pairedWindowCompare(s: DataFrame, b: DataFrame): (Long, Long) = {
      val sf = s.withColumnRenamed("n_events", "sn")
        .withColumnRenamed("sum_value", "ssum")
      val bf = b.withColumnRenamed("n_events", "bn")
        .withColumnRenamed("sum_value", "bsum")
      val j = sf.join(bf, Seq("user_id", "w_start_us"), "full_outer").cache()
      val mismatch = j.filter(col("sn").isNull || col("bn").isNull ||
        col("sn") =!= col("bn") ||
        abs(col("ssum") - col("bsum")) > 1e-6).count()
      val onlyB = j.filter(col("sn").isNull).count()
      j.unpersist()
      (mismatch, onlyB)
    }

    val dayWin = java.time.Duration.ofDays(1)
    // allowed lateness: 4 file spans — covers the straggler replay skew
    // (<= 2 spans) with margin for the proc-time close-poll lag
    val lateness = java.time.Duration.ofMillis(4 * fileSpanMs)

    type Op = DataFrame => DataFrame
    // (name, sourceDir, stream/batch op, drift check given (streamLog,
    //  batchLog) -> (onlyStream, onlyBatch, finalRows), exact-multiset?)
    type Check = (DataFrame, DataFrame) => (Long, Long, Long)
    def reconstructed(fin: DataFrame => DataFrame): Check = (s, b) => {
      val sf = fin(s).cache(); val bf = fin(b).cache()
      val r = (sf.exceptAll(bf).count(), bf.exceptAll(sf).count(), sf.count())
      sf.unpersist(); bf.unpersist(); r
    }
    // shared by gen_session and gen_session_skew (r15)
    val sessionAggs = Seq(
      graft.streaming.OverAggregates.Agg("COUNT", None, "n_events"),
      graft.streaming.OverAggregates.Agg("MIN", Some("value"), "min_v"),
      graft.streaming.OverAggregates.Agg("COUNT", Some("value"), "nd_v",
        distinct = true),
      graft.streaming.OverAggregates.Agg("SUM", Some("value"), "sum_v"))
    def sessionCheck(withDistinct: Boolean)
        : (DataFrame, DataFrame) => (Long, Long, Long) =
      (s, b) => {
        def fin(log: DataFrame): DataFrame = {
          import org.apache.spark.sql.expressions.Window
          val w = Window.partitionBy("user_id", "w_start_us")
            .orderBy(col("n_events").desc, col("is_final").desc)
          val cols = Seq("user_id", "w_start_us", "n_events", "min_v") ++
            (if (withDistinct) Seq("nd_v") else Nil) :+ "sum_v"
          // is_final=3 rows are RETRACTION markers (r15 identity
          // contract: a late bridge absorbed this fired identity) — not
          // live finals. Drop the marked identities entirely: the batch
          // collapse has no twin for an absorbed session, so counting
          // them would be a false-positive mismatch.
          val live = realWin(log).filter(col("is_final").isin(1, 2))
          val retracted = realWin(log).filter(col("is_final") === 3)
            .select("user_id", "w_start_us").distinct()
          live.join(retracted, Seq("user_id", "w_start_us"), "left_anti")
            .withColumn("rxx", row_number().over(w))
            .filter(col("rxx") === 1)
            .select(cols.map(col): _*)
        }
        val sf = fin(s).withColumnRenamed("n_events", "sn")
          .withColumnRenamed("min_v", "smin")
          .withColumnRenamed("nd_v", "snd")
          .withColumnRenamed("sum_v", "ssum").cache()
        val bf = fin(b).withColumnRenamed("n_events", "bn")
          .withColumnRenamed("min_v", "bmin")
          .withColumnRenamed("nd_v", "bnd")
          .withColumnRenamed("sum_v", "bsum")
        val j = sf.join(bf,
          Seq("user_id", "w_start_us"), "full_outer").cache()
        val mismatch = j.filter(col("sn").isNull || col("bn").isNull ||
          col("sn") =!= col("bn") || col("smin") =!= col("bmin") ||
          (if (withDistinct) col("snd") =!= col("bnd") else lit(false)) ||
          abs(col("ssum") - col("bsum")) >
            abs(col("bsum")) * 1e-9 + 1e-6).count()
        val onlyB = j.filter(col("sn").isNull).count()
        val rows = sf.count()
        sf.unpersist(); j.unpersist()
        (mismatch, onlyB, rows)
      }

    // q94/q95's per-user frames, watermarked for the replay
    def frameOp(frame: OverAggregates.Frame): Op = (in: DataFrame) =>
      OverAggregates.overAggregates(in, Seq("user_id"),
        Seq("ts", "event_id"), frame, graft.streaming.StatefulBatch.frameAggs,
        delay = "60 seconds")

    val ops: Seq[(String, String, Op, Check, Boolean)] = Seq(
      ("topn", eventsDir, topN, reconstructed(finalTopN), false),
      ("keeplast", eventsDir,
        (in: DataFrame) => RankOps.keepOne(in,
          Seq("user_id", "event_type"), Seq("ts" -> false, "event_id" -> false)),
        reconstructed(finalKeepLast), false),
      ("rows_frame", eventsDir, frameOp(OverAggregates.RowsPreceding(4)),
        reconstructed(real), true),
      ("range_frame", eventsDir,
        frameOp(OverAggregates.RangePreceding(java.time.Duration.ofHours(1))),
        reconstructed(real), true),
      ("reservoir", eventsDir,
        (in: DataFrame) => Sampling.reservoirPerKey(
          in.select(col("event_type"), col("event_id")).as[(String, Long)],
          32, seed = 7L).toDF(),
        reconstructed(finalReservoir), false),
      // round-9 extension: the emit-strategy + count-window + sort family
      ("early_fire", eventsDir,
        (in: DataFrame) => WindowAggAny.earlyLateFireWindowAgg(in,
          Seq("user_id"), "ts", Seq("event_id"), dayWin,
          graft.streaming.StatefulBatch.userWindowAggs,
          earlyFire = "100 milliseconds",
          delay = java.time.Duration.ofSeconds(60)),
        // stream finals (is_final=1) must equal the batch collapse
        // bit-exactly: both fold each window's rows in (ts, event_id)
        // order, incremental vs one-shot left fold associate identically
        reconstructed(df => realWin(df).filter(col("is_final") === 1)
          .drop("is_final")), true),
      ("late_fire", straggDir,
        (in: DataFrame) => WindowAggAny.earlyLateFireWindowAgg(in,
          Seq("user_id"), "ts", Seq("event_id"), dayWin,
          graft.streaming.StatefulBatch.userWindowAggs,
          earlyFire = "100 milliseconds",
          delay = java.time.Duration.ofSeconds(60),
          allowedLateness = lateness),
        (s, b) => {
          val sf = finalWindowFire(s).cache()
          val (mism, onlyB) = pairedWindowCompare(sf, finalWindowFire(b))
          val r = (mism, onlyB, sf.count()); sf.unpersist(); r
        }, false),
      ("count_tumble", eventsDir,
        (in: DataFrame) => CountWindows.countTumble(in,
          Seq("user_id"), Seq("ts", "event_id"), 5, "value", "event_id"),
        // completed windows are a pure function of per-key (ts, event_id)
        // arrival order, which the ordered replay preserves globally
        reconstructed(identity), true),
      ("count_slide", eventsDir,
        (in: DataFrame) => CountWindows.countSlide(in,
          Seq("user_id"), Seq("ts", "event_id"), 8, 4, "value", "event_id"),
        reconstructed(identity), true),
      // round-11 extension: the GENERAL-SCHEMA executors (java-serialized
      // row state — OverAggregates.GenState / PatternMatch.MatchState)
      // at volume — string-keyed OVER frames and streaming SQL
      // MATCH_RECOGNIZE, each against its own batch collapse
      ("gen_over_rows", eventsDir,
        (in: DataFrame) => graft.streaming.WindowSql.sqlDf(
          in,
          """SELECT event_type, event_id,
            |  COUNT(*) OVER w AS cnt_w,
            |  SUM(value) OVER w AS sum_v,
            |  MIN(value) OVER w AS min_v
            |FROM events
            |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
            |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin),
        reconstructed(real), true),
      ("gen_match", eventsDir,
        (in: DataFrame) => graft.streaming.MatchRecognizeSql.sqlDf(
          in,
          // every variable excludes the sentinel rows (event_id < 0), so
          // the stream (sentinel never closed) and the batch collapse
          // (sentinel is a final row) bind identical matches
          """SELECT * FROM events MATCH_RECOGNIZE (
            |  PARTITION BY user_id
            |  ORDER BY ts, event_id
            |  MEASURES A.event_id AS a_id, B.event_id AS b_id
            |  ONE ROW PER MATCH
            |  PATTERN (A B)
            |  DEFINE A AS event_type = 'view' AND event_id >= 0,
            |         B AS event_type = 'purchase' AND event_id >= 0
            |)""".stripMargin),
        reconstructed(identity), true),
      // round-12 extension: the general-schema RANK/DEDUP executors
      // (RankOps.rankRows behind the ROW_NUMBER-filter SQL). Value-based
      // total orders make the maintained prefix arrival-independent, so
      // the stream's change log reconstructs to exactly the batch
      // collapse. Sentinels sit in their own partitions (event_type
      // 'sentinel' / user_id 0) and are dropped by the real() filter.
      ("gen_topn", eventsDir,
        (in: DataFrame) => graft.streaming.WindowSql.sqlDf(in,
          """SELECT * FROM (
            |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
            |    ORDER BY value DESC, event_id ASC) AS rn
            |  FROM events)
            |WHERE rn <= 5""".stripMargin),
        reconstructed(genTopNFinal), false),
      // round-13: the streaming ORDER BY ... LIMIT route (StreamExecSortLimit
      // parity) — a GLOBAL retract top-n, the executor's worst case (one
      // key, O(k) state regardless of stream length)
      ("gen_sortlimit", eventsDir,
        (in: DataFrame) => {
          in.createOrReplaceTempView("soak_sortlimit")
          graft.Sql.sql(in.sparkSession,
            "SELECT * FROM soak_sortlimit ORDER BY value DESC, event_id LIMIT 10")
        },
        reconstructed(genSortLimitFinal), false),
      ("gen_keeplast", eventsDir,
        (in: DataFrame) => graft.streaming.WindowSql.sqlDf(in,
          """SELECT user_id, event_type, event_id, ts, value FROM (
            |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
            |    ORDER BY ts DESC, event_id DESC) AS rn
            |  FROM events)
            |WHERE rn = 1""".stripMargin),
        reconstructed(genKeepLastFinal), false),
      // round-12: idle-state retention (VERDICT r11 #7) — odd users stop
      // sending at mid-span; with idleTtl = 3 file-spans their ring state
      // must EXPIRE (state_rows plateaus ~half of peak, extra fields
      // below) while results stay the exact batch collapse: the in-band
      // gap reset applies the identical TTL semantics in both modes, and
      // the ordered replay keeps expiry behind every key's next arrival
      ("gen_over_ttl", eventsDir,
        (in: DataFrame) => graft.streaming.OverAggregates.overAggregates(
          in.filter(col("user_id") % 2 === 0 ||
            unix_millis(col("ts")) <= ttlCutoffMs),
          Seq("user_id"), Seq("ts", "event_id"),
          graft.streaming.OverAggregates.RowsPreceding(4),
          Seq(graft.streaming.OverAggregates.Agg("COUNT", None, "cnt_w"),
            graft.streaming.OverAggregates.Agg("SUM", Some("value"), "sum_v")),
          delay = "60 seconds",
          idleTtl = Some(java.time.Duration.ofMillis(fileSpanMs * 3))),
        reconstructed(real), true),
      // round-12: the streaming event-time sort (RowSort) — multiset:
      // the stream must release exactly the real rows (the last sentinel
      // stays pending at termination — excluded both sides); emission
      // ORDER is checked separately below per output file
      ("gen_sort", eventsDir,
        (in: DataFrame) => graft.streaming.RowSort.sortByEventTime(
          in, Seq("ts", "event_id"), "60 seconds"),
        reconstructed(real), true),
      // round-13: the GENERAL-SCHEMA early/late-fire windowed aggregate
      // (WindowAggAny) on the straggler replay — composite key, MIN +
      // COUNT(DISTINCT) measures (arrival-order-INVARIANT drift probes)
      // + the double sum at 1e-6 (stragglers legally reassociate it);
      // late finals must fire (extras below), beyond-horizon drops must
      // not happen (lateness covers the straggler skew — drift would
      // show them)
      ("gen_window", straggDir,
        (in: DataFrame) =>
          graft.streaming.WindowAggAny.earlyLateFireWindowAgg(
            in, Seq("user_id", "event_type"), "ts", Seq("event_id"),
            dayWin,
            Seq(graft.streaming.OverAggregates.Agg("COUNT", None, "n_events"),
              graft.streaming.OverAggregates.Agg("MIN", Some("value"), "min_v"),
              graft.streaming.OverAggregates.Agg("COUNT", Some("value"), "nd_v",
                distinct = true),
              graft.streaming.OverAggregates.Agg("SUM", Some("value"), "sum_v")),
            earlyFire = "100 milliseconds",
            delay = java.time.Duration.ofSeconds(60),
            allowedLateness = lateness),
        (s, b) => {
          def fin(log: DataFrame): DataFrame = {
            import org.apache.spark.sql.expressions.Window
            val w = Window.partitionBy("user_id", "event_type", "w_start_us")
              .orderBy(col("n_events").desc, col("is_final").desc)
            realWin(log).withColumn("rxx", row_number().over(w))
              .filter(col("rxx") === 1)
              .select("user_id", "event_type", "w_start_us",
                "n_events", "min_v", "nd_v", "sum_v")
          }
          val sf = fin(s).withColumnRenamed("n_events", "sn")
            .withColumnRenamed("min_v", "smin")
            .withColumnRenamed("nd_v", "snd")
            .withColumnRenamed("sum_v", "ssum").cache()
          val bf = fin(b).withColumnRenamed("n_events", "bn")
            .withColumnRenamed("min_v", "bmin")
            .withColumnRenamed("nd_v", "bnd")
            .withColumnRenamed("sum_v", "bsum")
          val j = sf.join(bf,
            Seq("user_id", "event_type", "w_start_us"), "full_outer").cache()
          val mismatch = j.filter(col("sn").isNull || col("bn").isNull ||
            col("sn") =!= col("bn") || col("smin") =!= col("bmin") ||
            col("snd") =!= col("bnd") ||
            abs(col("ssum") - col("bsum")) > 1e-6).count()
          val onlyB = j.filter(col("sn").isNull).count()
          val rows = sf.count()
          sf.unpersist(); j.unpersist()
          (mismatch, onlyB, rows)
        }, false),
      // round-14: HOP (sliding) windows through the same straggler
      // replay — 1-day size / 12-hour slide, so every row enters two
      // windows via the pre-shuffle expansion; the per-window state
      // machine is shared with gen_window, so the same drift probes
      // apply per (key, w_start_us), now across overlapping windows
      // closing independently
      ("gen_hop", straggDir,
        (in: DataFrame) =>
          graft.streaming.WindowAggAny.earlyLateFireHopAgg(
            in, Seq("user_id", "event_type"), "ts", Seq("event_id"),
            size = dayWin, slide = java.time.Duration.ofHours(12),
            Seq(graft.streaming.OverAggregates.Agg("COUNT", None, "n_events"),
              graft.streaming.OverAggregates.Agg("MIN", Some("value"), "min_v"),
              graft.streaming.OverAggregates.Agg("COUNT", Some("value"), "nd_v",
                distinct = true),
              graft.streaming.OverAggregates.Agg("SUM", Some("value"), "sum_v")),
            earlyFire = "100 milliseconds",
            delay = java.time.Duration.ofSeconds(60),
            allowedLateness = lateness),
        (s, b) => {
          def fin(log: DataFrame): DataFrame = {
            import org.apache.spark.sql.expressions.Window
            val w = Window.partitionBy("user_id", "event_type", "w_start_us")
              .orderBy(col("n_events").desc, col("is_final").desc)
            realWin(log).withColumn("rxx", row_number().over(w))
              .filter(col("rxx") === 1)
              .select("user_id", "event_type", "w_start_us",
                "n_events", "min_v", "nd_v", "sum_v")
          }
          val sf = fin(s).withColumnRenamed("n_events", "sn")
            .withColumnRenamed("min_v", "smin")
            .withColumnRenamed("nd_v", "snd")
            .withColumnRenamed("sum_v", "ssum").cache()
          val bf = fin(b).withColumnRenamed("n_events", "bn")
            .withColumnRenamed("min_v", "bmin")
            .withColumnRenamed("nd_v", "bnd")
            .withColumnRenamed("sum_v", "bsum")
          val j = sf.join(bf,
            Seq("user_id", "event_type", "w_start_us"), "full_outer").cache()
          val mismatch = j.filter(col("sn").isNull || col("bn").isNull ||
            col("sn") =!= col("bn") || col("smin") =!= col("bmin") ||
            col("snd") =!= col("bnd") ||
            abs(col("ssum") - col("bsum")) > 1e-6).count()
          val onlyB = j.filter(col("sn").isNull).count()
          val rows = sf.count()
          sf.unpersist(); j.unpersist()
          (mismatch, onlyB, rows)
        }, false),
      // round-14: SESSION windows (merging assigner) through the ordered
      // replay — 1-hour gap per user_id. On the ordered tiles the 60 s
      // delay covers the disorder, so sessions only merge while OPEN and
      // each final session fires exactly once: the log's is_final >= 1
      // rows ARE the final session partition, compared per (user_id,
      // w_start_us) against the batch collapse. The sum tolerance is
      // relative — a session can fold arbitrarily many doubles, and the
      // stream's cross-batch fold legally reassociates
      ("gen_session", eventsDir,
        (in: DataFrame) =>
          graft.streaming.WindowAggAny.earlyLateFireSessionAgg(
            in, Seq("user_id"), "ts", Seq("event_id"),
            gap = java.time.Duration.ofHours(1), sessionAggs,
            earlyFire = "100 milliseconds",
            delay = java.time.Duration.ofSeconds(60)),
        sessionCheck(withDistinct = true), false),
      // round-15 (VERDICT r14 #5): SESSION windows under a HOT KEY —
      // earlyLateFireSessionAgg keys state on the partition key alone
      // (reference parity: WindowOperator keys session state the same
      // way), so one pathological key concentrates one task. Every even
      // user collapses onto key 0 (~50% of the tiled events), pinning
      // per-task batch time and state growth under the skew. Sub-key
      // pre-aggregation is IMPOSSIBLE for merging session windows — two
      // sub-key shards cannot decide a merge until their rows meet,
      // which IS the full-key grouping — so the mitigations are the
      // gap/earlyFire knobs and this measured bound (SCALE.md). The
      // DISTINCT aggregate is deliberately absent here: its per-session
      // distinct SET scales with the hot key's distinct values on ANY
      // engine (the reference accumulates the same set) — that cost is
      // the aggregate's, not the assigner's, and would mask the
      // session-state measurement this leg exists for.
      ("gen_session_skew", eventsDir,
        (in: DataFrame) =>
          graft.streaming.WindowAggAny.earlyLateFireSessionAgg(
            in.withColumn("user_id",
              when(col("user_id") % 2 === 0, 0L).otherwise(col("user_id"))),
            Seq("user_id"), "ts", Seq("event_id"),
            gap = java.time.Duration.ofHours(1),
            sessionAggs.filterNot(_.distinct),
            earlyFire = "100 milliseconds",
            delay = java.time.Duration.ofSeconds(60)),
        sessionCheck(withDistinct = false), false))

    // The early/late-fire ops keep a PROC-TIME timer per open window, and
    // the sentinel windows (far-future ts) never close — so they re-register
    // their 100ms timer forever and AvailableNow never self-terminates
    // (observed: >700 empty timer batches before the 5-minute kill). That is
    // correct operator semantics on an unbounded stream; for the finite
    // replay, end-of-soak is "source exhausted + a few quiet timer batches"
    // (every real window's final fires within ~2 timer batches of the
    // sentinel watermark push), then an explicit stop.
    def awaitQuiesced(q: StreamingQuery, ckpt: String,
        quietBatches: Int = 6): Boolean = {
      var lastSeen = -1L
      var quiet = 0
      while (q.isActive && quiet < quietBatches) {
        // walk EVERY batch since the last poll (recentProgress keeps ~100):
        // sampling only lastProgress could miss a non-empty batch that
        // completed between polls right before an empty timer batch, and
        // stop the query while data was still in flight (advice r10)
        q.recentProgress.filter(_.batchId > lastSeen)
          .sortBy(_.batchId).foreach { pr =>
            lastSeen = pr.batchId
            quiet = if (pr.numInputRows == 0) quiet + 1 else 0
          }
        Thread.sleep(100)
      }
      stopChecked(q, ckpt)
    }
    val procTimerOps = Set("early_fire", "late_fire", "gen_window",
      "gen_hop", "gen_session", "gen_session_skew")

    ops.filter(_._1.startsWith(opPrefix)).foreach {
      case (name, dir, op, check, exactMultiset) =>
        val sinkDir = s"$work/out_$name"
        val ckpt = s"$work/ckpt_$name"
        val t0 = System.nanoTime()
        val q = op(streamDf(dir)).writeStream
          .format("parquet").option("path", sinkDir)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        val cut =
          if (procTimerOps(name)) awaitQuiesced(q, ckpt)
          else { q.awaitTermination(); false }
        val wall = (System.nanoTime() - t0) / 1e9
        // per-batch state metrics (recentProgress keeps the last ~100)
        q.recentProgress.foreach { p =>
          val so = p.stateOperators.headOption
          val rocks = so.map(_.customMetrics).map { m =>
            Seq("rocksdbSstFileSize", "rocksdbTotalCompactTime",
              "rocksdbTotalBytesWrittenByCompaction").flatMap { k =>
              Option(m.get(k)).map(v => s""""$k":$v""")
            }.mkString(",")
          }.getOrElse("")
          out.println(s"""{"op":"$name","batch":${p.batchId},""" +
            s""""input_rows":${p.numInputRows},""" +
            s""""batch_ms":${Option(p.durationMs.get("triggerExecution")).getOrElse(-1L)},""" +
            s""""state_rows":${so.map(_.numRowsTotal).getOrElse(-1L)},""" +
            s""""state_mem":${so.map(_.memoryUsedBytes).getOrElse(-1L)}""" +
            (if (rocks.nonEmpty) s",$rocks" else "") + "}")
        }
        // drift check vs the batch collapse
        val streamLog = spark.read.parquet(sinkDir)
        val (onlyS, onlyB, rows) = check(streamLog, op(batchDf(dir)))
        val extra = name match {
          case "early_fire" =>
            s""","early_fires":${streamLog.filter(col("is_final") === 0).count()}"""
          case "late_fire" | "gen_window" | "gen_hop" | "gen_session" =>
            s""","early_fires":${streamLog.filter(col("is_final") === 0).count()},""" +
              s""""late_finals":${streamLog.filter(col("is_final") === 2).count()}"""
          case "gen_session_skew" =>
            // the skew claim: hot-key state and per-batch time, explicit
            val sr = q.recentProgress.toSeq
              .flatMap(_.stateOperators.headOption.map(_.numRowsTotal))
            val bt = q.recentProgress.toSeq.flatMap(p =>
              Option(p.durationMs.get("triggerExecution")).map(_.toLong))
            s""","late_finals":${streamLog.filter(col("is_final") === 2).count()},""" +
              s""""hot_key_rows":${streamLog.filter(col("user_id") === 0L).count()},""" +
              (if (sr.isEmpty) "" else s""""state_peak":${sr.max},"state_final":${sr.last},""") +
              s""""batch_ms_max":${if (bt.isEmpty) -1L else bt.max}"""
          case "gen_sort" =>
            s""","order_violations":${sortOrderViolations(spark, sinkDir)}"""
          case "gen_over_ttl" =>
            // the retention claim: per-key state must PLATEAU once the
            // idle half expires, not track total keys seen
            val sr = q.recentProgress.toSeq
              .flatMap(_.stateOperators.headOption.map(_.numRowsTotal))
            if (sr.isEmpty) ""
            else s""","state_peak":${sr.max},"state_final":${sr.last}"""
          case _ => ""
        }
        out.println(s"""{"op":"$name","summary":true,"wall_sec":$wall,""" +
          s""""final_rows":$rows,"only_stream":$onlyS,"only_batch":$onlyB,""" +
          s""""drift":${if (onlyS + onlyB > 0) "true" else "false"},""" +
          s""""exact_multiset":$exactMultiset,"stop_cut_batch":$cut$extra}""")
        out.flush()
        System.err.println(s"[stream-soak] $name done: wall=$wall drift=${onlyS + onlyB}")
    }

    // =================================================================
    // Round-10 extension (r9 VERDICT #5): the SINKS through the same
    // replay, plus a kill-and-restart recovery leg.
    // =================================================================
    import graft.streaming.{RetractSink, UpsertSink}
    def wipe(paths: String*): Unit = paths.foreach(p =>
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p)))
    def drainProgress(q: StreamingQuery, name: String): Unit =
      q.recentProgress.foreach { p =>
        out.println(s"""{"op":"$name","batch":${p.batchId},""" +
          s""""input_rows":${p.numInputRows},""" +
          s""""batch_ms":${Option(p.durationMs.get("triggerExecution")).getOrElse(-1L)}}""")
      }
    def summarize(name: String, wall: Double, rows: Long, onlyS: Long,
        onlyB: Long, extra: String = ""): Unit = {
      out.println(s"""{"op":"$name","summary":true,"wall_sec":$wall,""" +
        s""""final_rows":$rows,"only_stream":$onlyS,"only_batch":$onlyB,""" +
        s""""drift":${if (onlyS + onlyB > 0) "true" else "false"}$extra}""")
      out.flush()
      System.err.println(s"[stream-soak] $name done: wall=$wall drift=${onlyS + onlyB}")
    }
    // batch keep-last collapse over the real rows — the upsert contract
    def upsertWant(): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      real(batchDf(eventsDir)).withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id", "value")
    }
    def upsertGot(dirSink: String): DataFrame =
      UpsertSink.currentState(spark, dirSink).filter(col("event_id") >= 0L)
        .select("user_id", "event_type", "event_id", "value")

    // ---- q104 upsert sink: latest-row-per-(user,type) via the
    //      versioned-snapshot foreachBatch merge, 22 micro-batches ----
    if ("upsert_sink".startsWith(opPrefix) || opPrefix.isEmpty) {
      val dirSink = s"$work/sink_upsert"; val ckpt = s"$work/ckpt_upsert"
      wipe(dirSink, ckpt)
      val t0 = System.nanoTime()
      val q = UpsertSink.upsertWriter(streamDf(eventsDir),
          Seq("user_id", "event_type"), Seq("ts", "event_id"), dirSink,
          nBuckets = 8)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      drainProgress(q, "upsert_sink")
      val got = upsertGot(dirSink).cache(); val want = upsertWant()
      summarize("upsert_sink", wall, got.count(),
        got.exceptAll(want).count(), want.exceptAll(got).count())
      got.unpersist()
    }

    // ---- q105 retract sink: a VALID retract changelog (every retract
    //      mirrors an accumulate — the RetractStreamTableSink contract;
    //      see RetractSink's input-contract note) folded through the
    //      applied-marker merge. event_id%3 rows get a mirrored retract
    //      twin; user_id%97 users are retracted in full, so their keys
    //      must LEAVE the table. The round-10 version of this leg fed an
    //      unmirrored ±1 stream and measured 97,300 keys of total drift
    //      over 22 batches — the sink's record-count-zero state drop
    //      (reference GroupAggFunction semantics) discarding totals an
    //      invalid stream left nonzero at zero-crossings ----
    def retractChangelog(df: DataFrame): DataFrame = df
      .filter(col("event_type").isin("click", "error") &&
        col("event_id") >= 0L)
      .withColumn("flag", explode(
        when(col("event_id") % 3 === 0 || col("user_id") % 97 === 0,
          array(lit(1), lit(-1))).otherwise(array(lit(1)))))
    def retractWant(): DataFrame = real(batchDf(eventsDir))
      .filter(col("event_type").isin("click", "error") &&
        !(col("event_id") % 3 === 0 || col("user_id") % 97 === 0))
      .groupBy("user_id")
      .agg(count(lit(1)).as("wcnt"), sum(col("value")).as("wtotal"))
    def retractCheck(name: String, wall: Double, dirSink: String,
        extra: String = ""): Unit = {
      val got = UpsertSink.currentState(spark, dirSink)
        .select(col("user_id"), col("cnt"), col("total"))
      val j = got.join(retractWant(), Seq("user_id"), "full_outer").cache()
      val mismatch = j.filter(col("cnt").isNull || col("wcnt").isNull ||
        col("cnt") =!= col("wcnt") ||
        abs(col("total") - col("wtotal")) > 1e-6).count()
      val onlyB = j.filter(col("cnt").isNull).count()
      summarize(name, wall, j.count() - onlyB, mismatch, onlyB, extra)
      j.unpersist()
    }
    if ("retract_sink".startsWith(opPrefix) || opPrefix.isEmpty) {
      val dirSink = s"$work/sink_retract"; val ckpt = s"$work/ckpt_retract"
      wipe(dirSink, ckpt)
      val t0 = System.nanoTime()
      val q = RetractSink.retractWriter(
          retractChangelog(streamDf(eventsDir)), Seq("user_id"),
          "flag", "value", dirSink, stableId = Some(ckpt))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      drainProgress(q, "retract_sink")
      retractCheck("retract_sink", wall, dirSink)
    }

    // ---- kill-and-restart recovery: stop the stream mid-soak at the
    //      replay's midpoint, restart from the checkpoint, and require
    //      the final answer IDENTICAL to the uninterrupted run's —
    //      the exactly-once property a real cluster depends on ----
    // returns the summary fields of the interrupted run: whether the stop
    // came before the end, and whether it cut a batch short
    def runInterrupted(mk: () => StreamingQuery, ckpt: String,
        stopAfterBatch: Long): String = {
      val q = mk()
      var stopped = 0
      while (q.isActive) {
        val last = Option(q.lastProgress)
        if (last.exists(_.batchId >= stopAfterBatch)) {
          q.stop(); stopped = 1
        } else Thread.sleep(200)
      }
      s""","stopped_midway":$stopped,"stop_cut_batch":${stopChecked(q, ckpt)}"""
    }
    if ("recovery_topn".startsWith(opPrefix) || opPrefix.isEmpty) {
      val sinkDir = s"$work/out_recovery_topn"; val ckpt = s"$work/ckpt_recovery_topn"
      wipe(sinkDir, ckpt)
      def mk(): StreamingQuery =
        topN(streamDf(eventsDir)).writeStream
          .format("parquet").option("path", sinkDir)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
      val t0 = System.nanoTime()
      val stopFields = runInterrupted(mk, ckpt, nFiles / 2)
      // restart from the checkpoint: the remaining files replay, the
      // aborted batch (if any) re-executes against the file-sink commit
      // log, duplicates are impossible
      val q2 = mk(); q2.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      drainProgress(q2, "recovery_topn")
      val got = finalTopN(spark.read.parquet(sinkDir)).cache()
      // identical to the UNINTERRUPTED soak's sink (out_topn, written
      // above) when present, else to the batch collapse — both must hold
      val baseDir = new java.io.File(s"$work/out_topn")
      val want =
        if (baseDir.isDirectory) finalTopN(spark.read.parquet(baseDir.getPath))
        else finalTopN(topN(batchDf(eventsDir)))
      summarize("recovery_topn", wall, got.count(),
        got.exceptAll(want).count(), want.exceptAll(got).count(),
        stopFields)
      got.unpersist()
    }
    if ("recovery_upsert".startsWith(opPrefix) || opPrefix.isEmpty) {
      val dirSink = s"$work/sink_recovery_upsert"
      val ckpt = s"$work/ckpt_recovery_upsert"
      wipe(dirSink, ckpt)
      def mk(): StreamingQuery =
        UpsertSink.upsertWriter(streamDf(eventsDir),
          Seq("user_id", "event_type"), Seq("ts", "event_id"), dirSink,
          nBuckets = 8)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
      val t0 = System.nanoTime()
      val stopFields = runInterrupted(mk, ckpt, nFiles / 2)
      val q2 = mk(); q2.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      drainProgress(q2, "recovery_upsert")
      // a stop can abort a foreachBatch merge mid-write; the manifest
      // pointer flip is what keeps the visible state complete, and the
      // replayed merge is idempotent — the final snapshot must equal the
      // uninterrupted contract exactly
      val got = upsertGot(dirSink).cache(); val want = upsertWant()
      summarize("recovery_upsert", wall, got.count(),
        got.exceptAll(want).count(), want.exceptAll(got).count(),
        stopFields)
      got.unpersist()
    }
    // The retract sink is the sharpest recovery probe: its algebra is
    // ADDITIVE, so a batch merged into the snapshot but re-run after the
    // kill (checkpoint commit lost) double-counts — visible as a cnt
    // mismatch, not maskable by idempotence. Exactly-once here depends on
    // the checkpoint-stable marker id (RetractSink.retractWriter docs).
    if ("recovery_retract".startsWith(opPrefix) || opPrefix.isEmpty) {
      val dirSink = s"$work/sink_recovery_retract"
      val ckpt = s"$work/ckpt_recovery_retract"
      wipe(dirSink, ckpt)
      def mk(): StreamingQuery =
        RetractSink.retractWriter(
            retractChangelog(streamDf(eventsDir)), Seq("user_id"),
            "flag", "value", dirSink, stableId = Some(ckpt))
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
      val t0 = System.nanoTime()
      val stopFields = runInterrupted(mk, ckpt, nFiles / 2)
      val q2 = mk(); q2.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      drainProgress(q2, "recovery_retract")
      retractCheck("recovery_retract", wall, dirSink,
        stopFields)
    }
    // ---- r16 (VERDICT r15 #5): recovery legs for the newer stateful
    //      operators — session early/late-fire (merging-assigner window
    //      state + the r15 fired-identity contract) and MATCH_RECOGNIZE
    //      (partial-match buffers) across a kill-and-restart ----
    if ("recovery_session".startsWith(opPrefix) || opPrefix.isEmpty) {
      val sinkDir = s"$work/out_recovery_session"
      val ckpt = s"$work/ckpt_recovery_session"
      wipe(sinkDir, ckpt)
      def sessionOp(in: DataFrame): DataFrame =
        graft.streaming.WindowAggAny.earlyLateFireSessionAgg(
          in, Seq("user_id"), "ts", Seq("event_id"),
          gap = java.time.Duration.ofHours(1), sessionAggs,
          earlyFire = "100 milliseconds",
          delay = java.time.Duration.ofSeconds(60))
      def mk(): StreamingQuery =
        sessionOp(streamDf(eventsDir)).writeStream
          .format("parquet").option("path", sinkDir)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
      val t0 = System.nanoTime()
      val stopFields = runInterrupted(mk, ckpt, nFiles / 2)
      // restart from the checkpoint: open sessions (merge state, fired
      // identities, late-bridge markers) must survive; the proc-time
      // early timers re-register on recovery
      val q2 = mk(); awaitQuiesced(q2, ckpt)
      val wall = (System.nanoTime() - t0) / 1e9
      drainProgress(q2, "recovery_session")
      val (onlyS, onlyB, rows) = sessionCheck(withDistinct = true)(
        spark.read.parquet(sinkDir), sessionOp(batchDf(eventsDir)))
      summarize("recovery_session", wall, rows, onlyS, onlyB,
        stopFields)
    }
    if ("recovery_match".startsWith(opPrefix) || opPrefix.isEmpty) {
      val sinkDir = s"$work/out_recovery_match"
      val ckpt = s"$work/ckpt_recovery_match"
      wipe(sinkDir, ckpt)
      def matchOp(in: DataFrame): DataFrame =
        graft.streaming.MatchRecognizeSql.sqlDf(in,
          """SELECT * FROM events MATCH_RECOGNIZE (
            |  PARTITION BY user_id
            |  ORDER BY ts, event_id
            |  MEASURES A.event_id AS view_id, B.event_id AS purchase_id
            |  ONE ROW PER MATCH
            |  AFTER MATCH SKIP PAST LAST ROW
            |  PATTERN (A B)
            |  DEFINE A AS event_type = 'view',
            |         B AS event_type = 'purchase'
            |)""".stripMargin, delay = "60 seconds")
      def mk(): StreamingQuery =
        matchOp(streamDf(eventsDir)).writeStream
          .format("parquet").option("path", sinkDir)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
      val t0 = System.nanoTime()
      val stopFields = runInterrupted(mk, ckpt, nFiles / 2)
      // the NFA's partial-match buffers (MatchState: pending rows, PREV
      // marker, match counter) recover from the state store; a replayed
      // batch re-finds its matches with the same match ordinals
      val q2 = mk(); q2.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      drainProgress(q2, "recovery_match")
      val got = spark.read.parquet(sinkDir).cache()
      val want = matchOp(batchDf(eventsDir))
      summarize("recovery_match", wall, got.count(),
        got.exceptAll(want).count(), want.exceptAll(got).count(),
        stopFields)
      got.unpersist()
    }
    out.close()
    spark.stop()
  }

  /** Stop `q` (if still running) and tell a stop that cut a micro-batch
    * short apart from a batch that failed; returns whether the stop cut one
    * short. `stop()` cancels the running batch's jobs with interrupts, and
    * a state-store task interrupted inside its commit logs
    * `CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT` — that batch keeps its
    * `offsets/` entry but gets no `commits/` entry, and a restart re-runs
    * it from the last committed state version. A failure that is not the
    * stop's interrupt ends the query with `exception` set (local mode does
    * not retry tasks), and anything but "commits = offsets" or "commits =
    * offsets − 1" means the checkpoint lost a batch: both fail the soak. */
  private def stopChecked(q: StreamingQuery, ckpt: String): Boolean = {
    if (q.isActive) q.stop()
    q.exception.foreach(e => throw new IllegalStateException(
      s"stream soak: query over $ckpt failed instead of stopping", e))
    def lastBatch(log: String): Long =
      Option(new java.io.File(ckpt, log).listFiles()).toSeq.flatten
        .map(_.getName).filter(n => n.nonEmpty && n.forall(_.isDigit))
        .map(_.toLong).maxOption.getOrElse(-1L)
    val (offsets, commits) = (lastBatch("offsets"), lastBatch("commits"))
    if (commits != offsets && commits != offsets - 1)
      throw new IllegalStateException(s"stream soak: checkpoint $ckpt has " +
        s"last offsets/ batch $offsets but last commits/ batch $commits")
    commits == offsets - 1
  }

  /** Emission-order check for the streaming sort: rows inside each sink
    * part file must be (ts, event_id)-nondecreasing (parquet preserves
    * write order), and, taking files in min-ts order, the per-file
    * [min, max] ts ranges must not overlap — together with multiset
    * equality this proves the released stream is globally ordered.
    * Returns the number of violations (0 = fully ordered). */
  private def sortOrderViolations(spark: SparkSession, sinkDir: String): Long = {
    import spark.implicits._
    // row-bearing sink files only: a rowless parquet part (schema +
    // footer) stays under ~2 KB, real batches are MBs — the size gate
    // skips the ~700 empty parts 32 shuffle partitions × 22 batches leave
    val files = new java.io.File(sinkDir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.length() > 4096)
      .map(_.getPath)
    case class FileStat(path: String, minUs: Long, maxUs: Long, disorder: Long)
    val stats = files.flatMap { p =>
      val df = spark.read.parquet(p).filter(col("event_id") >= 0L)
        .select(col("ts").cast("timestamp"), col("event_id"))
      if (df.isEmpty) None
      else {
        // single file, single partition: iterator order is storage order
        val (minU, maxU, dis) = df.coalesce(1)
          .as[(java.sql.Timestamp, Long)].mapPartitions { it =>
            var mn = Long.MaxValue; var mx = Long.MinValue; var bad = 0L
            var prev = (Long.MinValue, Long.MinValue)
            it.foreach { case (ts, id) =>
              // full micros precision: the operator orders on eventMicros,
              // and ms-truncated stamps flag same-ms micro-ordered rows
              // as disorder (3 false positives in the r11 run)
              val us = KeyedState.eventMicros(ts)
              if (us < prev._1 || (us == prev._1 && id < prev._2)) bad += 1
              prev = (us, id)
              if (us < mn) mn = us
              if (us > mx) mx = us
            }
            Iterator.single((mn, mx, bad))
          }.head()
        Some(FileStat(p, minU, maxU, dis))
      }
    }.sortBy(s => (s.minUs, s.maxUs))
    val overlaps = stats.sliding(2).count {
      case Array(a, b) => b.minUs < a.maxUs
      case _ => false
    }
    stats.map(_.disorder).sum + overlaps
  }

  /** Tile the base events `factor`× (ScaleGen key-offset discipline),
    * partition by ts so file order is time order, and append the
    * watermark sentinels as final files. With `stragglers`, hold back
    * ~0.2% of each file's rows and replay file k's holdback AFTER main
    * file k+1 — a genuinely out-of-order stream whose late rows stay
    * within two file spans of the frontier. */
  private def tileEvents(spark: SparkSession, base: String, outDir: String,
      factor: Int, nFiles: Int, stragglers: Boolean): Unit = {
    import spark.implicits._
    val src = graft.core.Catalog.load(spark, base, "events")
    val strideE = src.agg(max(col("event_id"))).head().getLong(0) + 1
    val strideU = src.agg(max(col("user_id"))).head().getLong(0) + 1
    val maxTs = src.agg(max(col("ts"))).head().getTimestamp(0)
    val minTs = src.agg(min(col("ts"))).head().getTimestamp(0)
    val tiled = src
      .withColumn("replica", explode(array((0 until factor).map(lit): _*)))
      .withColumn("event_id", col("event_id") + col("replica") * strideE)
      .withColumn("user_id", col("user_id") + col("replica") * strideU)
      .drop("replica")
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value"))
    // deterministic file index: equal TIME slices (not equal row counts) —
    // boundaries are a pure function of (minTs, maxTs, nFiles), so both
    // variants and reruns agree on every row's slice
    val spanMs = math.max(1L, maxTs.getTime - minTs.getTime)
    val fIdx = least(lit(nFiles - 1),
      floor((unix_millis(col("ts").cast("timestamp")) - lit(minTs.getTime)) *
        nFiles / lit(spanMs + 1)).cast("int"))
    val isStraggler =
      if (stragglers) col("event_id") % 499 === 0 else lit(false)
    val indexed = tiled.withColumn("fidx", fIdx)
      .withColumn("straggler", isStraggler).cache()
    indexed.count()
    // mtime schedule: main files in order; file k's stragglers land
    // right after main file k+1 (two per slot never collide — seconds
    // granularity, distinct offsets)
    val base0 = (System.currentTimeMillis() / 1000) * 1000 - 7200 * 1000L
    def writeSlice(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = s"$outDir-slice-$name"
      df.select("user_id", "event_id", "ts", "event_type", "value")
        .coalesce(1).sortWithinPartitions(col("ts"), col("event_id"))
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$outDir/$name.parquet")
      dest.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dest.setLastModified(mtime)
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tmp))
    }
    // wipe any previous tiling so stale files can't pollute the replay
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(outDir))
    (0 until nFiles).foreach { k =>
      writeSlice(indexed.filter(col("fidx") === k && !col("straggler")),
        f"main-$k%05d", base0 + (k * 3L) * 1000)
      if (stragglers)
        writeSlice(indexed.filter(col("fidx") === k && col("straggler")),
          f"straggler-$k%05d", base0 + (k * 3L + 4) * 1000)
    }
    indexed.unpersist()
    // TWO sentinel files (final two micro-batches): the watermark
    // computed from sentinel 1's far-future ts is only APPLIED at the
    // start of the next batch, so sentinel 2's batch is where every
    // key's event-time timeout fires and the operators adjudicate
    // their tails — with a single sentinel, AvailableNow terminates
    // before the last watermark ever takes effect.
    // The file stream replays files in MODIFICATION-TIME order, and
    // parallel write tasks finish in arbitrary order — so a naive
    // parallel write's time ordering is NOT the stream's replay ordering
    // (first soak run: half the fleet's rows replayed "out of the
    // future" and were dropped as late). writeSlice pins every file's
    // mtime explicitly; the sentinels get the two last slots.
    val s1 = new java.sql.Timestamp(maxTs.getTime + 10L * 365 * 24 * 3600 * 1000)
    val s2 = new java.sql.Timestamp(s1.getTime + 24 * 3600 * 1000)
    Seq((-1L, s1, 1), (-2L, s2, 2)).foreach { case (id, ts, slot) =>
      writeSlice(Seq((0L, id, ts, "sentinel", 0.0))
        .toDF("user_id", "event_id", "ts", "event_type", "value"),
        s"zz-sentinel$slot", base0 + (nFiles * 3L + 6 + slot) * 1000)
    }
  }
}
