package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.types._

import OverAggregates.{Acc, Agg}

/** Early-fire / late-fire windowed aggregation over an ARBITRARY
  * DataFrame, for all three window assigners — TUMBLING, HOP (sliding)
  * and SESSION — the one emit-strategy operator family (reference: the
  * emit strategy applies to any windowed aggregate on any registered
  * table and composes with every assigner —
  * flink-table-planner-blink PB/plan/utils/WindowEmitStrategy.scala:155-193,
  * `table.exec.emit.early-fire.*` / `late-fire.*`; assigners
  * RT/operators/window/assigners/TumblingWindowAssigner.java:34,
  * SlidingWindowAssigner.java:40, SessionWindowAssigner.java:37; runtime
  * triggers RT/operators/window/triggers/EventTimeTriggers.java
  * `AfterEndOfWindow#withEarlyFirings/withLateFirings`).
  *
  * HOP assigns each row to ceil(size/slide) windows by EXPANSION before
  * the shuffle (the reference's SlidingWindowAssigner returns the same
  * window list per element); each (key, window-start) group then runs
  * the identical per-window state machine as tumbling. SESSION keys by
  * the partition columns alone and keeps a merged-session list in state
  * (the reference's merging assigner): a row extends a session it falls
  * within `gap` of, a bridging row merges neighbours (accumulators and
  * distinct sets merge exactly), and each session closes/fires against
  * the watermark independently. A late row inside `allowedLateness` may
  * EXTEND a closed session — updated finals (`is_final = 2`) keep firing
  * until the extended horizon passes, the merging-assigner rendering of
  * the reference's late firings.
  *
  * Semantics, per (partCols, tumbling window of `window` on `tsCol`):
  *
  *  - while the window is OPEN, the current partial aggregate emits at
  *    most once per `earlyFire` of processing time, and only when it
  *    changed (`is_final = 0` — the reference's early-fire trigger);
  *  - when the event-time watermark passes the window end, the FINAL
  *    emits (`is_final = 1`) — guaranteed exactly once per non-empty
  *    window even when one micro-batch jumps the watermark past the
  *    whole retention horizon;
  *  - rows arriving within `allowedLateness` after the close re-emit an
  *    updated final (`is_final = 2` — the reference's late firing, at
  *    its tightest late-fire delay of 0); once the horizon passes, state
  *    drops and later rows are discarded.
  *
  * Aggregates are the [[OverAggregates.Agg]] surface: COUNT(*)/COUNT(col)
  * /SUM/MIN/MAX/AVG with SQL null-skipping, decimal-exact arithmetic on
  * DECIMAL inputs, and DISTINCT (the reference's DistinctView family —
  * per-window distinct-value sets, insert-only, exactly the reference's
  * state cost; MIN/MAX(DISTINCT) normalize to the plain aggregates).
  *
  * Output: the partition columns, `w_start_us` (window start in epoch
  * micros), one column per agg, `is_final` int.
  *
  * Execution: `flatMapGroupsWithState` keyed by (partCols, window-start)
  * with a PROCESSING-time timeout as the early-fire clock; window close
  * is adjudicated against the event-time watermark on each firing (Spark
  * gives an operator one timer family — the close lands at most one
  * `earlyFire` interval after the watermark passes, a bounded delay; the
  * FINAL content is identical). Spark's watermark delay is set to
  * `delay + allowedLateness`, so the TRUE close watermark is
  * `sparkWatermark + allowedLateness` (= maxTs − delay, exactly the
  * reference's watermark) and the Spark watermark IS the retention
  * horizon. State per open window is O(aggs) (+ distinct sets when
  * DISTINCT aggs are present) and zero after the horizon.
  *
  * Scale: one shuffle on (partCols, window-start) — the same bound as
  * Spark's own streaming window aggregate and the reference's
  * WindowOperator; open-window timers make Spark schedule micro-batches
  * while windows are open (poll the sink, not processAllAvailable).
  *
  * Batch collapse: one invocation per (key, window), no watermark — the
  * operator emits exactly the final rows (the plain tumbling aggregate),
  * which is what the DuckDB oracle hash-checks; the partial → final →
  * late-final sequence is pinned by `WindowAggAnySpec`.
  */
object WindowAggAny {

  /** Per-open-window state: row count, running accumulators, per-agg
    * distinct-value sets, the row count at the last emission (suppresses
    * unchanged re-fires), and whether the first final fired.
    * Java-serialized for the same JPMS reason as [[OverAggregates]]. */
  final case class WinState(rows: Long, accs: Seq[Acc],
      dsets: Seq[Set[Any]], emittedRows: Long, closed: Boolean)

  def earlyLateFireWindowAgg(df: DataFrame, partCols: Seq[String],
      tsCol: String, tieBreak: Seq[String], window: java.time.Duration,
      aggs0: Seq[Agg], earlyFire: String = "1 second",
      delay: java.time.Duration = java.time.Duration.ZERO,
      allowedLateness: java.time.Duration = java.time.Duration.ZERO)
      : DataFrame =
    slidingAgg(df, partCols, tsCol, tieBreak, window.toNanos / 1000,
      window.toNanos / 1000, aggs0, earlyFire, delay, allowedLateness)

  /** HOP (sliding) windows with the same early/late-fire semantics: each
    * row enters every window `[start, start + size)` whose start is
    * slide-aligned and contains its timestamp (reference
    * SlidingWindowAssigner.assignWindows). Expansion happens BEFORE the
    * shuffle — ceil(size/slide) copies per row, the reference's own
    * per-element window list — and each (key, window-start) group runs
    * the identical per-window state machine as the tumbling operator, so
    * every emission/closing/lateness contract above carries over
    * unchanged. */
  def earlyLateFireHopAgg(df: DataFrame, partCols: Seq[String],
      tsCol: String, tieBreak: Seq[String], size: java.time.Duration,
      slide: java.time.Duration, aggs0: Seq[Agg],
      earlyFire: String = "1 second",
      delay: java.time.Duration = java.time.Duration.ZERO,
      allowedLateness: java.time.Duration = java.time.Duration.ZERO)
      : DataFrame =
    slidingAgg(df, partCols, tsCol, tieBreak, size.toNanos / 1000,
      slide.toNanos / 1000, aggs0, earlyFire, delay, allowedLateness)

  private def slidingAgg(df: DataFrame, partCols: Seq[String],
      tsCol: String, tieBreak: Seq[String], winUs: Long, slideUs: Long,
      aggs0: Seq[Agg], earlyFire: String, delay: java.time.Duration,
      allowedLateness: java.time.Duration): DataFrame = {
    val aggs = OverAggregates.normalizeAggs(aggs0)
    val lateUs = allowedLateness.toNanos / 1000
    require(winUs > 0, s"window size must be positive, got ${winUs}us")
    require(slideUs > 0 && slideUs <= winUs,
      s"slide must be in (0, size], got slide=${slideUs}us size=${winUs}us")
    require(lateUs >= 0, s"allowedLateness must be >= 0, got $allowedLateness")
    require(!delay.isNegative, s"delay must be >= 0, got $delay")
    require(aggs.nonEmpty, "at least one window aggregate is required")
    val schema = df.schema
    val isStreaming = df.isStreaming
    KeyedState.requireColumns(schema, partCols :+ tsCol)
    val tsIdx = schema.fieldIndex(tsCol)
    require(schema.fields(tsIdx).dataType == TimestampType,
      s"the window column must be a timestamp, got " +
        s"${schema.fields(tsIdx).dataType}")
    // deterministic fold order within one invocation: the double sum must
    // not depend on post-shuffle arrival order
    val ord = KeyedState.order(schema, (tsCol +: tieBreak).map(_ -> true))
    val aggIdx = OverAggregates.checkAggs(schema, aggs)
    val outSchema = StructType(
      partCols.map(schema(_)) ++
        Seq(StructField("w_start_us", LongType, nullable = false)) ++
        OverAggregates.outFields(aggs, aggIdx) :+
        StructField("is_final", IntegerType, nullable = false))
    def rowUs(r: Row): Long =
      KeyedState.eventMicros(r.getAs[java.sql.Timestamp](tsIdx))
    val empty = WinState(0L, OverAggregates.emptyAccs(aggs),
      OverAggregates.emptyDsets(aggs), 0L, closed = false)
    val wmDelay = s"${(delay.toNanos / 1000 + lateUs) / 1000} milliseconds"

    def process(key: Row, rows: Iterator[Row], state: GroupState[WinState])
        : Iterator[Row] = {
      val wStartUs = key.getLong(key.length - 1)
      val keyVals = (0 until key.length - 1).map(key.get)
      def emit(s: WinState, isFinal: Int): Row = Row.fromSeq(
        keyVals ++ Seq(wStartUs) ++
          OverAggregates.accOutputs(aggs, s.rows, s.accs, s.dsets) :+ isFinal)
      var s = state.getOption.getOrElse(empty)
      val sparkWmUs =
        if (!isStreaming) Long.MinValue
        else state.getCurrentWatermarkMs() * 1000L
      val wEndUs = wStartUs + winUs
      val horizonPassed = isStreaming && sparkWmUs >= wEndUs
      if (!horizonPassed)
        rows.map(_.toSeq).toSeq.sorted(ord).foreach { vals =>
          val e = OverAggregates.entryOfVals(vals, aggIdx)
          s = WinState(s.rows + 1, OverAggregates.updateAccs(aggs, s.accs, e),
            OverAggregates.updateDsets(aggs, s.dsets, e), s.emittedRows,
            s.closed)
        }
      if (!isStreaming) Iterator.single(emit(s, 1))
      else if (horizonPassed) {
        // retention horizon passed: rows in this batch are beyond allowed
        // lateness and are discarded (flatMapGroupsWithState does not
        // itself filter them — this branch IS the allowed-lateness drop);
        // if the final never fired (one micro-batch can jump the
        // watermark past close AND horizon), fire it on the way out
        val out =
          if (!s.closed && s.rows > 0) Iterator.single(emit(s, 1))
          else Iterator.empty
        if (state.exists) state.remove()
        out
      } else {
        val trueWmUs = sparkWmUs + lateUs
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        if (!s.closed && trueWmUs >= wEndUs) {
          // the reference watermark passed the window end: first final
          s = s.copy(emittedRows = s.rows, closed = true)
          out += emit(s, 1)
        } else if (s.closed && s.rows != s.emittedRows) {
          // late row(s) inside the allowed-lateness horizon
          s = s.copy(emittedRows = s.rows)
          out += emit(s, 2)
        } else if (!s.closed && state.hasTimedOut && s.rows != s.emittedRows) {
          // open window: early fire on the interval timer
          s = s.copy(emittedRows = s.rows)
          out += emit(s, 0)
        }
        state.update(s)
        state.setTimeoutDuration(earlyFire)
        out.iterator
      }
    }

    // key = partition values + window start micros
    val startKey = StructField("w_start_us", LongType, nullable = false)
    def keyed(in: DataFrame, startOf: Row => Any): DataFrame =
      KeyedState.run(in.withWatermark(tsCol, wmDelay), partCols,
        GroupStateTimeout.ProcessingTimeTimeout, Encoders.row(outSchema),
        extraKey = Some(startKey -> startOf))(process)
    if (slideUs == winUs)
      // tumbling: exactly one window per row — key directly, no copies
      keyed(df, r => { val us = rowUs(r); us - math.floorMod(us, slideUs) })
    else {
      // hop: expand each row into its window list before the shuffle
      // (the appended start column is the LAST field, so every
      // schema-derived index above still addresses the original row).
      // The watermark is assigned AFTER the expansion: a typed flatMap
      // mints fresh output attributes without the event-time watermark
      // metadata, so marking before it would leave the stateful
      // operator watermark-less (getCurrentWatermarkMs throws); the
      // expansion preserves timestamps, so the computed watermark is
      // identical either way
      val expSchema = StructType(schema.fields :+
        StructField("graft_w_start_us", LongType, nullable = false))
      val startIdx = schema.fields.length
      keyed(df.flatMap { r =>
        val us = rowUs(r)
        val lastStart = us - math.floorMod(us, slideUs)
        Iterator.iterate(lastStart)(_ - slideUs)
          .takeWhile(_ > us - winUs)
          .map(s => Row.fromSeq(r.toSeq :+ s))
      }(Encoders.row(expSchema)), _.getLong(startIdx))
    }
  }

  /** One merged session: its bounds (window = `[startUs, lastUs + gap)`),
    * running aggregate state, and the firing bookkeeping of [[WinState]].
    * Java-serialized for the same JPMS reason. */
  final case class Sess(startUs: Long, lastUs: Long, rows: Long,
      accs: Seq[Acc], dsets: Seq[Set[Any]], emittedRows: Long,
      closed: Boolean,
      /** w_start_us under which this session's FINAL first fired
        * (-1 = not fired): late-fire updates re-emit under this stable
        * identity even if a late row moved the true start earlier, so a
        * consumer upserting by (partCols, w_start_us) replaces rather
        * than double-counts (ADVICE r14). */
      firedStartUs: Long = -1L)

  /** Per-partition-key session-window state: the open/retained sessions,
    * ordered by start. */
  final case class SessState(sessions: List[Sess])

  /** SESSION windows with early/late-fire semantics (reference
    * SessionWindowAssigner — a MERGING assigner: per-element windows
    * `[t, t + gap)` merge while they overlap). Keyed by the partition
    * columns alone; the state holds the key's merged-session list, each
    * session firing against the watermark independently under the exact
    * contract of the fixed-window operators above:
    *
    *  - open sessions early-fire changed partials (`is_final = 0`) at
    *    most once per `earlyFire` of processing time;
    *  - a session closes when the TRUE watermark (Spark watermark +
    *    allowedLateness) passes `lastUs + gap` — the final emits once
    *    (`is_final = 1`);
    *  - a row inside `allowedLateness` of a closed session merges back
    *    in (possibly EXTENDING the session or bridging it with a
    *    neighbour — merged state keeps `closed`) and re-emits an updated
    *    final (`is_final = 2`) until the extended horizon passes;
    *  - a row whose own session `[t, t + gap)` would already be past the
    *    retention horizon and that touches no retained session is
    *    discarded — the allowed-lateness drop.
    *
    * Output: partition columns, `w_start_us`, one column per agg,
    * `is_final` (0 early, 1 final, 2 late-fire update, 3 retraction).
    * IDENTITY CONTRACT (r15): `w_start_us` of an `is_final=2` update is
    * the start under which the session's final FIRST fired — stable even
    * when a late row extends the session to an earlier true start — so
    * a consumer upserting by (partition cols, w_start_us) replaces the
    * stale final instead of keeping both. When a late row BRIDGES two
    * already-fired sessions, the earliest fired identity survives and
    * each absorbed identity is explicitly deleted with an `is_final=3`
    * marker (the reference's WindowOperator re-fires the merged window
    * under its new bounds and never retracts — a documented
    * double-count at upsert consumers that graft closes here). Batch
    * collapse: one invocation per key sees every row — the emitted
    * finals are exactly the gaps-and-islands session aggregate the
    * DuckDB oracle hash-checks.
    *
    * Scale: one shuffle on the partition columns (the reference's
    * WindowOperator keys session state the same way); state is
    * O(open sessions × aggs) per key and empty after the horizon. */
  def earlyLateFireSessionAgg(df: DataFrame, partCols: Seq[String],
      tsCol: String, tieBreak: Seq[String], gap: java.time.Duration,
      aggs0: Seq[Agg], earlyFire: String = "1 second",
      delay: java.time.Duration = java.time.Duration.ZERO,
      allowedLateness: java.time.Duration = java.time.Duration.ZERO)
      : DataFrame = {
    val aggs = OverAggregates.normalizeAggs(aggs0)
    val gapUs = gap.toNanos / 1000
    val lateUs = allowedLateness.toNanos / 1000
    require(gapUs > 0, s"session gap must be positive, got $gap")
    require(lateUs >= 0, s"allowedLateness must be >= 0, got $allowedLateness")
    require(!delay.isNegative, s"delay must be >= 0, got $delay")
    require(aggs.nonEmpty, "at least one window aggregate is required")
    require(partCols.nonEmpty, "session windows need partition columns " +
      "(a global session would single-key the stream)")
    val schema = df.schema
    val isStreaming = df.isStreaming
    KeyedState.requireColumns(schema, partCols :+ tsCol)
    val tsIdx = schema.fieldIndex(tsCol)
    require(schema.fields(tsIdx).dataType == TimestampType,
      s"the window column must be a timestamp, got " +
        s"${schema.fields(tsIdx).dataType}")
    // deterministic fold order within one invocation: the double sum must
    // not depend on post-shuffle arrival order
    val ord = KeyedState.order(schema, (tsCol +: tieBreak).map(_ -> true))
    val aggIdx = OverAggregates.checkAggs(schema, aggs)
    val outSchema = StructType(
      partCols.map(schema(_)) ++
        Seq(StructField("w_start_us", LongType, nullable = false)) ++
        OverAggregates.outFields(aggs, aggIdx) :+
        StructField("is_final", IntegerType, nullable = false))
    val wmDelay = s"${(delay.toNanos / 1000 + lateUs) / 1000} milliseconds"

    def process(key: Row, rows: Iterator[Row], state: GroupState[SessState])
        : Iterator[Row] = {
      val keyVals = (0 until key.length).map(key.get)
      // is_final=2 updates emit under the identity the consumer already
      // holds (the start at first final fire), not the possibly-moved
      // true start — the identity contract (ADVICE r14; the reference's
      // WindowOperator re-fires under the merged window and never
      // retracts, which double-counts at an upsert consumer)
      def emit(s: Sess, isFinal: Int): Row = Row.fromSeq(
        keyVals ++ Seq(
          if (isFinal == 2 && s.firedStartUs >= 0) s.firedStartUs
          else s.startUs) ++
          OverAggregates.accOutputs(aggs, s.rows, s.accs, s.dsets) :+ isFinal)
      val sparkWmUs =
        if (!isStreaming) Long.MinValue
        else state.getCurrentWatermarkMs() * 1000L
      var sess = state.getOption.map(_.sessions).getOrElse(Nil)
      // retraction markers (is_final=3): when a late row BRIDGES two
      // already-fired sessions, one fired identity survives (the
      // earliest) and each absorbed identity is explicitly deleted
      val retracts = scala.collection.mutable.ArrayBuffer.empty[Row]
      // fold this batch's rows in event-time order: each row is the
      // singleton session [t, t + gap); overlapping retained sessions
      // merge with it (a bridging row can merge several)
      rows.map(_.toSeq).toSeq.sorted(ord).foreach { vals =>
        val tUs = KeyedState.eventMicros(
          vals(tsIdx).asInstanceOf[java.sql.Timestamp])
        val e = OverAggregates.entryOfVals(vals, aggIdx)
        val (touch, rest) = sess.partition(s =>
          s.startUs < tUs + gapUs && tUs < s.lastUs + gapUs)
        if (touch.isEmpty && isStreaming && sparkWmUs >= tUs + gapUs) {
          // the row's own session is already past the retention horizon
          // and it extends nothing retained: the allowed-lateness drop
        } else {
          val firedIds = touch.collect {
            case s if s.firedStartUs >= 0 => s.firedStartUs }
          val keepId = if (firedIds.isEmpty) -1L else firedIds.min
          touch.foreach { s =>
            if (s.firedStartUs >= 0 && s.firedStartUs != keepId)
              retracts += Row.fromSeq(keyVals ++ Seq(s.firedStartUs) ++
                OverAggregates.accOutputs(aggs, s.rows, s.accs, s.dsets) :+ 3)
          }
          val single = Sess(tUs, tUs, 1L,
            OverAggregates.updateAccs(aggs,
              OverAggregates.emptyAccs(aggs), e),
            OverAggregates.updateDsets(aggs,
              OverAggregates.emptyDsets(aggs), e),
            // -1 = content changed since the last emission, whatever the
            // merged row count ends up being
            emittedRows = -1L, closed = false)
          val merged = (single :: touch).reduce { (a, b) =>
            Sess(math.min(a.startUs, b.startUs),
              math.max(a.lastUs, b.lastUs), a.rows + b.rows,
              OverAggregates.mergeAccs(a.accs, b.accs),
              a.dsets.zip(b.dsets).map { case (x, y) => x ++ y },
              emittedRows = -1L, closed = a.closed || b.closed,
              firedStartUs = keepId)
          }
          sess = (merged :: rest).sortBy(_.startUs)
        }
      }
      if (!isStreaming) sess.iterator.map(emit(_, 1))
      else {
        val trueWmUs = sparkWmUs + lateUs
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        val kept = List.newBuilder[Sess]
        sess.foreach { s =>
          val endUs = s.lastUs + gapUs
          if (sparkWmUs >= endUs) {
            // retention horizon passed: last fire on the way out if
            // anything unfired remains (one micro-batch can jump the
            // watermark past close AND horizon)
            if (!s.closed && s.rows > 0) out += emit(s, 1)
            else if (s.closed && s.rows != s.emittedRows) out += emit(s, 2)
          } else if (!s.closed && trueWmUs >= endUs) {
            out += emit(s, 1)
            kept += s.copy(emittedRows = s.rows, closed = true,
              firedStartUs = s.startUs)
          } else if (s.closed && s.rows != s.emittedRows) {
            out += emit(s, 2)
            kept += s.copy(emittedRows = s.rows)
          } else if (!s.closed && state.hasTimedOut &&
              s.rows != s.emittedRows) {
            out += emit(s, 0)
            kept += s.copy(emittedRows = s.rows)
          } else kept += s
        }
        val k = kept.result()
        if (k.isEmpty) { if (state.exists) state.remove() }
        else {
          state.update(SessState(k))
          state.setTimeoutDuration(earlyFire)
        }
        retracts.iterator ++ out.iterator
      }
    }

    KeyedState.run(df.withWatermark(tsCol, wmDelay), partCols,
      GroupStateTimeout.ProcessingTimeTimeout, Encoders.row(outSchema))(process)
  }
}
