package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.types._

import OverAggregates.{Acc, Agg}

/** PROC-TIME group windows: `TUMBLE(PROCTIME(), size)` aggregation over
  * an ARBITRARY DataFrame — the reference's processing-time window
  * aggregate (reference: TumblingWindowAssigner.java:96
  * `.withProcessingTime()`; the stream `WindowAggregateITCase` proc-time
  * cases group by exactly this spelling). r16 closes the last group-window
  * SQL spelling the front door refused (the r15 tested rejection):
  * [[GroupWindowSql]] runs this executor in place of an `Aggregate` of
  * Spark's parsed plan that groups by `TUMBLE(PROCTIME(), size)`;
  * HOP/SESSION over proc-time remain rejected (a sliding or merging
  * wall-clock assigner multiplies the nondeterminism without a
  * checkable collapse).
  *
  * Semantics (micro-batch rendering of the reference's wall-clock
  * assigner): a row joins the processing-time window of the instant its
  * micro-batch is PROCESSED — `w_start = floor(now / width) * width` —
  * and a window's aggregate emits once the wall clock passes its end
  * (a processing-time timer, the reference's proc-time trigger). Exactly
  * the arrival-order discipline of the proc-time OVER executors
  * ([[OverAggregates.procRowsAggregates]]): within one micro-batch all
  * rows share one processing instant.
  *
  * Batch collapse (what the correctness gate hash-checks): a batch run
  * is ONE processing instant, so every key's rows land in ONE window and
  * the output is the plain GROUP BY — deterministic even though the
  * window's wall-clock START is not. The declared query therefore
  * projects the KEYS, the exact `w_width_ms`, and the aggregates — never
  * the wall-clock start — and the oracle states the same GROUP BY with
  * the literal width; per-window width exactness and row coverage are
  * thereby hash-pinned (one row per key, counts equal to the input
  * partition sizes). The streaming fire sequence is pinned by
  * `ProcTimeWindowsSpec` with an injected clock.
  *
  * Scale: one shuffle on the group keys; state is O(open windows × aggs)
  * per key (wall clock closes windows promptly, so at most ~2 open
  * windows per key at any instant), the same bound as the reference's
  * proc-time WindowOperator.
  *
  * `nowMs` is injectable for deterministic specs; production uses the
  * wall clock, exactly like [[OverAggregates.procRangeAggregates]]'s
  * `procClock`.
  */
object ProcTimeWindows {

  /** One open proc-time window's accumulated state. */
  final case class PWin(rows: Long, accs: Seq[Acc], dsets: Seq[Set[Any]])

  /** Per-key state: open windows by start-ms. Java-serialized for the
    * same JPMS reason as [[OverAggregates.GenState]]. */
  final case class PState(wins: Map[Long, PWin])

  def procTumbleAgg(df: DataFrame, partCols: Seq[String],
      width: java.time.Duration, aggs0: Seq[Agg],
      nowMs: () => Long = () => System.currentTimeMillis()): DataFrame = {
    val aggs = OverAggregates.normalizeAggs(aggs0)
    require(aggs.nonEmpty, "at least one aggregate is required")
    val widthMs = width.toMillis
    require(widthMs > 0, s"window width must be positive, got $width")
    val schema = df.schema
    KeyedState.requireColumns(schema, partCols)
    val aggIdx = OverAggregates.checkAggs(schema, aggs)
    val outSchema = StructType(partCols.map(schema(_)) ++
      Seq(StructField("w_start_ms", LongType, nullable = false),
        StructField("w_width_ms", LongType, nullable = false)) ++
      OverAggregates.outFields(aggs, aggIdx))
    val isStreaming = df.isStreaming

    def emit(keyVals: Seq[Any], w: Long, s: PWin): Row =
      Row.fromSeq(keyVals ++ Seq(w, widthMs) ++
        OverAggregates.accOutputs(aggs, s.rows, s.accs, s.dsets))

    def process(key: Row, rows: Iterator[Row],
        state: GroupState[PState]): Iterator[Row] = {
      val now = nowMs()
      val curW = Math.floorDiv(now, widthMs) * widthMs
      var wins = state.getOption.map(_.wins).getOrElse(Map.empty[Long, PWin])
      rows.foreach { r =>
        val e = OverAggregates.entryOfVals(r.toSeq, aggIdx)
        val w0 = wins.getOrElse(curW, PWin(0L,
          OverAggregates.emptyAccs(aggs), OverAggregates.emptyDsets(aggs)))
        wins += curW -> PWin(w0.rows + 1,
          OverAggregates.updateAccs(aggs, w0.accs, e),
          OverAggregates.updateDsets(aggs, w0.dsets, e))
      }
      if (!isStreaming) {
        // batch collapse: one processing instant — everything is one
        // window per key, emitted now (the GROUP BY the oracle checks)
        wins.toSeq.sortBy(_._1).iterator
          .map { case (w, s) => emit(key.toSeq, w, s) }
      } else {
        val (ripe, open) = wins.partition { case (w, _) =>
          w + widthMs <= now
        }
        if (open.isEmpty) state.remove()
        else {
          state.update(PState(open))
          // proc-time trigger: fire when the earliest open window ends
          state.setTimeoutDuration(
            math.max(1L, open.keys.min + widthMs - now))
        }
        ripe.toSeq.sortBy(_._1).iterator
          .map { case (w, s) => emit(key.toSeq, w, s) }
      }
    }

    KeyedState.run(df, partCols, GroupStateTimeout.ProcessingTimeTimeout,
      Encoders.row(outSchema))(process)
  }
}
