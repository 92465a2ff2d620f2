package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The events-table stream model shared by the streaming package: the
  * typed [[Event]] row, its full-precision event-time key
  * ([[eventMicros]]) and the streaming per-stratum reservoir sampler.
  *
  * The keyed stateful families (top-n / dedup, streaming OVER, count
  * windows, event-time sort) each have ONE executor that runs on any
  * DataFrame — [[RankOps]], [[OverAggregates]], [[CountWindows]] and
  * [[RowSort]] — the way the reference's Blink runtime runs one keyed
  * operator per family on any registered table. An Event stream feeds
  * them through `.toDF()`.
  *
  * Idle-state cleanup (reference: CleanupState idle retention) is
  * opt-in via `idleTtl`: a processing-time timeout makes Spark schedule
  * continuous empty micro-batches to evaluate expiry, so it should be
  * enabled only on long-running jobs that need it.
  */
object StatefulOps {

  /** One keyed event of the stream (events table shape). */
  case class Event(user_id: Long, event_id: Long, ts: Timestamp,
      event_type: String, value: Double)

  /** Full-precision event-time sort key: epoch MICROSECONDS.
    * `Timestamp.getTime` truncates to milliseconds — the sub-ms component
    * (which the nanos-sourced fixture timestamps carry) lives only in
    * `getNanos`. Every operator in this package orders and compares by
    * this key; comparing `getTime` directly would mis-order same-
    * millisecond events and diverge from the DuckDB oracles' full-
    * precision `ORDER BY ts`. */
  def eventMicros(ts: Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000

  private def timeoutConf(idleTtl: Option[String]): GroupStateTimeout =
    if (idleTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
    else GroupStateTimeout.NoTimeout

  /** Handle TTL bookkeeping; returns true when the group timed out and was
    * cleared (caller emits nothing). */
  private def handleTtl[S](state: GroupState[S], idleTtl: Option[String]): Boolean =
    if (state.hasTimedOut) { state.remove(); true }
    else { idleTtl.foreach(state.setTimeoutDuration); false }

  /** Streaming reservoir row: current sample membership for a stratum. */
  case class Sampled(stratum: String, item_id: Long, sample_rank: Int)
  case class ResEntry(rank: Long, item_id: Long)
  case class ResState(entries: Seq[ResEntry])

  /** Streaming per-stratum reservoir sample: maintain the k rows with the
    * SMALLEST deterministic pseudo-rank per stratum (bottom-k-by-hash, aka
    * consistent sampling), re-emitting the refreshed sample whenever
    * membership changes. Because the priority is a pure function of the
    * item id, the maintained sample is ARRIVAL-ORDER-INDEPENDENT — any
    * interleaving of batches converges to the same k rows, which is what
    * makes the operator exactly-once-friendly across retries and
    * partition reshuffles at scale, unlike a classic randomized reservoir.
    * Batch collapse (one invocation per key, empty state) therefore equals
    * [[graft.operators.Sampling.stratifiedSample]] with the same seed —
    * the oracle-checked contract.
    *
    * State is bounded by k entries per stratum. */
  def reservoirPerKey(rows: Dataset[(String, Long)], k: Int, seed: Long,
      idleTtl: Option[String] = None): Dataset[Sampled] = {
    implicit val outEnc = Encoders.product[Sampled]
    implicit val stateEnc = Encoders.product[ResState]
    rows
      .groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf(idleTtl))(
        (stratum: String, it: Iterator[(String, Long)],
            state: GroupState[ResState]) => {
          if (handleTtl(state, idleTtl)) Iterator.empty
          else {
            val prev = state.getOption.getOrElse(ResState(Nil)).entries
            val incoming = it.map { case (_, id) =>
              ResEntry(graft.operators.Sampling.pseudoRankLong(id, seed), id)
            }
            val merged = (prev ++ incoming).distinct
              .sortBy(e => (e.rank, e.item_id)).take(k)
            if (merged != prev) {
              state.update(ResState(merged))
              merged.zipWithIndex.iterator.map { case (e, i) =>
                Sampled(stratum, e.item_id, i + 1)
              }
            } else Iterator.empty
          }
        })
  }
}
