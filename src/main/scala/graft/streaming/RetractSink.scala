package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Accumulate/retract changelog sink — the reference's
  * `RetractStreamTableSink` contract (reference: flink-table-api-java-bridge
  * .../sinks/RetractStreamTableSink.java: a stream of (accumulate|retract
  * flag, row); the flag is the `BaseRow` 1-byte header, SURVEY §1.2):
  * applies a ±1-flagged changelog to a keyed running aggregate table, so
  * `dir/current` always holds (keys, cnt, total) for every LIVE key.
  *
  * Per micro-batch the changelog collapses to one partial aggregate
  * (sum of flags, sum of flag·value — map-side combined, shuffled on the
  * group keys), which full-outer merges with the prior state by addition;
  * a key whose count returns to zero leaves the table — full retraction,
  * the semantic the reference encodes with retract messages and Spark's
  * output modes do not surface directly. Scale notes as [[UpsertSink]]:
  * delta is batch-sized, the merge joins on the natural key, snapshot
  * swap is rename-atomic under the single-writer guarantee.
  *
  * INPUT CONTRACT — the changelog must be a VALID retract stream: every
  * retract message mirrors a previously emitted accumulate message (same
  * keys, same value), the `RetractStreamTableSink` contract. Under that
  * invariant a zero-crossing (cnt back to 0) leaves total ~ 0, so the
  * full-retraction drop is lossless — exactly the reference's
  * record-count-zero state clear (blink runtime GroupAggFunction: "if
  * all input rows are retracted, clear state"). An ARBITRARY signed
  * stream (a -1 carrying a value no +1 ever carried) can reach cnt == 0
  * with nonzero total; the drop then discards that total and later rows
  * re-accumulate from zero, diverging from a one-shot signed aggregate.
  * That is reference-faithful behavior on an input that violates the
  * retract-stream invariant, not a sink defect (measured at scale in
  * SCALE.md §Round 11).
  */
object RetractSink {

  /** Name of the applied-batch marker committed INSIDE each snapshot. */
  private val AppliedMarker = "_applied_batch"

  /** Apply one changelog batch. `flagCol` holds +1 (accumulate) or -1
    * (retract); `valueCol` is the measure being aggregated.
    *
    * Unlike the upsert merge, the retraction algebra is additive — NOT
    * idempotent under replay — so the streaming writer passes the engine's
    * `batchId` and an already-applied id is skipped: Structured Streaming
    * re-runs a failed batch with identical content, and the high-water
    * mark turns that replay into a no-op. The marker file is written into
    * the snapshot directory BEFORE the pointer flip publishes it, so
    * marker and state commit atomically together — a crash at any point
    * leaves either the old snapshot (batch unapplied, replay applies it
    * once) or the new one (marker present, replay skipped); there is no
    * window in which the state includes the batch but the marker does
    * not. The marker carries the writer's `runId` alongside the batch id,
    * and the skip applies only when the run matches: a query restarted
    * with a FRESH checkpoint restarts batchIds at 0, and a batch-id-only
    * high-water mark would silently swallow every batch of the new run
    * against an existing sink dir. Batch callers that pass no id
    * (`batchId = -1`) are applied unconditionally. */
  def mergeBatch(batch: DataFrame, keys: Seq[String], flagCol: String,
      valueCol: String, dir: String, batchId: Long = -1L,
      runId: String = ""): Unit = {
    require(keys.nonEmpty, "keys required")
    val spark = batch.sparkSession
    if (batchId >= 0 && lastApplied(spark, dir).exists { case (run, id) =>
        run == runId && batchId <= id }) return
    val delta = batch.groupBy(keys.map(col): _*)
      .agg(sum(col(flagCol)).cast(LongType).as("cnt"),
        sum(col(flagCol).cast(DoubleType) * col(valueCol)).as("total"))
    val merged = UpsertSink.readSnapshot(spark, dir) match {
      case Some(old) =>
        old.as("o").join(delta.as("d"), keys, "full_outer")
          .select(keys.map(col) ++ Seq(
            (coalesce(col("o.cnt"), lit(0L)) + coalesce(col("d.cnt"), lit(0L)))
              .as("cnt"),
            (coalesce(col("o.total"), lit(0d)) + coalesce(col("d.total"), lit(0d)))
              .as("total")): _*)
      case None => delta
    }
    // an id-less batch caller carries the streaming high-water mark
    // forward instead of erasing it from the next snapshot
    val marker =
      if (batchId >= 0) Some(s"$runId:$batchId")
      else UpsertSink.readSnapshotFile(spark, dir, AppliedMarker)
    UpsertSink.writeSnapshot(merged.filter(col("cnt") =!= 0L), dir,
      marker.map(AppliedMarker -> _).toMap)
  }

  /** The (runId, batchId) high-water mark of the committed snapshot. */
  private def lastApplied(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[(String, Long)] =
    UpsertSink.readSnapshotFile(spark, dir, AppliedMarker).map { text =>
      val t = text.trim
      t.lastIndexOf(':') match {
        case -1 => ("", t.toLong) // pre-runId marker: legacy layout
        case i => (t.take(i), t.drop(i + 1).toLong)
      }
    }

  /** Streaming writer applying the changelog to `dir/current`.
    *
    * `stableId` is the idempotence scope of the applied-batch marker and
    * decides what a "replay" is:
    *
    *  - Pass an id stable across restarts of the SAME checkpoint — the
    *    checkpoint location is the natural choice (the same discipline as
    *    a transactional sink's txnAppId). Then a batch that was merged
    *    into the snapshot but whose checkpoint commit was lost to a crash
    *    is recognized on restart and skipped — the additive (non-
    *    idempotent) algebra stays exactly-once through kill-and-restart.
    *    The id must change if the checkpoint is wiped: a fresh checkpoint
    *    restarts batchIds at 0 and a stale high-water mark would swallow
    *    the new run's batches.
    *  - Default (None): a fresh UUID per writer instance. Replay skipping
    *    then covers only within-run retries; a crash between the snapshot
    *    flip and the checkpoint commit double-applies that one batch on
    *    restart. Safe only for fresh-sink-per-run callers. */
  def retractWriter(stream: DataFrame, keys: Seq[String], flagCol: String,
      valueCol: String, dir: String,
      stableId: Option[String] = None): DataStreamWriter[Row] = {
    val runId = stableId.getOrElse(java.util.UUID.randomUUID().toString)
    stream.writeStream
      .outputMode("update")
      .foreachBatch((batch: DataFrame, id: Long) =>
        mergeBatch(batch, keys, flagCol, valueCol, dir, id, runId))
  }
}
