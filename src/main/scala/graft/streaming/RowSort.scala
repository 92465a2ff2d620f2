package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.streaming.GroupStateTimeout
import org.apache.spark.sql.types._

/** Streaming EVENT-TIME SORT over an ARBITRARY DataFrame — the one
  * streaming-sort executor (reference:
  * flink-table-runtime-blink .../operators/sort/RowTimeSortOperator.java
  * via StreamExecSort / StreamExecTemporalSort — buffer out-of-order
  * rows and release them in order once the watermark passes their
  * timestamp, i.e. re-establish event-time order up to the declared
  * out-of-order bound).
  *
  * `orderCols` is (leading event-time timestamp, tie-break columns...),
  * all ascending — the reference's streaming sort key shape (rowtime
  * first, StreamExecSortRule requires it). Total order is inherently
  * single-stream, exactly as the reference runs streaming sort at
  * parallelism 1: the operator is for ORDERED TAPS (alert streams,
  * audit logs), not bulk data paths — on a bulk path sort the batch
  * collapse (a plain ORDER BY) instead. An event-time timer drains the
  * buffer when the watermark advances without new rows; state is the
  * not-yet-released buffer, bounded by the watermark delay. In batch
  * execution the whole input is final and the operator collapses to the
  * plain ORDER BY — the oracle shape.
  */
object RowSort {

  /** Buffered not-yet-releasable rows (java-serialized, like the other
    * general-schema executors). */
  final case class SortState(rows: Seq[Seq[Any]])

  def sortByEventTime(df: DataFrame, orderCols: Seq[String],
      delay: String = "0 seconds"): DataFrame = {
    require(orderCols.nonEmpty, "ORDER BY must name at least one column")
    val schema = df.schema
    val ord = KeyedState.order(schema, orderCols.map(_ -> true))
    val leadIdx = schema.fieldIndex(orderCols.head)
    val isStreaming = df.isStreaming
    if (isStreaming) require(schema.fields(leadIdx).dataType == TimestampType,
      "streaming sort orders on event time: the leading ORDER BY column " +
        s"must be a timestamp, got ${schema.fields(leadIdx).dataType}")
    def leadUs(vals: Seq[Any]): Long =
      KeyedState.eventMicros(vals(leadIdx).asInstanceOf[java.sql.Timestamp])

    KeyedState.run[SortState, Row](df.withWatermark(orderCols.head, delay),
      Nil, GroupStateTimeout.EventTimeTimeout, Encoders.row(schema)) {
      (_, rows, state) =>
        val buf = (state.getOption.map(_.rows).getOrElse(Nil) ++
          rows.map(_.toSeq)).sorted(ord)
        // batch: no watermark exists — the whole input is final (and
        // the leading column need not be a timestamp there)
        val (ripe, pending) =
          if (!isStreaming) (buf, Nil)
          else {
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            buf.partition(v => leadUs(v) <= wmUs)
          }
        if (pending.isEmpty) state.remove()
        else {
          state.update(SortState(pending))
          // fire as soon as the watermark can cover the earliest
          // pending row; never at/below the current watermark
          val headMs = leadUs(pending.head) / 1000
          state.setTimeoutTimestamp(
            math.max(headMs - 1, state.getCurrentWatermarkMs() + 1))
        }
        ripe.iterator.map(Row.fromSeq)
    }
  }
}
