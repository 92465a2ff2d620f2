package graft.streaming

import java.sql.Timestamp

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders,
  KeyValueGroupedDataset, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** The keyed-state runner under every stateful executor — the one place
  * that calls `groupByKey(...).flatMapGroupsWithState` (reference: every
  * keyed streaming operator extends KeyedProcessFunctionWithCleanupState,
  * which owns keying and idle-state cleanup). A family supplies its
  * per-key `process` function, its output encoder and its timers;
  * [[run]] decides the rest, once for all families:
  *
  *  - the key: a `Row` of the partition columns, plus an optional field
  *    the family computes from the row (WindowAggAny's window start). With
  *    neither, a constant `Int` key: Spark rejects an empty clustering
  *    list, so a partitionless clause is one sequential group;
  *  - the state encoder: Java serialization of the family's state case
  *    class (kryo's reflective field scan needs `--add-opens` that a
  *    plain-java launch lacks);
  *  - the processing-time `idleTtl` (the reference's cleanup timer), on
  *    streams only: a key that receives no row for that long is removed
  *    and emits nothing; a later row starts fresh state. The timeout
  *    makes Spark schedule empty micro-batches to evaluate expiry, so
  *    reserve it for long-running jobs that need bounded state. Event-time
  *    retentions stay in their families, which apply them in-band.
  *
  * It also owns the entry checks the families share — columns exist
  * ([[requireColumns]]), ORDER BY columns are orderable
  * ([[requireOrderable]]) — the one null-aware ORDER BY comparator,
  * [[Order]], which [[order]] builds only over checked columns, and the
  * full-precision event-time key [[eventMicros]].
  */
object KeyedState {

  /** Run `process(key, rows, state)` once per key of `df` per trigger
    * (batch: once per key) and return what it emits.
    *
    * `timeout` is the family's timer kind. `idleTtl` is accepted only by
    * families without timers of their own; on a batch input it is
    * ignored, as a batch never times out. `extraKey` appends one field,
    * computed from each row, after the partition columns of the key. */
  def run[S: ClassTag, O](df: DataFrame, partCols: Seq[String],
      timeout: GroupStateTimeout, outEnc: Encoder[O],
      idleTtl: Option[String] = None,
      extraKey: Option[(StructField, Row => Any)] = None)(
      process: (Row, Iterator[Row], GroupState[S]) => Iterator[O])
      : Dataset[O] = {
    val schema = df.schema
    requireColumns(schema, partCols)
    require(idleTtl.isEmpty || timeout == GroupStateTimeout.NoTimeout,
      "idleTtl is a processing-time timer: only an executor without " +
        "timers of its own takes it")
    val conf =
      if (idleTtl.isDefined && df.isStreaming)
        GroupStateTimeout.ProcessingTimeTimeout
      else timeout
    val stEnc: Encoder[S] = Encoders.javaSerialization[S]
    val f = withIdleTtl(idleTtl, df.isStreaming)(process)
    def runOn[K](keyed: KeyValueGroupedDataset[K, Row],
        keyRow: K => Row): Dataset[O] =
      keyed.flatMapGroupsWithState(OutputMode.Append, conf)(
        (k: K, rows: Iterator[Row], state: GroupState[S]) =>
          f(keyRow(k), rows, state))(stEnc, outEnc)
    val idx = partCols.map(schema.fieldIndex).toArray
    // Spark rejects an empty clustering list: no key columns → one
    // constant key
    if (idx.isEmpty && extraKey.isEmpty)
      runOn(df.groupByKey(_ => 0)(Encoders.scalaInt), (_: Int) => Row.empty)
    else {
      val keyEnc = Encoders.row(
        StructType(idx.map(schema.fields(_)).toSeq ++ extraKey.map(_._1)))
      runOn(df.groupByKey(keyOf(idx, extraKey.map(_._2).orNull))(keyEnc),
        (k: Row) => k)
    }
  }

  /** The key of one row: the values at `idx`, then `extra(row)` when
    * given — one array per row, no intermediate collection. */
  private def keyOf(idx: Array[Int], extra: Row => Any): Row => Row = {
    val width = idx.length + (if (extra == null) 0 else 1)
    r => {
      val a = new Array[Any](width)
      var i = 0
      while (i < idx.length) { a(i) = r.get(idx(i)); i += 1 }
      if (extra != null) a(i) = extra(r)
      new GenericRow(a)
    }
  }

  /** `process` under the processing-time idle TTL: a timed-out key is
    * removed and emits nothing; a live key's timeout is re-armed for
    * `idleTtl` before `process` runs. A batch input, or no TTL, runs
    * `process` unchanged. */
  private[streaming] def withIdleTtl[S, O](idleTtl: Option[String],
      isStreaming: Boolean)(
      process: (Row, Iterator[Row], GroupState[S]) => Iterator[O])
      : (Row, Iterator[Row], GroupState[S]) => Iterator[O] =
    idleTtl.filter(_ => isStreaming) match {
      case None => process
      case Some(ttl) => (key, rows, state) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else { state.setTimeoutDuration(ttl); process(key, rows, state) }
    }

  /** Full-precision event-time sort key: epoch MICROSECONDS.
    * `Timestamp.getTime` truncates to milliseconds — the sub-ms component
    * (which the nanos-sourced fixture timestamps carry) lives only in
    * `getNanos`. Every executor orders and compares event time by this
    * key; comparing `getTime` directly would mis-order same-millisecond
    * rows and diverge from the DuckDB oracles' full-precision
    * `ORDER BY ts`. */
  def eventMicros(ts: Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000

  /** Every named column exists in `schema`; `where` names the schema in
    * the error. */
  def requireColumns(schema: StructType, cols: Seq[String],
      where: String = "input schema"): Unit =
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"column '$c' not in $where ${schema.fieldNames.mkString(", ")}"))

  /** The comparators cast external values to `Comparable[Any]`; an
    * array/map/struct column (rendered Seq/Map/Row) or binary
    * (Array[Byte]) would pass the existence check and only throw
    * ClassCastException mid-query — fail loudly up front instead. */
  def requireOrderable(schema: StructType, c: String): Unit = {
    val dt = schema.fields(schema.fieldIndex(c)).dataType
    val ok = dt match {
      case _: NumericType | StringType | BooleanType | DateType |
          TimestampType | TimestampNTZType => true
      case _ => false
    }
    require(ok,
      s"ORDER BY / tie-break column '$c' has non-comparable external type " +
        s"$dt (arrays/maps/structs/binary render as types without a " +
        "runtime Comparable); order on an atomic column")
  }

  /** The arrival pseudo-column: with `arrival = true`, [[order]] sorts a
    * column of this name that the schema lacks on each row's arrival
    * stamp (the reference's proc-time dedup orders on `proctime`). */
  val Arrival = "proctime"

  /** The ORDER BY comparator: `keys` as (column, ascending) pairs,
    * compared left to right; every column must exist and be orderable.
    * `offset` shifts the column positions, for values that carry
    * `schema`'s columns at that offset (the temporal join's envelope). */
  def order(schema: StructType, keys: Seq[(String, Boolean)],
      offset: Int = 0, arrival: Boolean = false): Order = {
    val idx = keys.map { case (c, _) =>
      if (arrival && c == Arrival && !schema.fieldNames.contains(c)) -1
      else {
        requireColumns(schema, Seq(c))
        requireOrderable(schema, c)
        offset + schema.fieldIndex(c)
      }
    }
    new Order(idx.toArray, keys.map(_._2).toArray)
  }

  /** Nulls first ASC, last DESC (Spark's default null ordering). As an
    * `Ordering[Seq[Any]]` it sorts external row values; [[rows]] sorts
    * `Row`s and [[stamped]] sorts (arrival stamp, values) pairs. */
  final class Order private[KeyedState] (idx: Array[Int],
      asc: Array[Boolean]) extends Ordering[Seq[Any]] {

    private def cmp(k: Int, x: Any, y: Any): Int = {
      val c =
        if (x == null) { if (y == null) 0 else -1 }
        else if (y == null) 1
        else x.asInstanceOf[Comparable[Any]].compareTo(y)
      if (asc(k)) c else -c
    }

    override def compare(a: Seq[Any], b: Seq[Any]): Int = {
      var k = 0
      while (k < idx.length) {
        val c = cmp(k, a(idx(k)), b(idx(k)))
        if (c != 0) return c
        k += 1
      }
      0
    }

    val rows: Ordering[Row] = new Ordering[Row] {
      override def compare(a: Row, b: Row): Int = {
        var k = 0
        while (k < idx.length) {
          val c = cmp(k, a.get(idx(k)), b.get(idx(k)))
          if (c != 0) return c
          k += 1
        }
        0
      }
    }

    /** The arrival pseudo-column compares stamps; pairs equal on every
      * key keep the EARLIER arrival first (ROW_NUMBER's stable tie
      * order, so the kept prefix is deterministic). */
    val stamped: Ordering[(Long, Seq[Any])] = new Ordering[(Long, Seq[Any])] {
      override def compare(a: (Long, Seq[Any]), b: (Long, Seq[Any])): Int = {
        var k = 0
        while (k < idx.length) {
          val c =
            if (idx(k) < 0) {
              val s = java.lang.Long.compare(a._1, b._1)
              if (asc(k)) s else -s
            } else cmp(k, a._2(idx(k)), b._2(idx(k)))
          if (c != 0) return c
          k += 1
        }
        java.lang.Long.compare(a._1, b._1)
      }
    }
  }
}
