package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.types._

/** Count-based windows over an ARBITRARY DataFrame — the one
  * count-window executor (reference: flink-table-runtime-blink
  * .../operators/window/assigners/CountTumblingWindowAssigner.java /
  * CountSlidingWindowAssigner.java — count windows assign on arrival
  * COUNT per key, not time, so no watermark is involved).
  *
  * Every `size` rows per key (stepping by `slide`; tumbling =
  * slide == size) complete a window and emit
  * `partCols ++ (win_seq, n_rows, sum_v, first_id, last_id)`; a partial
  * window stays in state until filled. Within a micro-batch rows apply
  * in `orderCols` order (the declared determinism key); in batch
  * execution the whole input is one arrival sequence, so the operator
  * collapses to the plain chunked-ROW_NUMBER group query — the oracle
  * shape. A DecimalType `valueCol` folds exactly in BigDecimal (same
  * discipline as [[OverAggregates]]); doubles fold left-to-right,
  * bit-deterministic per the fixed order.
  *
  * Scale: one shuffle on the partition columns; per-key state is O(1)
  * for tumbling (the running aggregate) and O(size) for sliding (the
  * retained ring), the reference's own bounds. `idleTtl` is the
  * reference's processing-time cleanup timer (opt-in; an expired key's
  * partial window is discarded).
  */
object CountWindows {

  /** Per-key state: rows seen, and the ring of retained
    * (id, value) pairs — the trailing `size - 1` rows a sliding window
    * still needs (tumbling keeps at most `size - 1` accumulating rows).
    * Java-serialized like the other general-schema executors. */
  final case class CWState(seen: Long, ring: Seq[(Any, Any)])

  def countTumble(df: DataFrame, partCols: Seq[String],
      orderCols: Seq[String], size: Int, valueCol: String, idCol: String,
      idleTtl: Option[String] = None): DataFrame =
    countSlide(df, partCols, orderCols, size, size, valueCol, idCol, idleTtl)

  /** BATCH-NATIVE count-tumbling windows: the identical result planned
    * as ROW_NUMBER chunking + a native hash aggregate — codegen'd,
    * spill-aware, partial-aggregated map-side, the 100 TB batch plan vs
    * the stateful executor's groupByKey + per-key fold (whose job is
    * streaming semantics). Use a DECIMAL `valueCol` when the sum must be
    * bit-identical to the executor's left-to-right fold — a double sum
    * under native partial aggregation is order-dependent in the last
    * ulp. Sliding windows stay on the executor (a native rendering is a
    * self-join that multiplies the fact by size/slide).
    * `CountWindowsSpec` pins this path row-identical to the executor's
    * batch collapse on decimal values. */
  def countTumbleBatchNative(df: DataFrame, partCols: Seq[String],
      orderCols: Seq[String], size: Int, valueCol: String,
      idCol: String): DataFrame = {
    require(!df.isStreaming,
      "countTumbleBatchNative is the batch plan; streaming takes countTumble")
    require(size > 0, s"count-window size must be positive, got $size")
    val winSize = size // functions._ shadows the param name below
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val schema = df.schema
    val sumT = schema(schema.fieldIndex(valueCol)).dataType match {
      case d: DecimalType => DecimalType(DecimalType.MAX_PRECISION, d.scale)
      case _: NumericType => DoubleType
      case other => sys.error(s"sum column '$valueCol' must be numeric, got $other")
    }
    val w = (if (partCols.isEmpty) Window.partitionBy()
      else Window.partitionBy(partCols.map(col): _*))
      .orderBy(orderCols.map(col): _*)
    val rn = row_number().over(w).cast("long") - 1L
    df.withColumn("__graft_rn", rn)
      .withColumn("win_seq", (col("__graft_rn") / lit(winSize)).cast("long"))
      .groupBy((partCols.map(col) :+ col("win_seq")): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(col(valueCol)).cast(sumT).as("sum_v"),
        min_by(col(idCol), col("__graft_rn")).as("first_id"),
        max_by(col(idCol), col("__graft_rn")).as("last_id"))
      .filter(col("n_rows") === winSize)
      .select((partCols.map(col) ++ Seq(col("win_seq"), col("n_rows"),
        col("sum_v"), col("first_id"), col("last_id"))): _*)
  }

  /** Sliding count windows: once `size` rows have arrived, a window of
    * the most recent `size` rows completes at every `slide`-th
    * subsequent row (win_seq = completion index, 0-based). */
  def countSlide(df: DataFrame, partCols: Seq[String],
      orderCols: Seq[String], size: Int, slide: Int, valueCol: String,
      idCol: String, idleTtl: Option[String] = None): DataFrame = {
    require(size > 0 && slide > 0,
      s"count-window size/slide must be positive, got size=$size slide=$slide")
    require(orderCols.nonEmpty, "orderCols must name the determinism key")
    val schema = df.schema
    KeyedState.requireColumns(schema, partCols :+ valueCol :+ idCol)
    val ord = KeyedState.order(schema, orderCols.map(_ -> true))
    val isStreaming = df.isStreaming
    val vIdx = schema.fieldIndex(valueCol)
    val vDec = schema.fields(vIdx).dataType match {
      case d: DecimalType => Some(d)
      case _: NumericType => None
      case other => sys.error(s"sum column '$valueCol' must be numeric, got $other")
    }
    val idIdx = schema.fieldIndex(idCol)
    val outSchema = StructType(
      partCols.map(schema(_)) ++ Seq(
        StructField("win_seq", LongType, nullable = false),
        StructField("n_rows", LongType, nullable = false),
        StructField("sum_v",
          vDec.map(d => DecimalType(DecimalType.MAX_PRECISION, d.scale)
            : DataType).getOrElse(DoubleType), nullable = true),
        StructField("first_id", schema.fields(idIdx).dataType, nullable = true),
        StructField("last_id", schema.fields(idIdx).dataType, nullable = true)))

    def toV(v: Any): Any = v match {
      case null => null
      case b: java.math.BigDecimal => b
      case b: scala.math.BigDecimal => b.bigDecimal
      case n: java.lang.Number if vDec.isEmpty =>
        java.lang.Double.valueOf(n.doubleValue())
      case other => sys.error(s"non-numeric sum input $other")
    }
    def sumRing(ring: collection.Seq[(Any, Any)]): Any = {
      var s: Any = null
      ring.foreach { case (_, v) =>
        if (v != null) s =
          if (s == null) v
          else (s, v) match {
            case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.add(y)
            case (x: java.lang.Double, y: java.lang.Double) =>
              java.lang.Double.valueOf(x + y)
            case other => sys.error(s"mixed sum types $other")
          }
      }
      s
    }

    def process(key: Row, rows: Iterator[Row],
        state: GroupState[CWState]): Iterator[Row] = {
      val keyVals = key.toSeq
      val st = state.getOption.getOrElse(CWState(0L, Nil))
      val ring = scala.collection.mutable.ArrayDeque.from(st.ring)
      var seen = st.seen
      val out = Seq.newBuilder[Row]
      rows.map(_.toSeq).toSeq.sorted(ord).foreach { vals =>
        ring.append((vals(idIdx), toV(vals(vIdx))))
        if (ring.length > size) ring.removeHead()
        seen += 1
        if (seen >= size && (seen - size) % slide == 0)
          out += Row.fromSeq(keyVals ++ Seq((seen - size) / slide,
            ring.length.toLong, sumRing(ring), ring.head._1, ring.last._1))
      }
      // persist only the trailing size-1 rows any future window can still
      // contain (the reference's buffer bound)
      while (ring.length > size - 1) ring.removeHead()
      if (isStreaming) state.update(CWState(seen, ring.toSeq))
      out.result().iterator
    }

    KeyedState.run(df, partCols, GroupStateTimeout.NoTimeout,
      Encoders.row(outSchema), idleTtl)(process)
  }
}
