package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.types._

/** Streaming OVER aggregates over an ARBITRARY DataFrame — the
  * general-schema executor behind [[WindowSql.sqlDf]], as
  * [[PatternMatch.matchRows]] is for MATCH_RECOGNIZE (reference: the
  * OVER clause accepts any registered table — flink-table-planner-blink
  * .../stream/sql/OverWindowITCase.scala partitions 3-column tuples by a
  * STRING key and aggregates arbitrary columns; the physical routing is
  * StreamExecOverAggregate.scala:56). It is the one streaming-OVER
  * executor, for every row-time and proc-time frame:
  *
  *  - composite (or empty) `partCols`, any column types;
  *  - any numeric value columns; COUNT(*) / COUNT(col) / SUM / MIN /
  *    MAX / AVG with SQL null-skipping;
  *  - the three row-time frames the reference routes on: UNBOUNDED
  *    PRECEDING, ROWS n PRECEDING, RANGE t PRECEDING (all
  *    ... AND CURRENT ROW).
  *
  * Event-time protocol is the package standard: rows BUFFER until the
  * watermark closes them, then fold through the frame in `orderCols`
  * order (RowTime*PrecedingFunction's register-timer-fire-on-watermark
  * protocol); a batch input is one final prefix and collapses to the
  * plain SQL window — which is what the DuckDB oracle checks.
  *
  * Scale: one shuffle on the partition columns, then per-key state:
  * O(1) accumulators for UNBOUNDED (min/max are monotone without
  * eviction), O(n+1) ring for ROWS, O(rows inside one horizon) for
  * RANGE — plus the not-yet-closed buffer, bounded by the watermark
  * delay. Empty `partCols` is accepted (the reference IT cases use
  * non-partitioned OVER) but is inherently one sequential group on any
  * engine — partition when the data is large. Bounded frames fold
  * INCREMENTALLY (r13, [[FrameAcc]] — the reference's
  * accumulate/retract contract): O(log frame) per row instead of an
  * O(frame) refold, with MIN/MAX surviving evictions in an ordered
  * count-multiset and floating-point sums still recomputed per emission
  * so the left-to-right double fold stays bit-deterministic.
  */
object OverAggregates extends Serializable {

  sealed trait Frame extends Serializable
  case object UnboundedPreceding extends Frame
  /** `RANGE UNBOUNDED PRECEDING`: the running aggregate with SQL PEER
    * semantics — rows equal on every ORDER BY key share one frame that
    * includes all of them (the reference's
    * RowTimeRangeUnboundedPrecedingFunction; also SQL's default frame
    * under ORDER BY). [[UnboundedPreceding]] is the ROWS twin: each row
    * sees only rows up to itself. */
  case object RangeUnbounded extends Frame
  final case class RowsPreceding(n: Int) extends Frame
  final case class RangePreceding(horizon: java.time.Duration) extends Frame

  /** One OVER aggregate: fn in COUNT/SUM/MIN/MAX/AVG; `valueCol` None
    * means COUNT(*). Output column named `alias`: COUNT is a non-null
    * long; over a DOUBLE-or-narrower numeric column SUM/MIN/MAX/AVG are
    * nullable double; over a DECIMAL column the arithmetic stays
    * DECIMAL-EXACT (r12 — the reference's long-backed decimal semantics,
    * flink-table-runtime-blink .../dataformat/Decimal.java:43): SUM is
    * DecimalType(38, s), MIN/MAX keep the input type, AVG derives as
    * double from the exact decimal sum. SQL null when the frame holds no
    * non-null input.
    *
    * MIN/MAX(DISTINCT) equal the plain aggregates (a distinct set has the
    * same extrema — SQL); both executors normalize them to
    * `distinct = false` at entry, so no distinct-value state is kept for
    * them and every frame shape serves them. */
  final case class Agg(fn: String, valueCol: Option[String], alias: String,
      distinct: Boolean = false)

  /** DISTINCT is a no-op on extrema: drop it for MIN/MAX so unbounded
    * frames never route them to the distinct-set accumulators (which
    * carry only COUNT/SUM/AVG) and bounded frames skip the per-fold
    * dedup set. */
  private[streaming] def normalizeAggs(aggs: Seq[Agg]): Seq[Agg] =
    aggs.map { a =>
      if (a.distinct && (a.fn == "MIN" || a.fn == "MAX"))
        a.copy(distinct = false)
      else a
    }

  // Per-key state: raw pending rows (external row values), the retained
  // frame (event micros + per-agg inputs), and the unbounded
  // accumulators. Java-serialized, not kryo: kryo's reflective field
  // scan needs java.base --add-opens a plain-java launch lacks, and the
  // small bounded ring/pending buffers do not need kryo speed. Public
  // because the serialized-state encoder requires a public class.
  // sum/min/max hold java.lang.Double OR java.math.BigDecimal (decimal
  // inputs); null = no non-null input seen.
  final case class Acc(n: Long, sum: Any, min: Any, max: Any)
  final case class GenState(
      pending: Seq[Seq[Any]],
      frameUs: Seq[Long],
      frameVals: Seq[Seq[Any]],
      rows: Long,
      accs: Seq[Acc],
      lastUs: Long = Long.MinValue,
      // per-agg distinct value sets — unbounded frames only (the
      // reference's DistinctView state; bounded frames rebuild their
      // incremental count-maps from the retained entries per
      // micro-batch — FrameAcc). Non-distinct aggs keep empty
      // sets. State grows with the key's distinct values, exactly the
      // reference's cost.
      distinctVals: Seq[Set[Any]] = Nil)
  private val emptyState = GenState(Nil, Nil, Nil, 0L, Nil)

  /** Row-time streaming OVER over an arbitrary DataFrame; see the object
    * Scaladoc for semantics.
    *
    * `idleTtl` is the reference's idle-state retention
    * (KeyedProcessFunctionWithCleanupState.java:93, opt-in here as
    * there): a key whose frame has seen no row for `idleTtl` of EVENT
    * time is cleared once the watermark passes that horizon, so an
    * abandoned key's ring/frame/accumulators stop occupying the store. A
    * row arriving after the gap starts a FRESH frame — the documented
    * retention trade, applied deterministically in-band (a ripe row
    * whose event-time gap from the key's previous row reaches the TTL
    * resets state even if the expiry timer shares its batch, so results
    * never race the timer). Batch execution applies the same in-band
    * gap semantics, keeping the batch collapse the stream's oracle. */
  def overAggregates(df: DataFrame, partCols: Seq[String],
      orderCols: Seq[String], frame: Frame, aggs0: Seq[Agg],
      delay: String = "0 seconds",
      idleTtl: Option[java.time.Duration] = None): DataFrame = {
    val aggs = normalizeAggs(aggs0)
    require(orderCols.nonEmpty, "ORDER BY must name at least one column")
    require(aggs.nonEmpty, "at least one OVER aggregate is required")
    val schema = df.schema
    val isStreaming = df.isStreaming
    val ord = KeyedState.order(schema, orderCols.map(_ -> true))
    val leadIdx = schema.fieldIndex(orderCols.head)
    val leadIsTs = schema.fields(leadIdx).dataType == TimestampType
    if (isStreaming) require(leadIsTs,
      s"streaming OVER orders on event time: the leading ORDER BY column " +
        s"must be a timestamp, got ${schema.fields(leadIdx).dataType}")
    frame match {
      case RangePreceding(h) =>
        require(!h.isNegative, s"RANGE horizon must be >= 0, got $h")
        require(leadIsTs, "a RANGE frame measures event time: the leading " +
          s"ORDER BY column must be a timestamp, got " +
          s"${schema.fields(leadIdx).dataType}")
      case RowsPreceding(n) =>
        require(n >= 0, s"ROWS frame bound must be >= 0, got $n")
      case UnboundedPreceding | RangeUnbounded => ()
    }
    val horizonUs = frame match {
      case RangePreceding(h) => h.toNanos / 1000
      case _ => 0L
    }
    val ttlUs = idleTtl.map(_.toNanos / 1000)
    ttlUs.foreach { t =>
      require(t > 0, s"idleTtl must be positive, got $idleTtl")
      require(leadIsTs, "idleTtl measures EVENT time: the leading ORDER " +
        s"BY column must be a timestamp, got ${schema.fields(leadIdx).dataType}")
    }
    val aggIdx = checkAggs(schema, aggs)
    val outSchema = StructType(schema.fields.toSeq ++ outFields(aggs, aggIdx))

    def entryOf(vals: Seq[Any]): Seq[Any] = entryOfVals(vals, aggIdx)
    def leadUs(vals: Seq[Any]): Long =
      KeyedState.eventMicros(vals(leadIdx).asInstanceOf[java.sql.Timestamp])
    def unboundedOut(rows: Long, accs: Seq[Acc],
        dsets: Seq[Set[Any]]): Seq[Any] = accOutputs(aggs, rows, accs, dsets)
    val emptyDsets: Seq[Set[Any]] = OverAggregates.emptyDsets(aggs)
    def foldDset(dsets: Seq[Set[Any]], e: Seq[Any]): Seq[Set[Any]] =
      updateDsets(aggs, dsets, e)
    def accUpdate(accs: Seq[Acc], e: Seq[Any]): Seq[Acc] =
      updateAccs(aggs, accs, e)

    def process(key: Row, rows: Iterator[Row], state: GroupState[GenState])
        : Iterator[Row] = {
      val st = state.getOption.getOrElse(emptyState)
      val all = (st.pending ++ rows.map(_.toSeq)).sorted(ord)
      val wmUs =
        if (!isStreaming) Long.MaxValue
        else state.getCurrentWatermarkMs() * 1000L
      // Emit-at-<= cannot split a RANGE peer group (rows tied on every
      // ORDER BY key must share one frame): peers that are pending
      // together flush in the SAME invocation and fold into one shared
      // frame below, and a tied peer arriving AFTER the watermark has
      // reached its timestamp never reaches this operator — Spark's
      // event-time late filter drops rows with ts <= watermark before
      // the stateful operator, the same late-row discipline as the
      // reference's timer functions (pinned by the cross-batch tied-peer
      // test in OverAggregatesSpec). Holding boundary rows until the
      // watermark strictly passes would only add a watermark-advance of
      // latency for an identical result multiset.
      val (ripe, pending) =
        if (!isStreaming) (all, Nil)
        else all.partition(v => leadUs(v) <= wmUs)
      val out = Seq.newBuilder[Row]
      var newSt = st
      // in-band deterministic idle reset: a ripe row whose event-time gap
      // from the key's previous row reaches the TTL starts fresh state
      // HERE, never racing the expiry timer (which may share this batch)
      var prevUs = st.lastUs
      def gapReset(vals: Seq[Any])(reset: => Unit): Unit = ttlUs.foreach { t =>
        val us = leadUs(vals)
        if (prevUs != Long.MinValue && us - prevUs >= t) reset
        prevUs = us
      }
      frame match {
        case UnboundedPreceding =>
          var rowsSoFar = st.rows
          var accs = if (st.accs.nonEmpty) st.accs
            else aggs.map(_ => Acc(0L, null, null, null))
          var dsets = if (st.distinctVals.nonEmpty) st.distinctVals
            else emptyDsets
          ripe.foreach { vals =>
            gapReset(vals) {
              rowsSoFar = 0L; accs = aggs.map(_ => Acc(0L, null, null, null))
              dsets = emptyDsets
            }
            rowsSoFar += 1
            val e = entryOf(vals)
            accs = accUpdate(accs, e)
            dsets = foldDset(dsets, e)
            out += Row.fromSeq(vals ++ unboundedOut(rowsSoFar, accs, dsets))
          }
          newSt = GenState(pending, Nil, Nil, rowsSoFar, accs,
            distinctVals = dsets)
        case RangeUnbounded =>
          // peer-inclusive running aggregate: rows equal on EVERY order
          // key fold into the accumulators together, then all emit the
          // same frame (SQL RANGE peers; the reference groups by rowtime
          // the same way). A peer group split across micro-batches emits
          // with the frames ripe at each batch — the executor's standing
          // watermark discipline.
          var rowsSoFar = st.rows
          var accs = if (st.accs.nonEmpty) st.accs
            else aggs.map(_ => Acc(0L, null, null, null))
          var dsets = if (st.distinctVals.nonEmpty) st.distinctVals
            else emptyDsets
          val sorted = ripe.toIndexedSeq
          var i = 0
          while (i < sorted.length) {
            var j = i
            while (j < sorted.length && ord.compare(sorted(j), sorted(i)) == 0)
              j += 1
            gapReset(sorted(i)) {
              rowsSoFar = 0L; accs = aggs.map(_ => Acc(0L, null, null, null))
              dsets = emptyDsets
            }
            (i until j).foreach { k =>
              rowsSoFar += 1
              val e = entryOf(sorted(k))
              accs = accUpdate(accs, e)
              dsets = foldDset(dsets, e)
            }
            val shared = unboundedOut(rowsSoFar, accs, dsets)
            (i until j).foreach(k => out += Row.fromSeq(sorted(k) ++ shared))
            i = j
          }
          newSt = GenState(pending, Nil, Nil, rowsSoFar, accs,
            distinctVals = dsets)
        case RowsPreceding(n) =>
          val cap = n + 1
          val ring = scala.collection.mutable.ArrayDeque.empty[Seq[Any]]
          val faccs = frameAccs(aggs, aggIdx)
          def ringAdd(e: Seq[Any]): Unit = {
            ring.append(e); faccs.foreach(_.add(e))
          }
          st.frameVals.foreach(ringAdd)
          ripe.foreach { vals =>
            gapReset(vals) { ring.clear(); faccs.foreach(_.reset()) }
            ringAdd(entryOf(vals))
            if (ring.length > cap) {
              val h = ring.removeHead(); faccs.foreach(_.evict(h))
            }
            out += Row.fromSeq(vals ++ faccs.map(_.output(ring)))
          }
          newSt = GenState(pending, Nil, ring.toSeq, 0L, Nil)
        case RangePreceding(_) =>
          val bufUs = scala.collection.mutable.ArrayDeque.empty[Long]
          val bufVals = scala.collection.mutable.ArrayDeque.empty[Seq[Any]]
          val faccs = frameAccs(aggs, aggIdx)
          def bufAdd(us: Long, e: Seq[Any]): Unit = {
            bufUs.append(us); bufVals.append(e); faccs.foreach(_.add(e))
          }
          st.frameUs.zip(st.frameVals).foreach { case (us, e) =>
            bufAdd(us, e)
          }
          val sorted = ripe.toIndexedSeq
          var i = 0
          while (i < sorted.length) {
            val us = leadUs(sorted(i))
            var j = i
            while (j < sorted.length && leadUs(sorted(j)) == us) j += 1
            gapReset(sorted(i)) {
              bufUs.clear(); bufVals.clear(); faccs.foreach(_.reset())
            }
            // SQL RANGE peers: same-time rows share one frame incl. all
            (i until j).foreach(k => bufAdd(us, entryOf(sorted(k))))
            while (bufUs.nonEmpty && bufUs.head < us - horizonUs) {
              bufUs.removeHead()
              val h = bufVals.removeHead(); faccs.foreach(_.evict(h))
            }
            val agg = faccs.map(_.output(bufVals))
            (i until j).foreach(k => out += Row.fromSeq(sorted(k) ++ agg))
            i = j
          }
          // no future row (all have ts > wm) can reach below wm - horizon
          if (isStreaming && wmUs >= horizonUs)
            while (bufUs.nonEmpty && bufUs.head < wmUs - horizonUs) {
              bufUs.removeHead(); bufVals.removeHead()
            }
          newSt = GenState(pending, bufUs.toSeq, bufVals.toSeq, 0L, Nil)
      }
      if (ttlUs.isDefined)
        newSt = newSt.copy(lastUs =
          if (ripe.nonEmpty) leadUs(ripe.last) else st.lastUs)
      if (!isStreaming) () // batch: single invocation, state irrelevant
      else {
        // idle retention: once the watermark is `idleTtl` of event time
        // past the key's last row (and nothing is pending), drop the
        // key's state — the reference's cleanup-timer contract
        val idleExpired = pending.isEmpty && ttlUs.exists(t =>
          newSt.lastUs != Long.MinValue && wmUs >= newSt.lastUs + t)
        if (idleExpired) state.remove()
        else {
          state.update(newSt)
          if (pending.nonEmpty) {
            // fire once the watermark can cover the earliest pending row
            val headMs = leadUs(pending.head) / 1000
            state.setTimeoutTimestamp(
              math.max(headMs - 1, state.getCurrentWatermarkMs() + 1))
          } else ttlUs.foreach { t =>
            if (newSt.lastUs != Long.MinValue)
              state.setTimeoutTimestamp(
                math.max((newSt.lastUs + t) / 1000 + 1,
                  state.getCurrentWatermarkMs() + 1))
          }
        }
        // without idleTtl an idle key's frame state persists: any future
        // row's frame may reach back into it (UNBOUNDED/ROWS always;
        // RANGE until evicted)
      }
      out.result().iterator
    }

    KeyedState.run(
      if (isStreaming) df.withWatermark(orderCols.head, delay) else df,
      partCols, GroupStateTimeout.EventTimeTimeout,
      Encoders.row(outSchema))(process)
  }

  /** PROC-TIME streaming OVER with a bounded ROWS frame over an ARBITRARY
    * DataFrame (reference: ProcTimeRowsBoundedPrecedingFunction;
    * OverWindowITCase testProcTimeBoundedPartitionedRowsOver partitions
    * by a string key and aggregates MIN).
    * Proc-time contract: NO watermark, NO buffering, NO event-time
    * reordering — a row frames against whatever arrived before it,
    * emitted immediately. Within one micro-batch arrival order is made
    * deterministic by `tieBreak` (post-shuffle intra-batch order is
    * otherwise arbitrary; the reference has the same freedom within a
    * network buffer). In batch execution the whole input is one arrival
    * sequence, so the operator collapses to the plain
    * `ROWS BETWEEN n PRECEDING AND CURRENT ROW` window over `tieBreak` —
    * the oracle shape. Per-key state is the O(n+1) agg-input ring. */
  def procRowsAggregates(df: DataFrame, partCols: Seq[String],
      tieBreak: Seq[String], preceding: Int, aggs0: Seq[Agg],
      idleTtl: Option[String] = None): DataFrame = {
    val aggs = normalizeAggs(aggs0)
    require(preceding >= 0, s"ROWS frame bound must be >= 0, got $preceding")
    require(aggs.nonEmpty, "at least one OVER aggregate is required")
    val schema = df.schema
    val ord = KeyedState.order(schema, tieBreak.map(_ -> true))
    val aggIdx = checkAggs(schema, aggs)
    val outSchema = StructType(schema.fields.toSeq ++ outFields(aggs, aggIdx))
    val isStreaming = df.isStreaming
    val cap = preceding + 1
    def process(key: Row, rows: Iterator[Row], state: GroupState[GenState])
        : Iterator[Row] = {
      val ring = scala.collection.mutable.ArrayDeque.empty[Seq[Any]]
      val faccs = frameAccs(aggs, aggIdx)
      def ringAdd(e: Seq[Any]): Unit = {
        ring.append(e); faccs.foreach(_.add(e))
      }
      state.getOption.foreach(_.frameVals.foreach(ringAdd))
      val batch = rows.map(_.toSeq).toSeq
      val arrived = if (tieBreak.isEmpty) batch else batch.sorted(ord)
      val out = arrived.map { vals =>
        ringAdd(entryOfVals(vals, aggIdx))
        if (ring.length > cap) {
          val h = ring.removeHead(); faccs.foreach(_.evict(h))
        }
        Row.fromSeq(vals ++ faccs.map(_.output(ring)))
      }
      if (isStreaming) state.update(GenState(Nil, Nil, ring.toSeq, 0L, Nil))
      out.iterator
    }
    // proc-time: no watermark exists, so no event-time timers; idleTtl
    // is the reference's PROCESSING-time cleanup timer
    // (registerProcessingCleanupTimer)
    KeyedState.run(df, partCols, GroupStateTimeout.NoTimeout,
      Encoders.row(outSchema), idleTtl)(process)
  }

  /** PROC-TIME streaming OVER with a bounded RANGE frame over an
    * ARBITRARY DataFrame (reference:
    * ProcTimeRangeBoundedPrecedingFunction.java — rows buffer under
    * their arrival instant, expired entries retire, and every same-
    * instant peer emits the SAME aggregate over the full peer set).
    * Micro-batch rendering: the processing-time instant is the batch,
    * so all of a key's rows in one micro-batch are peers sharing one
    * aggregate over the retained buffer plus the peer group; entries
    * older than `horizon` of processing time retire first. No watermark;
    * event time plays no role — the batch collapse is the whole-
    * partition aggregate (a single batch is one instant), the oracle
    * shape. `procClock` injects a logical clock for deterministic tests;
    * `idleTtl` is the reference's processing-time cleanup timer. State
    * is O(rows inside one horizon) per key. */
  def procRangeAggregates(df: DataFrame, partCols: Seq[String],
      tieBreak: Seq[String], horizon: java.time.Duration, aggs0: Seq[Agg],
      procClock: () => Long = () => System.currentTimeMillis(),
      idleTtl: Option[String] = None): DataFrame = {
    val aggs = normalizeAggs(aggs0)
    val horizonMs = horizon.toMillis
    require(horizonMs >= 0, s"RANGE frame horizon must be >= 0, got $horizon")
    require(aggs.nonEmpty, "at least one OVER aggregate is required")
    val schema = df.schema
    val ord = KeyedState.order(schema, tieBreak.map(_ -> true))
    val aggIdx = checkAggs(schema, aggs)
    val outSchema = StructType(schema.fields.toSeq ++ outFields(aggs, aggIdx))
    val isStreaming = df.isStreaming
    def process(key: Row, rows: Iterator[Row], state: GroupState[GenState])
        : Iterator[Row] = {
      val now = procClock()
      val bufMs = scala.collection.mutable.ArrayDeque.empty[Long]
      val bufVals = scala.collection.mutable.ArrayDeque.empty[Seq[Any]]
      state.getOption.foreach { s =>
        bufMs.addAll(s.frameUs); bufVals.addAll(s.frameVals)
      }
      // arrival-ordered appends make stamps monotone: head eviction
      // retires everything expired
      while (bufMs.nonEmpty && bufMs.head < now - horizonMs) {
        bufMs.removeHead(); bufVals.removeHead()
      }
      val batch = rows.map(_.toSeq).toSeq
      val peers = if (tieBreak.isEmpty) batch else batch.sorted(ord)
      peers.foreach { vals =>
        bufMs.append(now); bufVals.append(entryOfVals(vals, aggIdx))
      }
      // one aggregate over the full frame, shared by every peer
      val shared = foldEntries(bufVals, aggs)
      if (isStreaming)
        state.update(GenState(Nil, bufMs.toSeq, bufVals.toSeq, 0L, Nil))
      peers.iterator.map(vals => Row.fromSeq(vals ++ shared))
    }
    KeyedState.run(df, partCols, GroupStateTimeout.NoTimeout,
      Encoders.row(outSchema), idleTtl)(process)
  }

  // ---- shared kernels between the row-time and proc-time executors ----

  /** Per-agg input descriptor: column index (-1 = COUNT(*)) and the
    * input's DecimalType when the arithmetic must stay decimal-exact. */
  private[streaming] final case class AggIn(idx: Int, dec: Option[DecimalType])

  /** Validate the agg list; per-agg input descriptor. Also the shared
    * up-front contract for the native-WindowExec batch route
    * (WindowSql.nativeBatch): every route must reject a
    * non-numeric SUM/MIN/MAX/AVG input with this error, never a
    * mid-query ANSI cast failure. */
  private[streaming] def checkAggs(schema: StructType, aggs: Seq[Agg]): Seq[AggIn] =
    aggs.map {
      case Agg(fn, colOpt, _, dist) =>
        require(Set("COUNT", "SUM", "MIN", "MAX", "AVG").contains(fn),
          s"unsupported OVER aggregate $fn")
        // MIN/MAX(DISTINCT) are accepted and equal the plain aggregates
        // (a distinct set has the same extrema — SQL; the reference's
        // proc-time distinct IT uses MIN(DISTINCT e))
        require(!dist || colOpt.nonEmpty,
          "DISTINCT requires a value column (COUNT(DISTINCT *) is not SQL)")
        colOpt match {
          case None =>
            require(fn == "COUNT", s"$fn requires a value column")
            AggIn(-1, None)
          case Some(c) =>
            val i = schema.fieldIndex(c)
            val dt = schema.fields(i).dataType
            require(fn == "COUNT" || dt.isInstanceOf[NumericType],
              s"$fn($c) needs a numeric column, got $dt")
            AggIn(i, dt match {
              case d: DecimalType => Some(d)
              case _ => None
            })
        }
    }

  /** Fresh accumulators / distinct-value sets for an agg list. */
  private[streaming] def emptyAccs(aggs: Seq[Agg]): Seq[Acc] =
    aggs.map(_ => Acc(0L, null, null, null))
  private[streaming] def emptyDsets(aggs: Seq[Agg]): Seq[Set[Any]] =
    aggs.map(_ => Set.empty[Any])

  /** Fold one entry (from [[entryOfVals]]) into the running accumulators
    * — SQL null-skipping; COUNT only counts (its input may be a RAW
    * non-numeric value, kept for counting / distinct membership). */
  private[streaming] def updateAccs(aggs: Seq[Agg], accs: Seq[Acc],
      e: Seq[Any]): Seq[Acc] =
    aggs.zipWithIndex.zip(accs).map { case ((agg, ai), a) =>
      val v = e(ai)
      if (v == null) a
      else if (agg.fn == "COUNT") a.copy(n = a.n + 1)
      else Acc(a.n + 1, addVals(a.sum, v),
        if (a.min == null || cmpNum(v, a.min) < 0) v else a.min,
        if (a.max == null || cmpNum(v, a.max) > 0) v else a.max)
    }

  /** Merge two accumulator sets — the session-window merge (reference:
    * the merging assigner's accumulator merge, SessionWindowAssigner +
    * the blink agg handlers' `merge`): counts add, sums add exactly on
    * their domain, extrema compare; null = empty side. Deterministic
    * because session merges happen in event-time order. */
  private[streaming] def mergeAccs(a: Seq[Acc], b: Seq[Acc]): Seq[Acc] =
    a.zip(b).map { case (x, y) =>
      Acc(x.n + y.n,
        if (y.sum == null) x.sum else addVals(x.sum, y.sum),
        if (x.min == null) y.min else if (y.min == null) x.min
        else if (cmpNum(x.min, y.min) <= 0) x.min else y.min,
        if (x.max == null) y.max else if (y.max == null) x.max
        else if (cmpNum(x.max, y.max) >= 0) x.max else y.max)
    }

  /** Fold one entry into the per-agg distinct-value sets (distinct aggs
    * only; others keep their empty set). */
  private[streaming] def updateDsets(aggs: Seq[Agg], dsets: Seq[Set[Any]],
      e: Seq[Any]): Seq[Set[Any]] =
    aggs.zipWithIndex.zip(dsets).map { case ((agg, ai), ds) =>
      val v = e(ai)
      if (agg.distinct && v != null) ds + v else ds
    }

  /** Agg output values from running accumulators + distinct sets (the
    * insert-only state shape shared by unbounded OVER frames and open
    * group windows). DISTINCT re-derives from the value set; the double
    * sum folds in VALUE order — set iteration order is hash noise, and a
    * float sum must not depend on it. MIN/MAX never reach the distinct
    * branch ([[normalizeAggs]] strips their DISTINCT at entry). */
  private[streaming] def accOutputs(aggs: Seq[Agg], rows: Long,
      accs: Seq[Acc], dsets: Seq[Set[Any]]): Seq[Any] =
    aggs.zip(accs.zip(dsets)).map { case (Agg(fn, colOpt, _, dist), (a, ds)) =>
      if (dist) fn match {
        case "COUNT" => ds.size.toLong
        case _ if ds.isEmpty => null
        case "SUM" =>
          ds.toSeq.sortWith(cmpNum(_, _) < 0).foldLeft(null: Any)(addVals)
        case "AVG" =>
          toD(ds.toSeq.sortWith(cmpNum(_, _) < 0)
            .foldLeft(null: Any)(addVals)) / ds.size
        case other => sys.error(s"unreachable distinct agg $other")
      } else fn match {
        case "COUNT" => if (colOpt.isEmpty) rows else a.n
        case _ if a.n == 0 => null
        case "SUM" => a.sum
        case "AVG" => toD(a.sum) / a.n
        case "MIN" => a.min
        case "MAX" => a.max
      }
    }

  /** Output fields per agg: COUNT long; decimal inputs keep exact
    * decimal arithmetic (SUM widens to the max precision, the same
    * no-overflow guarantee as Spark's own sum; MIN/MAX keep the input
    * type); everything else double. AVG over decimal derives as double
    * FROM THE EXACT DECIMAL SUM, so it is deterministic under any
    * partitioning even though the final division is floating. */
  private[streaming] def outFields(aggs: Seq[Agg], aggIn: Seq[AggIn]): Seq[StructField] =
    aggs.zip(aggIn).map {
      case (Agg("COUNT", _, alias, _), _) =>
        StructField(alias, LongType, nullable = false)
      case (Agg("SUM", _, alias, _), AggIn(_, Some(d))) =>
        StructField(alias, DecimalType(DecimalType.MAX_PRECISION, d.scale),
          nullable = true)
      case (Agg(fn, _, alias, _), AggIn(_, Some(d))) if fn == "MIN" || fn == "MAX" =>
        StructField(alias, d, nullable = true)
      case (Agg(_, _, alias, _), _) => StructField(alias, DoubleType, nullable = true)
    }

  private def toDouble(v: Any): java.lang.Double = v match {
    case null => null
    case d: java.lang.Double => d
    case n: java.lang.Number => n.doubleValue() // covers BigDecimal too
    case other => sys.error(s"non-numeric aggregate input $other")
  }

  /** Double for the mixed-type accumulators (decimal sum → double AVG). */
  private def toD(v: Any): Double = v match {
    case d: java.lang.Double => d.doubleValue()
    case b: java.math.BigDecimal => b.doubleValue()
    case other => sys.error(s"unexpected accumulator value $other")
  }

  /** Exact addition on the accumulator domain (null = empty). */
  private def addVals(a: Any, v: Any): Any =
    if (a == null) v
    else (a, v) match {
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.add(y)
      case (x: java.lang.Double, y: java.lang.Double) =>
        java.lang.Double.valueOf(x + y)
      case other => sys.error(s"mixed accumulator types $other")
    }

  /** Comparison on the accumulator domain (Double and BigDecimal are
    * both Comparable with themselves). */
  private def cmpNum(a: Any, b: Any): Int =
    a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** Per-row agg inputs; COUNT(*) entries mark presence (never null);
    * decimal aggs keep java.math.BigDecimal for exact folds. */
  private[streaming] def entryOfVals(vals: Seq[Any], aggIn: Seq[AggIn]): Seq[Any] =
    aggIn.map {
      case AggIn(-1, _) => java.lang.Double.valueOf(1.0)
      case AggIn(i, Some(_)) => vals(i) match {
        case null => null
        case b: java.math.BigDecimal => b
        case b: scala.math.BigDecimal => b.bigDecimal
        case other => sys.error(s"decimal column yielded $other")
      }
      // a non-numeric input is legal only under COUNT (checkAggs): keep
      // the RAW value — it is counted / distinct-set-keyed, never summed
      case AggIn(i, None) => vals(i) match {
        case null => null
        case n: Number => toDouble(n)
        case raw => raw
      }
    }

  /** One fold over the retained frame entries -> the agg output values.
    * DISTINCT aggs (COUNT/SUM/AVG) fold over the frame's distinct
    * non-null values. Since r13 the bounded-frame executors maintain
    * [[FrameAcc]] incrementally and only delegate here for FP sums; this
    * full refold remains the per-batch path for proc-time RANGE's
    * shared emission and the semantic reference the randomized sweep
    * pins the incremental path against. */
  private def foldEntries(entries: collection.Seq[Seq[Any]],
      aggs: Seq[Agg]): Seq[Any] =
    aggs.zipWithIndex.map { case (agg, ai) => foldOne(entries, agg, ai) }

  /** One aggregate's value over the frame entries (the recompute path:
    * the per-emission reference for the incremental [[FrameAcc]], and
    * still the execution path for floating-point SUM/AVG — see there). */
  private def foldOne(entries: collection.Seq[Seq[Any]],
      agg: Agg, ai: Int): Any = {
    val Agg(fn, colOpt, _, _) = agg
    if (fn == "COUNT" && colOpt.isEmpty) entries.length.toLong
    else {
      val seen = if (agg.distinct)
        new java.util.HashSet[Any]() else null
      var n = 0L
      var sum: Any = null
      var min: Any = null
      var max: Any = null
      entries.foreach { e =>
        val v = e(ai)
        if (v != null && (seen == null || seen.add(v))) {
          n += 1
          if (fn != "COUNT") {
            sum = addVals(sum, v)
            if (min == null || cmpNum(v, min) < 0) min = v
            if (max == null || cmpNum(v, max) > 0) max = v
          }
        }
      }
      fn match {
        case "COUNT" => n
        case _ if n == 0 => null
        case "SUM" => sum
        case "AVG" => toD(sum) / n
        case "MIN" => min
        case "MAX" => max
      }
    }
  }

  /** Incremental bounded-frame accumulator — the reference's
    * accumulate/retract contract (blink `AggsHandleFunction.retract`,
    * maintained by Rows/RangeBoundedPrecedingFunction) instead of an
    * O(frame) refold per emission:
    *
    *  - COUNT / exact (decimal) SUM / AVG retract arithmetically —
    *    decimal subtraction is exact, so add-then-evict is
    *    bit-identical to the refold;
    *  - MIN/MAX keep an ordered count-multiset (TreeMap) — extrema
    *    survive evictions in O(log frame);
    *  - DISTINCT keeps a hash count-multiset (the reference's
    *    DistinctView state shape): distinct count = map size, exact
    *    distinct sums maintained on 0↔1 count transitions;
    *  - floating-point SUM/AVG do NOT retract — FP subtraction is not
    *    exact and the accumulated error would drift from the oracle's
    *    per-frame recompute; [[output]] refolds just that aggregate in
    *    buffer order, bit-identical to the old path.
    *
    * Rebuilt per micro-batch from the persisted frame buffer (the
    * serialized state shape is unchanged), then maintained in O(log
    * frame) per row instead of O(frame). */
  private final class FrameAcc(agg: Agg, ai: Int, exactSum: Boolean) {
    private val sumNeeded = agg.fn == "SUM" || agg.fn == "AVG"
    private val fpSum = sumNeeded && !exactSum
    private val counts: java.util.Map[Any, Integer] =
      if (agg.fn == "MIN" || agg.fn == "MAX")
        // normalizeAggs strips DISTINCT from MIN/MAX, so an ordered map
        // here never sees non-Comparable COUNT-only raw values
        new java.util.TreeMap[Any, Integer](
          new java.util.Comparator[Any] {
            override def compare(a: Any, b: Any): Int = cmpNum(a, b)
          })
      else if (agg.distinct) new java.util.HashMap[Any, Integer]()
      else null
    private var n = 0L
    private var sum: Any = null

    def reset(): Unit = { if (counts != null) counts.clear(); n = 0L; sum = null }

    def add(e: Seq[Any]): Unit = {
      val v = e(ai)
      if (v == null) return
      if (counts != null) {
        val c = counts.merge(v, Integer.valueOf(1),
          (a: Integer, b: Integer) => Integer.valueOf(a + b))
        if (agg.distinct && c != 1) return // duplicate: fold first copy only
      }
      n += 1
      if (sumNeeded && !fpSum) sum = addVals(sum, v)
    }

    def evict(e: Seq[Any]): Unit = {
      val v = e(ai)
      if (v == null) return
      if (counts != null) {
        val c = counts.merge(v, Integer.valueOf(-1),
          (a: Integer, b: Integer) => Integer.valueOf(a + b))
        if (c == 0) counts.remove(v)
        if (agg.distinct && c != 0) return // copies remain: still distinct
      }
      n -= 1
      if (sumNeeded && !fpSum) sum = subVals(sum, v)
    }

    /** The aggregate's value for the current frame; `entries` is read
      * only by the COUNT(*) length and the FP-sum recompute. */
    def output(entries: collection.Seq[Seq[Any]]): Any = agg.fn match {
      case "COUNT" if agg.valueCol.isEmpty => entries.length.toLong
      case "COUNT" => n
      case _ if n == 0 => null
      case _ if fpSum => foldOne(entries, agg, ai)
      case "SUM" => sum
      case "AVG" => toD(sum) / n
      case "MIN" =>
        counts.asInstanceOf[java.util.TreeMap[Any, Integer]].firstKey()
      case "MAX" =>
        counts.asInstanceOf[java.util.TreeMap[Any, Integer]].lastKey()
    }
  }

  /** One [[FrameAcc]] per aggregate; `aggIn` supplies the exact-sum
    * (decimal) flag. */
  private def frameAccs(aggs: Seq[Agg], aggIn: Seq[AggIn]): Seq[FrameAcc] =
    aggs.zipWithIndex.map { case (a, i) =>
      new FrameAcc(a, i, aggIn(i).dec.isDefined)
    }

  /** Exact subtraction on the accumulator domain — decimal only; FP
    * sums never retract ([[FrameAcc]] recomputes them). A null
    * accumulator cannot be retracted from (n > 0 whenever evict runs on
    * a value that was added). */
  private def subVals(a: Any, v: Any): Any = (a, v) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.subtract(y)
    case other => sys.error(s"non-retractable accumulator types $other")
  }
}
