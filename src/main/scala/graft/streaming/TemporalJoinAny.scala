package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.types._

/** Streaming event-time temporal (as-of) join over ARBITRARY DataFrames
  * (reference: TemporalRowTimeJoinOperator.java:71, ~400 LoC of keyed
  * state, joins any two keyed row streams — the SURVEY §7.3 committed
  * custom operator). Each FACT row enriches with the latest
  * DIM version whose event time is ≤ the fact's event time (ties on the
  * dim timestamp resolved by `dimVerCols`, higher wins), emitting a fact
  * only once the watermark passes its timestamp — so out-of-order and
  * late-arriving versions are still honored while they beat the
  * watermark. Facts with no preceding version emit with NULL dim fields
  * (left-outer, the batch ASOF LEFT JOIN the oracle checks).
  *
  *  - `keyCols` must exist on BOTH sides with identical types;
  *  - `tsCol` names the event-time column on both sides (TimestampType);
  *  - every non-key dim column (its timestamp included) lands in the
  *    output as `<dimPrefix><name>`, nullable;
  *  - state per key = pending facts (watermark-bounded) + the newest
  *    version ≤ watermark plus all newer ones (the reference's `cleanUp`
  *    on watermark advance) — O(pending + recent versions), not
  *    O(history);
  *  - `idleRetentionMs`: optional reclamation of version state for keys
  *    with no pending facts (the reference's CleanupState idle
  *    retention).
  *
  * Scale: one shuffle of each side on the key columns (the union is
  * map-side), then per-key state as above — the same bound as the
  * reference's two keyed state handles. Batch collapse: no watermark,
  * one flush — the plain ASOF LEFT JOIN, which the DuckDB oracle
  * hash-checks.
  */
object TemporalJoinAny {

  /** Envelope-row state, java-serialized for the package's JPMS reason:
    * pending fact envelopes + retained dim envelopes. */
  final case class TjState(facts: Seq[Seq[Any]], dims: Seq[Seq[Any]])

  /** PROCESSING-time temporal join over arbitrary DataFrames
    * (reference TemporalProcessTimeJoinOperator.java:126): each fact
    * enriches with the latest dimension version SEEN so far — no
    * watermark, no buffering, facts emit immediately; within one
    * micro-batch the dimension rows apply before the fact rows. Per-key
    * state is exactly one dim envelope (the current version). Batch
    * collapse: the whole input is one arrival — every fact sees the
    * newest version overall, which is what the operator's spec checks. */
  def temporalJoinProcTime(facts: DataFrame, dims: DataFrame,
      keyCols: Seq[String], tsCol: String, dimVerCols: Seq[String],
      factTieBreak: Seq[String], dimPrefix: String = "dim_"): DataFrame =
    build(facts, dims, keyCols, tsCol, dimVerCols, factTieBreak,
      dimPrefix) { (env, outEnc, ctx) =>
      import ctx._
      KeyedState.run[TjState, Row](env, keyCols, GroupStateTimeout.NoTimeout,
          outEnc) { (_, rows, state) =>
        val (dimRows, factRows) = rows.map(_.toSeq).toSeq
          .partition(_(nKeys) == 0)
        // newest version wins: later (event ts, verCols) replaces current
        var cur = state.getOption.flatMap(_.dims.headOption)
        dimRows.sorted(dimOrd).foreach { d =>
          if (cur.forall(c => dimOrd.compare(d, c) >= 0)) cur = Some(d)
        }
        cur.foreach(c => state.update(TjState(Nil, Seq(c))))
        factRows.sorted(factOrd).iterator.map(f => emit(f, cur))
      }
    }

  /** Shared envelope construction for the row-time and proc-time joins:
    * validated inputs, the tagged union and the out encoder (passed
    * beside the context, so the per-key functions capture neither), the
    * two orderings and the output emitter. */
  private final case class Ctx(nKeys: Int,
      dimOrd: Ordering[Seq[Any]], factOrd: Ordering[Seq[Any]],
      tsUs: Seq[Any] => Long, emit: (Seq[Any], Option[Seq[Any]]) => Row,
      isStreaming: Boolean)

  private def build(facts: DataFrame, dims: DataFrame, keyCols: Seq[String],
      tsCol: String, dimVerCols: Seq[String], factTieBreak: Seq[String],
      dimPrefix: String)(
      body: (DataFrame, Encoder[Row], Ctx) => DataFrame): DataFrame = {
    require(keyCols.nonEmpty, "the temporal join needs at least one key column")
    val fSchema = facts.schema
    val dSchema = dims.schema
    def fieldOf(s: StructType, c: String, side: String): StructField = {
      KeyedState.requireColumns(s, Seq(c), s"the $side schema")
      s(c)
    }
    keyCols.foreach { k =>
      val (fk, dk) = (fieldOf(fSchema, k, "fact"), fieldOf(dSchema, k, "dim"))
      require(fk.dataType == dk.dataType,
        s"key '$k' type mismatch: fact ${fk.dataType} vs dim ${dk.dataType}")
    }
    Seq((fSchema, "fact"), (dSchema, "dim")).foreach { case (s, side) =>
      require(fieldOf(s, tsCol, side).dataType == TimestampType,
        s"the $side '$tsCol' column must be a timestamp, got " +
          s"${fieldOf(s, tsCol, side).dataType}")
    }
    KeyedState.requireColumns(dSchema, dimVerCols, "the dim schema")
    KeyedState.requireColumns(fSchema, factTieBreak, "the fact schema")
    val isStreaming = facts.isStreaming || dims.isStreaming

    // envelope: keys, __side, __ts, generated-name fact payload,
    // generated-name dim payload (all non-key dim columns) — generated
    // names keep same-named payload columns on the two sides distinct
    val factFields = fSchema.fields.toSeq
    val dimFields = dSchema.fields.toSeq.filterNot(f => keyCols.contains(f.name))
    def fName(i: Int) = s"__f_$i"
    def dName(i: Int) = s"__d_$i"
    val factSel: Seq[Column] =
      keyCols.map(col) ++ Seq(lit(1).as("__side"), col(tsCol).as("__ts")) ++
        factFields.zipWithIndex.map { case (f, i) => col(f.name).as(fName(i)) } ++
        dimFields.zipWithIndex.map { case (f, i) =>
          lit(null).cast(f.dataType).as(dName(i)) }
    val dimSel: Seq[Column] =
      keyCols.map(col) ++ Seq(lit(0).as("__side"), col(tsCol).as("__ts")) ++
        factFields.zipWithIndex.map { case (f, i) =>
          lit(null).cast(f.dataType).as(fName(i)) } ++
        dimFields.zipWithIndex.map { case (f, i) => col(f.name).as(dName(i)) }
    val env = facts.select(factSel: _*).unionByName(dims.select(dimSel: _*))
    val nKeys = keyCols.size
    val tsIdx = nKeys + 1
    val fOff = nKeys + 2
    val dOff = fOff + factFields.size
    def tsUs(vals: Seq[Any]): Long =
      KeyedState.eventMicros(vals(tsIdx).asInstanceOf[java.sql.Timestamp])

    val outSchema = StructType(factFields ++
      dimFields.map(f => StructField(dimPrefix + f.name, f.dataType,
        nullable = true)))

    // dim version order: (ts, dimVerCols) ascending — the LAST at-or-
    // before a fact wins, so higher verCols win ties on ts. The payload
    // columns sit in the envelope at their side's offset.
    val byTs: Ordering[Seq[Any]] =
      (a, b) => java.lang.Long.compare(tsUs(a), tsUs(b))
    val dimOrd = byTs.orElse(KeyedState.order(StructType(dimFields),
      dimVerCols.map(_ -> true), offset = dOff))
    val factOrd = byTs.orElse(KeyedState.order(fSchema,
      factTieBreak.map(_ -> true), offset = fOff))
    val nDim = dimFields.size
    def emit(f: Seq[Any], d: Option[Seq[Any]]): Row = Row.fromSeq(
      f.slice(fOff, fOff + factFields.size) ++
        d.map(_.slice(dOff, dOff + nDim)).getOrElse(Seq.fill(nDim)(null)))

    body(env, Encoders.row(outSchema),
      Ctx(nKeys, dimOrd, factOrd, tsUs, emit, isStreaming))
  }

  def temporalJoin(facts: DataFrame, dims: DataFrame, keyCols: Seq[String],
      tsCol: String, dimVerCols: Seq[String], factTieBreak: Seq[String],
      delay: String = "0 seconds", dimPrefix: String = "dim_",
      idleRetentionMs: Option[Long] = None): DataFrame =
    build(facts, dims, keyCols, tsCol, dimVerCols, factTieBreak,
      dimPrefix) { (env, outEnc, ctx) =>
    import ctx._
    def process(key: Row, rows: Iterator[Row], state: GroupState[TjState])
        : Iterator[Row] = {
      val prev = state.getOption.getOrElse(TjState(Nil, Nil))
      val factB = Seq.newBuilder[Seq[Any]]
      val dimB = Seq.newBuilder[Seq[Any]]
      factB ++= prev.facts
      dimB ++= prev.dims
      rows.foreach { r =>
        val vals = r.toSeq
        if (vals(nKeys) == 1) factB += vals else dimB += vals
      }
      val wmUs =
        if (!isStreaming) Long.MaxValue
        else state.getCurrentWatermarkMs() * 1000L
      val (ripe, pending) = factB.result().partition(v => tsUs(v) <= wmUs)
      // one merge pass over the two sorted sequences — O(F + D)
      val sortedDims = dimB.result().sorted(dimOrd).toIndexedSeq
      var di = 0
      val out = ripe.sorted(factOrd).map { f =>
        val fUs = tsUs(f)
        while (di < sortedDims.length && tsUs(sortedDims(di)) <= fUs) di += 1
        emit(f, if (di == 0) None else Some(sortedDims(di - 1)))
      }
      // prune: the newest version ≤ wm still matters for future facts
      val cutIdx = sortedDims.lastIndexWhere(v => tsUs(v) <= wmUs)
      val keptDims = if (cutIdx <= 0) sortedDims else sortedDims.drop(cutIdx)
      if (!isStreaming) ()
      else if (pending.isEmpty && keptDims.isEmpty) state.remove()
      else if (state.hasTimedOut && pending.isEmpty && ripe.isEmpty &&
          idleRetentionMs.isDefined) {
        // idle expiry (reference CleanupState): no pending facts, nothing
        // new — reclaim the version state; a later fact enriches from
        // versions still in flight only
        state.remove()
      } else {
        state.update(TjState(pending, keptDims))
        if (pending.nonEmpty) {
          val headMs = pending.map(tsUs).min / 1000
          state.setTimeoutTimestamp(
            math.max(headMs - 1, state.getCurrentWatermarkMs() + 1))
        } else idleRetentionMs.foreach(ms =>
          state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + ms))
      }
      out.iterator
    }

    // withWatermark is a no-op on batch inputs; applying it always keeps
    // one code path
    KeyedState.run(env.withWatermark("__ts", delay), keyCols,
      GroupStateTimeout.EventTimeTimeout, outEnc)(process)
  }
}
