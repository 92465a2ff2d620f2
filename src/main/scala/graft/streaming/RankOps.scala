package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.types._

/** Streaming TOP-N and keep-first/keep-last DEDUPLICATION over an
  * ARBITRARY DataFrame — the one rank/dedup executor, behind
  * [[WindowSql.sqlDf]] and the q72/q73 API q-defs (reference: the rank
  * and deduplicate operators run on any registered table —
  * flink-table-runtime-blink
  * .../runtime/operators/rank/AbstractTopNFunction.java:51 keeps the
  * ranked prefix per key and re-emits on change;
  * .../deduplicate/DeduplicateKeepLastRowFunction.java:34 keeps the
  * winning row per key; IT surface
  * flink-table-planner-blink .../stream/sql/RankITCase.scala,
  * DeduplicateITCase.scala).
  *
  * One executor covers both: deduplication IS rank with n = 1 (the
  * planner's own reduction — StreamExecDeduplicateRule.scala matches
  * `ROW_NUMBER() = 1` and routes it to the dedup operator purely as a
  * state-size optimization; the semantics are the rank operator's).
  *
  * Ordering. `orderKeys` is a list of (column, ascending) pairs compared
  * left to right; the kept prefix is the n FIRST rows under that order —
  * exactly the rows `ROW_NUMBER() <= n` keeps. The pseudo-column
  * `proctime` orders on ARRIVAL: each key's rows are stamped with a
  * monotone per-key arrival counter (the reference's proc-time dedup —
  * DeduplicateITCase orders on a proctime attribute). A value-based
  * order makes the maintained prefix ARRIVAL-ORDER-INDEPENDENT (any
  * interleaving converges to the same rows — the exactly-once-friendly
  * property the reservoir sampler shares); a proctime order is
  * inherently arrival-dependent, which is its point.
  *
  * Emission contract (the reference's UpdatableTopNFunction, minus
  * per-row retractions): whenever the kept prefix CHANGES, re-emit the
  * full refreshed ranking — downstream consumers treat the latest
  * emission per key as current. In batch execution the whole input is
  * one arrival sequence and the operator emits the final ranking once,
  * so it collapses to the plain `ROW_NUMBER() OVER (...) <= n` query —
  * the DuckDB oracle shape.
  *
  * Scale: one shuffle on the partition columns, then O(n) state per key
  * (a row evicted from the prefix can never re-enter — inputs are
  * inserts, not retractions — so retaining only the prefix is sound,
  * the same bound as the reference's rank state). The not-yet-ranked
  * input never buffers: no watermark is involved, rank triggers on
  * arrival, as in the reference's proc-time rank. Millions of keys
  * shard across executors; an EMPTY `partCols` is accepted but is one
  * sequential group on any engine.
  */
object RankOps {

  /** Per-key state: arrival counter + the kept prefix as (arrival stamp,
    * external row values). Java-serialized like the other general-schema
    * executors (kryo's reflective scan needs --add-opens a plain-java
    * launch lacks; the prefix is n rows — serialization is not the
    * bottleneck). */
  final case class RankState(seen: Long, top: Seq[(Long, Seq[Any])])

  /** Maintain the first `n` rows per key under `orderKeys`, emitting the
    * refreshed ranking (input columns + optional LongType rank) whenever
    * it changes.
    *
    * @param rankAlias Some(name) appends a 1-based rank column (the
    *                  `ROW_NUMBER()` value); None emits kept rows bare
    *                  (the dedup shape, where rank is always 1).
    * @param idleTtl   opt-in idle-state retention, [[KeyedState.run]]'s
    *                  processing-time cleanup timer: a key that receives
    *                  no row for this much PROCESSING time drops its
    *                  prefix — a later row starts a fresh ranking.
    */
  def rankRows(df: DataFrame, partCols: Seq[String],
      orderKeys: Seq[(String, Boolean)], n: Int,
      rankAlias: Option[String] = None,
      idleTtl: Option[String] = None): DataFrame = {
    require(n > 0, s"rank bound must be positive, got $n")
    require(orderKeys.nonEmpty, "ORDER BY must name at least one column")
    val schema = df.schema
    // the ROW_NUMBER() ordering over (arrival stamp, row values); the
    // `proctime` pseudo-column orders on the stamp
    val ord = KeyedState.order(schema, orderKeys, arrival = true).stamped
    rankAlias.foreach(a => require(!schema.fieldNames.contains(a),
      s"rank alias '$a' collides with an input column"))
    val isStreaming = df.isStreaming
    val outSchema = StructType(schema.fields.toSeq ++
      rankAlias.map(a => StructField(a, LongType, nullable = false)))

    def process(key: Row, rows: Iterator[Row], state: GroupState[RankState])
        : Iterator[Row] = {
      val st = state.getOption.getOrElse(RankState(0L, Nil))
      var seen = st.seen
      val incoming = rows.map { r =>
        seen += 1; (seen, r.toSeq)
      }.toSeq
      val merged = (st.top ++ incoming).sorted(ord).take(n)
      if (merged == st.top) Iterator.empty
      else {
        if (isStreaming) state.update(RankState(seen, merged))
        rankAlias match {
          case Some(_) => merged.iterator.zipWithIndex.map { case ((_, vals), i) =>
            Row.fromSeq(vals :+ (i + 1).toLong)
          }
          case None => merged.iterator.map { case (_, vals) => Row.fromSeq(vals) }
        }
      }
    }

    // rank/dedup trigger on arrival (proc-time operators in the
    // reference): no watermark, hence no event-time timers; the opt-in
    // idleTtl uses the processing-time cleanup timer instead
    KeyedState.run(df, partCols, GroupStateTimeout.NoTimeout,
      Encoders.row(outSchema), idleTtl)(process)
  }

  /** Keep-ONE dedup: the row `ROW_NUMBER() = 1` selects under
    * `orderKeys` — keep-first is an ascending order, keep-last the
    * descending one (reference DeduplicateITCase's two tests differ only
    * in ASC vs DESC on proctime). Emits the kept row whenever it
    * changes; batch-collapses to one row per key. */
  def keepOne(df: DataFrame, partCols: Seq[String],
      orderKeys: Seq[(String, Boolean)]): DataFrame =
    rankRows(df, partCols, orderKeys, n = 1, rankAlias = None)

  /** BATCH-NATIVE rank: the identical `ROW_NUMBER() <= n` result
    * planned as Spark's own WindowExec — whole-stage-codegen'd,
    * spill-aware, and with the rank filter pushed into
    * WindowGroupLimit (each partition keeps only its top n BEFORE the
    * final sort — the plan that survives 100 TB, vs the stateful
    * executor's groupByKey + per-key in-memory fold, whose job is
    * streaming semantics, not batch throughput). Value-based orderings
    * only: the `proctime` arrival pseudo-column has no meaning in a
    * batch plan. `RankOpsSpec` pins this path row-identical to the
    * executor's batch collapse. */
  def rankRowsBatchNative(df: DataFrame, partCols: Seq[String],
      orderKeys: Seq[(String, Boolean)], n: Int,
      rankAlias: Option[String] = None): DataFrame = {
    require(!df.isStreaming,
      "rankRowsBatchNative is the batch plan; streaming takes rankRows")
    require(!orderKeys.exists(k => k._1 == "proctime" &&
      !df.columns.contains("proctime")),
      "the proctime arrival pseudo-column is streaming-only; order on " +
        "value columns in batch")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val w = (if (partCols.isEmpty) Window.partitionBy()
      else Window.partitionBy(partCols.map(col): _*))
      .orderBy(orderKeys.map { case (c, asc) =>
        if (asc) col(c).asc else col(c).desc }: _*)
    val alias = rankAlias.getOrElse("__graft_rn")
    val ranked = df.withColumn(alias, row_number().over(w).cast("long"))
      .filter(col(alias) <= n)
    if (rankAlias.isEmpty) ranked.drop(alias) else ranked
  }
}
