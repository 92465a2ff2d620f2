package graft.perfbench

/** One benchmark workload: a fixed set of `SparkEntry.queries` names run
  * by one closed-loop client. `tpcdsCatalog` marks the sets that read the
  * TPC-DS adapter views, whose plans depend on the analyzed catalog's
  * statistics; set-up registers both for them. */
final case class Workload(name: String, members: Seq[String],
    tpcdsCatalog: Boolean)

object Workloads {

  /** TPC-DS: verbatim query texts over the adapter views — star joins of
    * store, catalog and web sales with date, item, customer, demographic and
    * promotion dimensions — from the faster half of the 103, so that
    * three passes and the set-up fit a run. */
  val tpcds: Seq[String] = Seq(
    "qds03_literal", "qds07_literal", "qds19_literal", "qds26_literal",
    "qds42_literal", "qds48_literal", "qds62_literal", "qds96_literal")

  /** StatefulBatch replays (a streaming rank executor with a state store,
    * upsert/retract sink merges, early-fire windows) plus one query each
    * of the OverSql, MatchSql, RankDedupSql and Windows families over
    * `events`. */
  val stream: Seq[String] = Seq(
    "q61_hop", "q97_early_fire", "q104_upsert_sink", "q105_retract_apply",
    "q130_sql_match_all_rows", "q135_sql_over_range", "q141_sql_stream_topn",
    "q173_sql_rank_derived_stream")

  val all: Seq[Workload] = Seq(
    Workload("tpcds_power", tpcds, tpcdsCatalog = true),
    Workload("stream_replay", stream, tpcdsCatalog = false))

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name (known: ${all.map(_.name).mkString(", ")})"))

  /** Names of `w` that `SparkEntry.queries` does not define. */
  def missing(w: Workload): Seq[String] = {
    val defined = graft.SparkEntry.queries.keySet
    w.members.filterNot(defined)
  }

  /** The client's query order: a seeded shuffle, so the same seed gives
    * the same order. */
  def order(w: Workload, seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(w.members.sorted)
}
