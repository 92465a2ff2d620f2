package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout
import org.apache.spark.sql.types._

import graft.core.{QueryDef, Tables}
import graft.streaming.KeyedState

/** Deterministic sampling operators for training-data curation: exact
  * k-per-stratum selection, weighted source mixing, and train/val/test
  * splitting.
  *
  * Every selection decision derives from a per-row pseudo-random rank
  * computed with portable integer arithmetic (one MINSTD Lehmer step,
  * Park-Miller CACM'88) rather than `rand()` or an engine-specific hash:
  * the sample is reproducible across runs, engines, partitionings and
  * cluster sizes — re-running the pipeline on a re-partitioned 100 TB
  * corpus selects the SAME documents, which is what makes downstream
  * training runs comparable. No shuffle is introduced beyond what the
  * operator semantics require (top-k per stratum shuffles on the stratum
  * key; Bernoulli filters are map-side only).
  *
  * Reference scope: the reference engine ships SQL TABLESAMPLE and rand();
  * deterministic stratified/weighted corpus sampling is part of this
  * library's LLM-pipeline extension surface (SURVEY.md "beyond the
  * reference" list).
  */
object Sampling {

  def defs: Seq[QueryDef] =
    Seq(q54StratifiedSample, q55WeightedMixture, q56SplitAssign,
      q107TemperatureMix, q117ClusterSample, q122TokenBudget,
      q154WeightedReservoir)

  private val M = 2147483647L // 2^31 - 1, the Mersenne prime of MINSTD

  /** Deterministic per-row rank in [0, 2^31-1): three chained Lehmer
    * steps of the seeded id. One step does not mix a DENSE id space (ids
    * 0..n map to 0..48271·n, never reaching a weight threshold); three
    * steps wrap the modulus many times per consecutive id, giving
    * interval-membership fractions within ~1% of uniform on dense ranges.
    * Entirely in long arithmetic that cannot overflow ((M-1)·48271 <
    * 2^47) — safe under Spark's ANSI mode and bit-identical in any engine
    * with 64-bit integer semantics. A seed ROTATES the underlying
    * permutation (rank(id, s) = rank(id + s) elementwise): distinct seeds
    * give far-apart rotations, which decorrelates threshold selections in
    * aggregate but is not cryptographic independence. */
  def pseudoRank(id: Column, seed: Long = 0L): Column = {
    require(seed >= 0 && seed < (1L << 46), s"seed out of range: $seed")
    // floor-mod seed step: a negative id would otherwise carry a negative
    // rank through the chain and fall below every threshold (always kept,
    // always 'train'); for non-negative ids this is the plain % unchanged
    val x0 = ((id + lit(seed + 1)) % M + M) % M
    (1 to 3).foldLeft(x0)((x, _) => x * lit(48271L) % M)
  }

  /** The same rank as ANSI SQL text, for oracle construction. */
  private[graft] def pseudoRankSql(id: String, seed: Long = 0L): String =
    s"((($id + ${seed + 1}) % $M + $M) % $M * 48271 % $M * 48271 % $M * 48271 % $M)"

  /** The same rank as plain Scala, for stateful operators that score rows
    * per key (the streaming reservoir, [[reservoirPerKey]]) — one
    * arithmetic, three spellings, spec-pinned equal. */
  def pseudoRankLong(id: Long, seed: Long = 0L): Long = {
    require(seed >= 0 && seed < (1L << 46), s"seed out of range: $seed")
    val x0 = ((id + seed + 1) % M + M) % M
    (1 to 3).foldLeft(x0)((x, _) => x * 48271L % M)
  }

  /** Exactly min(k, |stratum|) rows per stratum, chosen by pseudo-random
    * rank (ties broken by id — a total order, so the result is unique).
    * The rank filter is a windowed row_number bounded by a constant, which
    * Spark plans as a WindowGroupLimit: the top-k survives partial
    * per-partition pruning BEFORE the shuffle, so the exchange carries at
    * most k rows per stratum per input partition — at 100 TB the full
    * corpus is never sorted, only each stratum's candidate heads. */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
      k: Int, seed: Long = 0L): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(pseudoRank(col(idCol), seed), col(idCol))
    df.withColumn("sample_rank", row_number().over(w).cast(LongType))
      .filter(col("sample_rank") <= k)
  }

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
    * [[stratifiedSample]] with the same seed — the oracle-checked
    * contract.
    *
    * State is bounded by k entries per stratum; `idleTtl` is
    * [[graft.streaming.KeyedState.run]]'s processing-time cleanup timer. */
  def reservoirPerKey(rows: Dataset[(String, Long)], k: Int, seed: Long,
      idleTtl: Option[String] = None): Dataset[Sampled] =
    KeyedState.run[ResState, Sampled](rows.toDF("stratum", "item_id"),
      Seq("stratum"), GroupStateTimeout.NoTimeout, Encoders.product[Sampled],
      idleTtl) {
      (key, it, state) =>
        val prev = state.getOption.getOrElse(ResState(Nil)).entries
        val incoming = it.map { r =>
          val id = r.getLong(1)
          ResEntry(pseudoRankLong(id, seed), id)
        }
        val merged = (prev ++ incoming).distinct
          .sortBy(e => (e.rank, e.item_id)).take(k)
        if (merged != prev) {
          state.update(ResState(merged))
          val stratum = key.getString(0)
          merged.zipWithIndex.iterator.map { case (e, i) =>
            Sampled(stratum, e.item_id, i + 1)
          }
        } else Iterator.empty
    }

  /** Deterministic Bernoulli mixing: keep a row of stratum s with
    * probability weights(s) (default `defaultWeight`), decided by the
    * row's pseudo-rank — map-side only, no shuffle, and each stratum's
    * kept set is a SUBSET of any larger weight's kept set (the rank
    * threshold is monotone in the weight), so mixture re-weighting only
    * adds or removes documents, never swaps them. */
  def weightedMixture(df: DataFrame, strataCol: String, idCol: String,
      weights: Map[String, Double], defaultWeight: Double,
      seed: Long = 0L): DataFrame = {
    val threshold = weights.toSeq.sortBy(_._1).foldLeft(
      lit((defaultWeight * M).toLong)) { case (acc, (s, w)) =>
      when(col(strataCol) === s, lit((w * M).toLong)).otherwise(acc)
    }
    df.filter(pseudoRank(col(idCol), seed) < threshold)
  }

  /** Temperature-scaled source mixture (the multilingual-sampling rule:
    * sample stratum s proportionally to `n_s^alpha`, so `alpha = 1` keeps
    * the natural distribution and `alpha → 0` flattens it toward uniform —
    * the standard way to upweight low-resource sources). Per-stratum keep
    * rates are DERIVED from the stratum counts in-frame: one tiny
    * aggregate over the strata, broadcast back, then the same map-side
    * pseudo-rank threshold as [[weightedMixture]] — no driver round-trip,
    * no shuffle of the corpus. Arithmetic parity: stratum weights are
    * rounded to 6 dp and summed as exact decimals (partial-aggregation
    * order cannot perturb the total), the rate is rounded to 9 dp and
    * floored onto the integer rank scale — any engine computing the same
    * expression selects the same rows. */
  def temperatureMixture(df: DataFrame, strataCol: String, idCol: String,
      alpha: Double = 0.5, targetFrac: Double = 0.5,
      seed: Long = 0L): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    require(targetFrac > 0 && targetFrac <= 1,
      s"targetFrac must be in (0, 1]: $targetFrac")
    val counts = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_s"))
      .withColumn("w_s", round(pow(col("n_s"), alpha), 6).cast(DecimalType(28, 6)))
    val totals = counts.agg(sum(col("n_s")).as("n_total"),
      sum(col("w_s")).as("w_total"))
    val thresholds = counts.crossJoin(broadcast(totals))
      .withColumn("mix_threshold",
        floor(least(lit(1.0), round(
          lit(targetFrac) * col("n_total") *
            (col("w_s").cast(DoubleType) / col("w_total").cast(DoubleType)) /
            col("n_s"), 9)) * M).cast(LongType))
      .select(col(strataCol), col("mix_threshold"))
    df.join(broadcast(thresholds), Seq(strataCol))
      .filter(pseudoRank(col(idCol), seed) < col("mix_threshold"))
      .drop("mix_threshold")
  }

  /** Train/val/test assignment by pseudo-rank range: fractions are exact
    * long thresholds, assignment is per-row arithmetic (no shuffle), and
    * a document's split never changes when the corpus grows — the rank
    * depends only on the id, the property that keeps eval sets
    * uncontaminated across dataset versions.
    *
    * COMPAT NOTE (one-time): the threshold scale changed from (M-1) to M
    * when the w=1.0 edge was fixed (rank M-1 was wrongly dropped), which
    * moved boundary documents between splits relative to assignments
    * persisted under the old scale. Within any one version of this
    * library the stability contract holds; consumers holding pre-fix
    * split assignments should re-derive them once. */
  def splitAssign(df: DataFrame, idCol: String, trainFrac: Double,
      valFrac: Double, seed: Long = 0L): DataFrame = {
    require(trainFrac >= 0 && valFrac >= 0 && trainFrac + valFrac <= 1.0)
    val r = pseudoRank(col(idCol), seed)
    val t1 = (trainFrac * M).toLong
    val t2 = ((trainFrac + valFrac) * M).toLong
    df.withColumn("split",
      when(r < t1, "train").when(r < t2, "val").otherwise("test"))
  }

  /** 5 docs per source, deterministic. */
  val q54StratifiedSample: QueryDef = QueryDef("q54_stratified_sample",
    s"""SELECT source, doc_id, sample_rank FROM (
       |  SELECT source, doc_id, row_number() OVER (
       |    PARTITION BY source
       |    ORDER BY ${pseudoRankSql("doc_id")}, doc_id) AS sample_rank
       |  FROM documents)
       |WHERE sample_rank <= 5 ORDER BY source, doc_id""".stripMargin) {
    (spark, dir) =>
      stratifiedSample(Tables(spark, dir).documents, "source", "doc_id", k = 5)
        .select(col("source"), col("doc_id"), col("sample_rank"))
        .orderBy(col("source"), col("doc_id"))
  }

  private val mixWeights = Map("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.1)

  /** Weighted source mixture: upsample src0, drop most of src2, half the
    * rest. The oracle restates the thresholds as a CASE over the same
    * integer rank. */
  val q55WeightedMixture: QueryDef = QueryDef("q55_weighted_mixture",
    s"""SELECT doc_id, source FROM documents
       |WHERE ${pseudoRankSql("doc_id", seed = 7)} < CASE source
       |  WHEN 'src0' THEN ${(1.0 * M).toLong}
       |  WHEN 'src1' THEN ${(0.75 * M).toLong}
       |  WHEN 'src2' THEN ${(0.1 * M).toLong}
       |  ELSE ${(0.5 * M).toLong} END
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    weightedMixture(Tables(spark, dir).documents, "source", "doc_id",
      mixWeights, defaultWeight = 0.5, seed = 7)
      .select(col("doc_id"), col("source")).orderBy(col("doc_id"))
  }

  /** 90/5/5 split with per-(source, split) counts — the shape a dataset
    * card reports. Counts aggregate exactly (longs), so the oracle needs
    * no rounding. */
  val q56SplitAssign: QueryDef = QueryDef("q56_split_assign",
    s"""WITH s AS (
       |  SELECT source, CASE
       |    WHEN ${pseudoRankSql("doc_id", seed = 11)} < ${(0.9 * M).toLong} THEN 'train'
       |    WHEN ${pseudoRankSql("doc_id", seed = 11)} < ${(0.95 * M).toLong} THEN 'val'
       |    ELSE 'test' END AS split,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
       |  FROM documents)
       |SELECT source, split, count(*) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS n_tokens
       |FROM s GROUP BY source, split ORDER BY source, split""".stripMargin) {
    (spark, dir) =>
      splitAssign(Tables(spark, dir).documents, "doc_id",
        trainFrac = 0.9, valFrac = 0.05, seed = 11)
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ", -1)).cast(LongType)).as("n_tokens"))
        .orderBy(col("source"), col("split"))
  }

  /** Temperature mixture at alpha = 0.5, half the corpus. The oracle
    * restates the in-frame rate derivation (decimal weight sum, 9 dp
    * rate, floored rank threshold) as SQL over the same counts. */
  val q107TemperatureMix: QueryDef = QueryDef("q107_temperature_mix",
    s"""WITH c AS (
       |  SELECT source, count(*) AS n_s FROM documents GROUP BY source),
       |w AS (
       |  SELECT source, n_s,
       |    CAST(round(pow(n_s, 0.5), 6) AS DECIMAL(28,6)) AS w_s FROM c),
       |t AS (
       |  SELECT CAST(SUM(n_s) AS BIGINT) AS n_total, SUM(w_s) AS w_total FROM w),
       |r AS (
       |  SELECT source,
       |    CAST(FLOOR(LEAST(1.0, round(
       |      0.5 * n_total * (CAST(w_s AS DOUBLE) / CAST(w_total AS DOUBLE))
       |        / n_s, 9)) * $M) AS BIGINT) AS mix_threshold
       |  FROM w CROSS JOIN t)
       |SELECT doc_id, source FROM documents JOIN r USING (source)
       |WHERE ${pseudoRankSql("doc_id", seed = 13)} < mix_threshold
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    temperatureMixture(Tables(spark, dir).documents, "source", "doc_id",
      alpha = 0.5, targetFrac = 0.5, seed = 13)
      .select(col("doc_id"), col("source")).orderBy(col("doc_id"))
  }

  /** Duplicate-cluster down-weighted sampling (soft dedup): hard-keep one
    * canonical representative per exact-content cluster, and keep each
    * remaining member with probability 1/cluster_size — so every cluster
    * contributes ~1 document in expectation regardless of how many times
    * it was crawled, instead of letting heavily-duplicated pages dominate
    * the mixture (hard dedup is [[Dedup]]; this is the standard softer
    * alternative that retains natural-distribution signal). Deterministic:
    * the per-row [[pseudoRank]] against the integer threshold M/size; the
    * canonical is the cluster's rank-minimal member. One shuffle on the
    * content hash (the window count, the row_number and the filter all
    * share that partitioning); thresholding is map-side. M is prime, so
    * M/size is never integral for 1 < size < M and singleton clusters
    * (threshold M/1 = M > every rank) are always kept — no boundary
    * ambiguity between the engines' float divisions. */
  def clusterWeightedSample(docs: DataFrame, idCol: String, textCol: String,
      seed: Long = 0L): DataFrame = {
    val sizeW = Window.partitionBy(col("ch"))
    val rankW = Window.partitionBy(col("ch"))
      .orderBy(pseudoRank(col(idCol), seed), col(idCol))
    docs
      .select(col(idCol), md5(lower(col(textCol))).as("ch"))
      .withColumn("cluster_size", count(lit(1)).over(sizeW))
      .withColumn("rn", row_number().over(rankW))
      .withColumn("is_canonical", col("rn") === 1)
      .filter(col("rn") === 1 ||
        pseudoRank(col(idCol), seed) < floor(lit(M.toDouble) / col("cluster_size")))
      .select(col(idCol), col("cluster_size"), col("is_canonical"))
  }

  val q117ClusterSample: QueryDef = QueryDef("q117_cluster_sample",
    s"""WITH ranked AS (
       |  SELECT doc_id, md5(lower(text)) AS ch,
       |    ${pseudoRankSql("doc_id", seed = 29)} AS r
       |  FROM documents),
       |sized AS (
       |  SELECT doc_id, ch, r,
       |    count(*) OVER (PARTITION BY ch) AS cluster_size,
       |    ROW_NUMBER() OVER (PARTITION BY ch ORDER BY r, doc_id) AS rn
       |  FROM ranked)
       |SELECT doc_id, cluster_size, (rn = 1) AS is_canonical
       |FROM sized
       |WHERE rn = 1 OR r < floor($M / cluster_size)
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    clusterWeightedSample(Tables(spark, dir).documents, "doc_id", "text",
      seed = 29)
      .orderBy(col("doc_id"))
  }

  /** Per-domain token-budget cap: walk each domain's documents in a
    * deterministic pseudo-random order and keep documents while the
    * domain's running token total stays within `budgetTokens` (inclusive
    * — the document that lands exactly on the budget is kept; the first
    * one past it, and everything after, is dropped). This is the mixture
    * primitive a pretraining corpus actually wants — "at most N tokens
    * from domain X" — which a per-document count cap (q54) cannot
    * express when document lengths vary.
    *
    * Scale shape: token counting is map-side column algebra; the running
    * total is one window (SUM … ROWS UNBOUNDED PRECEDING) over a single
    * shuffle on the domain key — integer arithmetic throughout, so the
    * cumulative sums are exact and engine-independent. A domain so large
    * that its documents overwhelm one partition is exactly a domain the
    * budget TRUNCATES; if even the pre-truncation walk is too heavy, cap
    * candidates first with the q54 rank limit (WindowGroupLimit prunes
    * before the shuffle), then budget-walk the survivors. */
  def tokenBudgetCap(docs: DataFrame, domainCol: String, idCol: String,
      textCol: String, budgetTokens: Long, seed: Long = 0L): DataFrame = {
    val toks = size(split(col(textCol), " ", -1)).cast(LongType)
    val w = Window.partitionBy(col(domainCol))
      .orderBy(pseudoRank(col(idCol), seed), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(domainCol), col(idCol), toks.as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetTokens)
  }

  /** 800-token budget per source at the fixture scale: every source has
    * ~1400 tokens at sf0.01, so the cap visibly truncates each domain
    * while keeping a meaningful prefix. */
  val q122TokenBudget: QueryDef = QueryDef("q122_token_budget",
    s"""SELECT source, doc_id, n_tokens, cum_tokens FROM (
       |  SELECT source, doc_id, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY source
       |      ORDER BY ${pseudoRankSql("doc_id", seed = 31)}, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM (SELECT source, doc_id,
       |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |        FROM documents))
       |WHERE cum_tokens <= 800
       |ORDER BY source, doc_id""".stripMargin) { (spark, dir) =>
    tokenBudgetCap(Tables(spark, dir).documents, "source", "doc_id", "text",
      budgetTokens = 800L, seed = 31)
      .orderBy(col("source"), col("doc_id"))
  }

  /** Weighted sampling WITHOUT replacement, exactly k rows, inclusion
    * probability proportional to the weight (A-Res: Efraimidis &
    * Spirakis, IPL'06): each row draws u in (0,1) and the k largest
    * u^(1/w) win — equivalently the k largest ln(u)/w, the form used
    * here. The u comes from [[pseudoRank]], so the draw is reproducible
    * across runs, engines and partitionings (the same property as every
    * selection in this module); the key is rounded once to 12 decimals
    * and compared as an exact DECIMAL, so the top-k boundary cannot
    * drift with float merge order. One map pass + TakeOrderedAndProject
    * (k rows to one reducer, never a global sort): the 100 TB plan.
    * Rows with weight <= 0 are excluded, as in the paper. */
  def weightedReservoir(df: DataFrame, idCol: String, weightCol: String,
      k: Int, seed: Long = 11L): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val u = (pseudoRank(col(idCol), seed) + 1).cast(DoubleType) /
      2147483648.0 // exact dyadic rational in (0,1)
    val keyed = df.filter(col(weightCol) > 0)
      .withColumn("skey",
        round(log(u) / col(weightCol), 12).cast(DecimalType(20, 12)))
    keyed
      .orderBy(col("skey").desc, col(idCol))
      .limit(k)
      .withColumn("sel_rank",
        row_number().over(Window.orderBy(col("skey").desc, col(idCol))))
      .drop("skey")
  }

  /** 200 documents drawn with probability ∝ length (n_chars): the
    * quality-weighted corpus draw of a curation pipeline. */
  val q154WeightedReservoir: QueryDef = QueryDef("q154_weighted_reservoir",
    s"""WITH keyed AS (
       |  SELECT doc_id, n_chars,
       |    CAST(round(ln((${pseudoRankSql("doc_id", seed = 11)} + 1.0)
       |      / 2147483648.0) / n_chars, 12) AS DECIMAL(20,12)) AS skey
       |  FROM documents WHERE n_chars > 0)
       |SELECT doc_id, n_chars, sel_rank FROM (
       |  SELECT doc_id, n_chars,
       |    row_number() OVER (ORDER BY skey DESC, doc_id) AS sel_rank
       |  FROM keyed)
       |WHERE sel_rank <= 200 ORDER BY sel_rank""".stripMargin) {
    (spark, dir) =>
      weightedReservoir(Tables(spark, dir).documents
        .select(col("doc_id"), col("n_chars")), "doc_id", "n_chars", k = 200)
        .orderBy(col("sel_rank"))
  }
}
