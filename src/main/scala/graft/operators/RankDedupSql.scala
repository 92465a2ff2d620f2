package graft.operators

import graft.core.QueryDef
import graft.streaming.WindowSql

/** The reference's streaming TOP-N / DEDUPLICATION SQL patterns as
  * declared queries on NON-Event tables (reference:
  * StreamExecDeduplicateRule.scala's `ROW_NUMBER() = 1` routing and the
  * RankITCase / DeduplicateITCase `<= k` / `= k` surfaces), executed by
  * [[graft.streaming.RankOps.rankRows]] through [[WindowSql.sqlDf]] and
  * hash-checked by DuckDB running the IDENTICAL statement — the batch
  * collapse of the streaming operator is the plain window query. */
object RankDedupSql {

  def defs: Seq[QueryDef] =
    Seq(q140KeepLastDedup, q141StreamTopN, q142TopNth, q147TopNNative)

  // batchNative = false: these three gate the STREAMING executor's batch
  // collapse (its only oracle-checked surface); q147 gates the native
  // batch plan users get by default
  private def run(table: String, sql: String)(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    WindowSql.sqlDf(graft.core.Catalog.load(spark, dir, table), sql,
      batchNative = false)

  /** The DEFAULT batch route of the same SQL entry: Spark's native
    * WindowExec with the rank filter pushed into WindowGroupLimit (each
    * partition keeps its top n before the final sort — the 100 TB batch
    * plan; `PlanLintSpec` asserts the pushdown fired). Same statement
    * family as q141, checked against the same kind of oracle. */
  val q147TopNNative: QueryDef = QueryDef("q147_sql_topn_native",
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
      |    ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn
      |  FROM orders)
      |WHERE rn <= 2
      |ORDER BY o_custkey, rn""".stripMargin) { (spark, dir) =>
    WindowSql.sqlDf(graft.core.Catalog.load(spark, dir, "orders"),
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 2
        |ORDER BY o_custkey, rn""".stripMargin)
  }

  /** Keep-LAST dedup on the orders fact: each customer's most recent
    * order (latest o_orderdate, ties to the highest key — a total order,
    * so the streaming result is arrival-independent). The descending
    * ORDER BY is exactly what routes StreamExecDeduplicateRule to
    * keep-last (DeduplicateITCase.testLastRowOnProctime's shape, on a
    * value column). */
  val q140KeepLastDedup: QueryDef = QueryDef("q140_sql_keeplast_dedup",
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders)
      |WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin) { (spark, dir) =>
    run("orders",
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin)(spark, dir)
  }

  /** Streaming top-n on the orders fact: each customer's three priciest
    * orders WITH the rank column (RankITCase.testTopN's shape — outer
    * SELECT * keeps rank_num). */
  val q141StreamTopN: QueryDef = QueryDef("q141_sql_stream_topn",
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
      |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin) { (spark, dir) =>
    run("orders",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin)(spark, dir)
  }

  /** The k-th-row shape (RankITCase.testTopNth: `rank_num = 2`): every
    * order's second-priciest line, composite partition-free total order
    * via the line number tie-break. */
  val q142TopNth: QueryDef = QueryDef("q142_sql_topnth",
    """SELECT l_orderkey, l_linenumber, l_extendedprice, rn FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |    ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
      |  FROM lineitem)
      |WHERE rn = 2
      |ORDER BY l_orderkey""".stripMargin) { (spark, dir) =>
    run("lineitem",
      """SELECT l_orderkey, l_linenumber, l_extendedprice, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
        |  FROM lineitem)
        |WHERE rn = 2
        |ORDER BY l_orderkey""".stripMargin)(spark, dir)
  }
}
