package graft.operators

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.SparkSpec
import graft.core.Catalog

/** Proves the cost-based join reorder is live, not just configured.
  *
  * The reference runs its whole TPC-DS bench with join reorder ON
  * (reference: flink-table-planner-blink .../tpc/TpcDsBatchExecITCase.scala:71-72;
  * rules FlinkJoinToMultiJoinRule + LoptOptimizeJoinRule,
  * FlinkBatchRuleSets.scala:225-238), fed by catalog statistics through its
  * metadata handlers. Spark's twin (`CostBasedJoinReorder`) needs catalog
  * tables with ANALYZE statistics on every join item — path-based temp
  * views leave it inert. These specs pin (a) the statistics exist after
  * [[Catalog.registerAnalyzed]], (b) a deliberately worst-first multi-table
  * join gets a different join order with reorder on, and (c) reordering
  * never changes the answer.
  */
class CboSpec extends SparkSpec {

  /** A 5-table star written WORST-first: the two fact tables joined before
    * any dimension, region's selective filter last. Cost-based reorder
    * should refuse this shape; the heuristic ReorderJoin alone keeps it
    * (every adjacent pair already has a join condition). */
  private val worstFirst =
    """SELECT r_name, count(*) AS n
      |FROM lineitem, orders, customer, nation, region
      |WHERE l_orderkey = o_orderkey
      |  AND o_custkey = c_custkey
      |  AND c_nationkey = n_nationkey
      |  AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  /** Catalog-table leaves of an optimized plan, left to right — the join
    * order the planner committed to. */
  private def leafOrder(plan: LogicalPlan): Seq[String] =
    plan.collectLeaves().collect {
      case r: LogicalRelation => r.catalogTable.map(_.identifier.table)
    }.flatten

  test("registerAnalyzed gives every fixture table a rowCount statistic") {
    Catalog.registerAnalyzed(spark, sf())
    Catalog.tableNames.foreach { n =>
      val stats = spark.table(n).queryExecution.optimizedPlan.stats
      assert(stats.rowCount.isDefined && stats.rowCount.get.toLong > 0,
        s"table $n has no rowCount statistic — ANALYZE did not take")
      assert(stats.attributeStats.nonEmpty,
        s"table $n has no column statistics — FOR COLUMNS did not take")
    }
  }

  test("cost-based reorder rewrites a worst-first 5-table join; answer unchanged") {
    Catalog.registerAnalyzed(spark, sf())
    val key = "spark.sql.cbo.joinReorder.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      val reordered = spark.sql(worstFirst)
      val reorderedLeaves = leafOrder(reordered.queryExecution.optimizedPlan)

      spark.conf.set(key, "false")
      val syntactic = spark.sql(worstFirst)

      // the property that matters (not the exact order, which is
      // incidental planner output): with statistics present the planner
      // must not start the join tree with the two fact tables
      assert(reorderedLeaves.take(2).toSet != Set("lineitem", "orders"),
        s"cost-based reorder kept fact×fact as the first join: $reorderedLeaves" +
          " — CBO statistics are not reaching the planner")

      spark.conf.set(key, "true")
      assert(rows(reordered) == rows(syntactic.orderBy("r_name")),
        "join reorder changed the query answer")
    } finally spark.conf.set(key, prev)
  }

  test("the tpch08 8-relation graph is cost-ordered with statistics present") {
    Catalog.registerAnalyzed(spark, sf())
    // every catalog-table leaf of the query must carry a rowCount —
    // the precondition for CostBasedJoinReorder to consider the graph
    val df = graft.SparkEntry.queries("tpch08_market_share")(spark, sf())
    val leaves = df.queryExecution.optimizedPlan.collectLeaves().collect {
      case r: LogicalRelation if r.catalogTable.isDefined => r
    }
    assert(leaves.size == 8,
      s"tpch08 must read 8 catalog relations, got ${leaves.size} — SQL corpus not routed through registerAnalyzed")
    leaves.foreach { r =>
      assert(r.stats.rowCount.isDefined,
        s"leaf ${r.catalogTable.get.identifier.table} lacks rowCount stats")
    }

    // the order itself is incidental planner output (a Spark upgrade may
    // legitimately pick another optimum); the stable property is that the
    // costed plan never opens with the lineitem×orders fact pair
    val costed = leafOrder(df.queryExecution.optimizedPlan)
    assert(costed.take(2).toSet != Set("lineitem", "orders"),
      s"CBO opened tpch08's join tree with fact×fact: $costed")
  }

  test("tpch08's plan is the same over kept statistics as over a fresh ANALYZE") {
    def plan(): String = {
      val p = graft.SparkEntry.queries("tpch08_market_share")(spark, sf())
        .queryExecution.optimizedPlan
      (p.treeString + p.stats.simpleString).replaceAll("#\\d+", "#")
    }
    Catalog.registerAnalyzed(spark, sf())
    Catalog.tableNames.foreach(n => spark.sql(s"DROP TABLE $n"))
    val (_, jobs) = jobsDuring(Catalog.registerAnalyzed(spark, sf()))
    assert(jobs == 0, "registering the fixture again re-ran ANALYZE")
    val kept = plan()
    Catalog.tableNames.foreach(n => spark.sql(Catalog.analyzeSql(n, n)))
    assert(plan() == kept)
  }
}
