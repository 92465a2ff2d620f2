package graft.core

import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkSpec

/** A rerun of a query in the same JVM compiles no generated class.
  *
  * Spark keeps compiled classes in one JVM-wide cache keyed by (context
  * classloader, code). [[SessionFactory]] sizes that cache to the measured
  * working set and turns off per-session executor classloaders. Without
  * the first, a pass over these queries evicts its own classes. Without the
  * second, every AvailableNow replay (a cloned session with a fresh UUID,
  * so a fresh executor classloader) recompiles its executor-side classes:
  * q104, q105 and q173 then recompile on every rerun.
  *
  * Each member of the two benchmark workloads (perfbench's
  * `Workloads.tpcds` and `Workloads.stream`) runs twice, back to back, in
  * the shared session; the second run must add nothing to Spark's own
  * count of Janino compilations. A second pass over all 16 must not
  * either.
  */
class CodegenReuseSpec extends SparkSpec {

  private val members = Seq(
    "qds03_literal", "qds07_literal", "qds19_literal", "qds26_literal",
    "qds42_literal", "qds48_literal", "qds62_literal", "qds96_literal",
    "q61_hop", "q97_early_fire", "q104_upsert_sink", "q105_retract_apply",
    "q130_sql_match_all_rows", "q135_sql_over_range", "q141_sql_stream_topn",
    "q173_sql_rank_derived_stream")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compilations during one full run of each of `names`: build, plan,
    * execute. */
  private def runCompiles(names: String*): Long = {
    val before = compiles
    names.foreach(n => graft.SparkEntry.queries(n)(spark, sf()).collect())
    compiles - before
  }

  members.foreach { name =>
    test(s"$name: a rerun in the same JVM compiles no generated class") {
      val first = runCompiles(name)
      val second = runCompiles(name)
      info(s"first run compiled $first classes, the rerun $second")
      assert(second == 0,
        s"$name recompiled $second generated classes on its rerun " +
          s"(first run: $first)")
    }
  }

  // a pass over all 16 cycles through more classes than Spark's default
  // 100-entry cache holds, so this is the check on the cache size
  test("a second pass over every member compiles no generated class") {
    val first = runCompiles(members: _*)
    val second = runCompiles(members: _*)
    info(s"first pass compiled $first classes, the second $second")
    assert(second == 0,
      s"a second pass recompiled $second generated classes (first: $first)")
  }
}
