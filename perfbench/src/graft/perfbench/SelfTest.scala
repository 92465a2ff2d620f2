package graft.perfbench

import java.io.PrintWriter

import org.apache.spark.sql.functions._

import graft.core.{Catalog, SessionFactory}

/** The benchmark's JVM-side self-tests, run by perfbench/test_perfbench.py:
  * query order, workload membership and the result digest. Writes one
  * JSON object — each check's outcome, the workloads' member lists and
  * the minimum pass count — to the file named by `--out`; the Python test
  * asserts on it.
  *
  *   --data <fixture dir> --out <file>
  */
object SelfTest {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val checks = Seq.newBuilder[(String, String)]
    def check(name: String)(cond: => Boolean, detail: => String = ""): Unit =
      checks += name -> (try { if (cond) "ok" else s"failed $detail" }
      catch { case e: Exception => s"threw $e" })

    for (w <- Workloads.all) {
      check(s"${w.name}.order_same_seed")(
        Workloads.order(w, 7) == Workloads.order(w, 7))
      check(s"${w.name}.order_other_seed")(
        Workloads.order(w, 7) != Workloads.order(w, 8))
      check(s"${w.name}.order_is_permutation")(
        Workloads.order(w, 7).sorted == w.members.sorted)
      check(s"${w.name}.members_defined")(
        Workloads.missing(w).isEmpty, Workloads.missing(w).mkString(","))
      check(s"${w.name}.members_distinct")(w.members.distinct == w.members)
    }
    val all = Workloads.all.flatMap(_.members)
    check("workloads_disjoint")(all.distinct == all,
      all.diff(all.distinct).mkString(","))

    val spark = SessionFactory.local("perfbench-selftest")
    try {
      val dir = new java.io.File(o("data")).getAbsolutePath
      val orders = Catalog.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
      val one = Digest.ofExecuted(orders.repartition(1))
      check("digest_partitioning")(
        Digest.ofExecuted(orders.repartition(7, col("o_custkey"))) == one &&
          Digest.ofExecuted(orders.orderBy(desc("o_orderkey"))) == one)
      check("digest_sees_duplicate")(
        Digest.ofExecuted(orders.union(orders.limit(1))) != one)
      check("digest_sees_changed_value")(Digest.ofExecuted(
        orders.withColumn("o_totalprice",
          when(col("o_orderkey") === 1, col("o_totalprice") + 0.01)
            .otherwise(col("o_totalprice")))) != one)
    } finally spark.stop()

    val out = new PrintWriter(o("out"), "UTF-8")
    try out.println(Json(Map(
      "checks" -> checks.result().toMap, "min_passes" -> Main.MinPasses,
      "workloads" -> Workloads.all.map(w => w.name -> w.members).toMap)))
    finally out.close()
  }
}
