package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * sessions are expensive; suites must not stop() it). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Collect a DataFrame to a seq of row-seqs for order-insensitive compare. */
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Every node of an executed physical plan — delegates to the single
    * shared walker [[graft.core.PlanWalk]] (AQE subtrees, reused
    * exchanges, subquery plans); plan assertions must not hand-roll this. */
  def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    graft.core.PlanWalk.nodes(p)

  /** `f`'s result and the number of Spark jobs it submitted from this
    * thread (tagged with a job group, so other threads' jobs do not
    * count; the listener bus is drained before counting). */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = f
      org.apache.spark.GraftBusWait.drain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Run a declared query and return every node of its final plan. */
  def executedPlanNodes(name: String, sfDir: String)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.collect() // materialize so AQE finalizes the plan
    planNodes(df.queryExecution.executedPlan)
  }
}

object SparkSpec {
  /** The fixture-schema gate runs BEFORE any suite touches the session:
    * a driver fixture regeneration must surface as this one loud
    * schema-drift error in every suite's initialization, never as 200
    * mysterious hash mismatches downstream (round-7 verdict #8 — this is
    * the suite-side twin of the Verify entry gate). */
  lazy val session: SparkSession = {
    val s = graft.core.SessionFactory.local("graft-test", cpus = "4")
    Seq("sf0.001", "sf0.01", "sf0.1").map(d => s"/root/testdata/$d")
      .filter(d => new java.io.File(d).isDirectory)
      .foreach(d => graft.core.Catalog.assertFixtureSchemas(s, d))
    s
  }
}
