package graft.streaming

import org.apache.spark.sql.catalyst.expressions.{Explode, Inline}
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LateralJoin}

import graft.SparkSpec

/** The reference's `UNNEST` SQL spelling through the single front door:
  * rewrite contract (the analyzed plan's generators) plus reproductions of the old-planner
  * SqlITCase UNNEST IT cases (primitive array, object array with a
  * multi-column alias + filter, LEFT JOIN ... ON TRUE over a collected
  * array). */
class UnnestSqlSpec extends SparkSpec {

  /** The generators (`explode` / `inline`) of the analyzed plan. */
  private def generators(text: String): Seq[String] =
    graft.Sql.sql(spark, text).queryExecution.analyzed.collectWithSubqueries {
      case g: Generate => g.generator match {
        case _: Explode => "explode"
        case _: Inline => "inline"
        case other => other.prettyName
      }
    }

  test("rewrite: one-column alias (or none) routes to explode, " +
    "multi-column alias to inline; bare identifiers and string " +
    "literals pass through") {
    import spark.implicits._
    Seq((1, Array(12, 45), Array((12, "45.6")), "it's", 7))
      .toDF("a", "b", "p", "c", "unnest").createOrReplaceTempView("T")
    assert(generators("SELECT s FROM T, UNNEST(T.b) AS A (s)") == Seq("explode"))
    assert(generators("SELECT s, t FROM T, UNNEST(T.p) AS A (s, t)") ==
      Seq("inline"))
    assert(generators("SELECT * FROM T, UNNEST(T.b)") == Seq("explode"))
    val left = graft.Sql.sql(spark,
      "SELECT a, s FROM T LEFT JOIN UNNEST(T.b) AS A(s) ON TRUE")
    assert(left.queryExecution.analyzed.collectFirst {
      case j: LateralJoin => j.joinType
    }.contains(LeftOuter))
    assert(rows(left).toSet == Set(Seq[Any](1, 12), Seq[Any](1, 45)))
    assert(rows(graft.Sql.sql(spark, "SELECT unnest FROM T")) == Seq(Seq[Any](7)))
    assert(rows(graft.Sql.sql(spark, "SELECT 'UNNEST(x)' AS s FROM T")) ==
      Seq(Seq[Any]("UNNEST(x)")))
    // a backslash-escaped quote before the call
    assert(rows(graft.Sql.sql(spark,
      "SELECT 'it\\'s' AS q, s FROM T, UNNEST(T.b) AS A (s)")).toSet ==
      Set(Seq[Any]("it's", 12), Seq[Any]("it's", 45)))
  }

  test("reference stream SqlITCase.testUnnestPrimitiveArrayFromTable" +
    ":551-579 verbatim") {
    import spark.implicits._
    Seq((1, Array(12, 45)), (2, Array(41, 5)), (3, Array(18, 42)))
      .toDF("a", "b").createOrReplaceTempView("T")
    val got = graft.Sql.sql(spark,
      "SELECT a, b, s FROM T, UNNEST(T.b) AS A (s)")
    assert(rows(got.select("a", "s")).toSet == Set(
      Seq[Any](1, 12), Seq[Any](1, 45), Seq[Any](2, 41), Seq[Any](2, 5),
      Seq[Any](3, 18), Seq[Any](3, 42)))
  }

  test("reference stream SqlITCase.testUnnestObjectArrayFromTableWith" +
    "Filter:611-635 verbatim: multi-column alias expands the row type") {
    import spark.implicits._
    Seq((1, Array((12, "45.6"), (12, "45.612"))),
      (2, Array((13, "41.6"), (14, "45.2136"))),
      (3, Array((18, "42.6"))))
      .toDF("a", "b").createOrReplaceTempView("T")
    val got = graft.Sql.sql(spark,
      "SELECT a, b, s, t FROM T, UNNEST(T.b) AS A (s, t) WHERE s > 13")
    assert(rows(got.select("a", "s", "t")).toSet == Set(
      Seq[Any](2, 14, "45.2136"), Seq[Any](3, 18, "42.6")))
  }

  test("reference stream SqlITCase.testLeftUnnestMultiSetFromCollect" +
    "Result:668-705: LEFT JOIN UNNEST ... ON TRUE keeps empty-array " +
    "keys (COLLECT's graft twin is collect_list, minus its NULLs)") {
    import spark.implicits._
    Seq((1, "1", "Hello"), (1, "2", "Hello2"), (2, "2", "Hello"),
      (3, null.asInstanceOf[String], "Hello"), (4, "4", "Hello"),
      (5, "5", "Hello"), (5, null.asInstanceOf[String], "Hello"),
      (6, "6", "Hello"), (7, "7", "Hello World"), (7, "8", "Hello World"))
      .toDF("a", "b", "c").createOrReplaceTempView("t1")
    graft.Sql.sql(spark,
      "SELECT a, collect_list(b) AS st FROM t1 GROUP BY a")
      .createOrReplaceTempView("t2")
    val got = graft.Sql.sql(spark,
      "SELECT a, s FROM t2 LEFT JOIN UNNEST(t2.st) AS A(s) ON TRUE " +
        "WHERE a < 5")
    // the ITCase's expected rows (:700-705): key 3 has only a NULL
    // element — Flink's COLLECT keeps it as a multiset entry, Spark's
    // collect_list drops NULLs, so the LEFT side surfaces as (3, null)
    assert(rows(got).toSet == Set(
      Seq[Any](1, "1"), Seq[Any](1, "2"), Seq[Any](2, "2"),
      Seq[Any](3, null), Seq[Any](4, "4")))
  }

  test("q165's text path equals the DataFrame explode on the fixture") {
    import org.apache.spark.sql.functions._
    val dir = sf()
    val sqlDf = graft.SparkEntry.queries("q165_sql_unnest")(spark, dir)
    val want = graft.core.Tables(spark, dir).embeddings
      .filter(col("vec_id") < 50)
      .select(col("vec_id"), explode(col("embedding")).as("v"))
      .orderBy(col("vec_id"), col("v"))
    assert(rows(sqlDf) == rows(want))
    assert(rows(sqlDf).nonEmpty)
  }
}
