package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.core.Catalog

/** The literal family's claim is that the reference's own query texts run
  * unmodified — so pin each shipped body against the reference file on
  * disk: strip the template comment banners, collapse whitespace, and the
  * strings must be identical. A drive-by "fix" to a literal text fails
  * here, not in a silent semantic drift. */
class TpcDsLiteralSpec extends SparkSpec {

  private val refDir = Paths.get(
    "/root/reference/flink-table/flink-table-planner-blink/src/test/resources/tpcds/queries/1")

  private def norm(sql: String): String =
    sql.linesIterator
      .filterNot(_.trim.startsWith("--"))
      .mkString(" ")
      .replaceAll("\\s+", " ")
      .trim.toLowerCase

  test("shipped literal texts equal the reference query files") {
    assume(Files.isDirectory(refDir), "reference tree not present")
    TpcDsLiteral.texts.foreach { case (stem, body) =>
      val ref = new String(Files.readAllBytes(refDir.resolve(s"$stem.sql")))
      assert(norm(body) == norm(ref),
        s"$stem.sql drifted from the reference text")
    }
  }

  test("every literal query returns rows through the view adapter") {
    // Sanctioned-empty at sf0.01 — each text's predicate outruns the
    // fixture's density; both engines agree on the empty result and the
    // driver row is a hash match:
    //  - qds58: needs one item sold in ALL THREE channels inside one
    //    calendar week (~0.2 lines per item-week here);
    //  - qds23b: frequent_ss_items needs an item sold >4 times on one
    //    DATE (~0.0125 sales per item-day here); q23a survives because
    //    its final global SUM emits one NULL row where q23b's GROUP BY
    //    emits none;
    //  - qds34: needs 15-20 store_sales lines on ONE ticket after
    //    filters — tickets are TPC-H orders, capped at 7 lines;
    //  - qds54: 4 Women/dresses cross-channel buyers exist in Jan 1998
    //    but none shops in stores during the 3-month revenue window;
    //    9 rows from sf0.1 up;
    //  - qds85: the three (marital x education x price-band) branch
    //    conjunctions multiply to <1 expected row against the 857
    //    web-return rows of 1998.
    val emptyOk = Set("qds58_literal", "qds23b_literal", "qds34_literal",
      "qds54_literal", "qds85_literal")
    TpcDsLiteral.defs.filterNot(d => emptyOk(d.name)).foreach { d =>
      val n = d.run(spark, sf("sf0.01")).count()
      assert(n > 0, s"${d.name} returned no rows at sf0.01")
    }
  }

  test("each generated table holds exactly the rows of its derivation") {
    val s = spark.newSession()
    TpcDsLiteral.registerViews(s, sf())
    val derived = TpcDsLiteral.derivedTables(s, sf())
    assert(derived.map(_._1).toSet == Set("store_sales", "store_returns",
      "catalog_sales", "catalog_returns", "web_sales", "web_returns",
      "date_dim"))
    derived.foreach { case (name, df) =>
      val view = s.table(name)
      // a file scan, not the join or DISTINCT it was generated from
      assert(view.queryExecution.optimizedPlan.collect {
        case j: Join => j
        case a: Aggregate => a
      }.isEmpty, s"$name still derives its rows")
      assert(view.schema.map(f => (f.name, f.dataType)) ==
        df.schema.map(f => (f.name, f.dataType)), name)
      assert(view.exceptAll(df).isEmpty && df.exceptAll(view).isEmpty,
        s"$name differs from its derivation")
    }
  }

  test("a new session reuses the generated files and runs no write job") {
    val first = spark.newSession()
    TpcDsLiteral.registerViews(first, sf())
    val next = spark.newSession()
    val (_, jobs) = jobsDuring(TpcDsLiteral.registerViews(next, sf()))
    assert(jobs == 0, s"registerViews in a new session ran $jobs jobs")
    Seq("store_sales", "date_dim").foreach(t =>
      assert(next.table(t).inputFiles.toSet == first.table(t).inputFiles.toSet))
  }

  test("a fixture whose orders file is rewritten gets regenerated") {
    val copy = Files.createTempDirectory("tpcds-fixture")
    Catalog.tableNames.foreach(n => Files.copy(
      Paths.get(Catalog.path(sf(), n)), copy.resolve(s"$n.parquet")))
    val dir = copy.toString
    val s = spark.newSession()
    TpcDsLiteral.registerViews(s, dir)
    val before = s.table("store_sales")
    val (rows, files) = (before.count(), before.inputFiles.toSet)
    // rewrite orders.parquet in place, keeping the even order keys only
    val even = copy.resolve("orders_even").toString
    Catalog.load(s, dir, "orders").filter(col("o_orderkey") % 2 === 0)
      .coalesce(1).write.parquet(even)
    val part = Files.list(Paths.get(even)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    Files.move(part, copy.resolve("orders.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    TpcDsLiteral.registerViews(s, dir)
    val after = s.table("store_sales")
    assert(after.inputFiles.toSet.intersect(files).isEmpty,
      "store_sales was not regenerated")
    assert(after.count() < rows)
    assert(after.filter(col("ss_ticket_number") % 2 =!= 0).isEmpty,
      "regenerated store_sales still holds the dropped orders' lines")
  }
}
