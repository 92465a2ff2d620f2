package graft.core

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogStatistics

import graft.SparkSpec

/** `Catalog.registerAnalyzed` computes each fixture table's statistics
  * once per JVM and installs them in every later session; it decides what
  * to register from the context's catalog, so sessions of one context that
  * register different fixtures each read their own. Every test works in
  * new sessions of the shared context and registers the shared fixture
  * again when it is done. */
class CatalogSpec extends SparkSpec {

  private def stats(s: SparkSession, table: String): CatalogStatistics =
    s.sessionState.catalog.getTableMetadata(TableIdentifier(table)).stats.get

  /** `f` in a new session of the shared context; the shared fixture is
    * registered again afterwards. */
  private def inNewSession[T](f: SparkSession => T): T =
    try f(spark.newSession()) finally Catalog.registerAnalyzed(spark, sf())

  /** A copy of the shared fixture's files in a new temporary directory. */
  private def copyOfFixture(): File = {
    val copy = Files.createTempDirectory("graft-catalog-").toFile
    Catalog.tableNames.foreach { n =>
      Files.copy(new File(Catalog.path(sf(), n)).toPath,
        new File(Catalog.path(copy.getPath, n)).toPath)
    }
    copy
  }

  test("a new session registers the fixture with no job and the statistics " +
    "of a fresh ANALYZE") {
    Catalog.registerAnalyzed(spark, sf())
    inNewSession { s =>
      Catalog.tableNames.foreach(n => s.sql(s"DROP TABLE $n"))
      val (_, jobs) = jobsDuring(Catalog.registerAnalyzed(s, sf()))
      assert(jobs == 0, "registering an analyzed fixture again ran Spark jobs")
      val installed = Catalog.tableNames.map(n => n -> stats(s, n)).toMap
      Catalog.tableNames.foreach(n => s.sql(Catalog.analyzeSql(n, n)))
      Catalog.tableNames.foreach { n =>
        val (kept, fresh) = (installed(n), stats(s, n))
        assert(kept.sizeInBytes == fresh.sizeInBytes, n)
        assert(kept.rowCount.isDefined && kept.rowCount == fresh.rowCount, n)
        assert(kept.colStats.keySet == fresh.colStats.keySet, n)
        fresh.colStats.foreach { case (c, st) =>
          assert(kept.colStats(c) == st, s"$n.$c")
        }
      }
    }
  }

  test("two sessions of one context, two fixtures: each session's SQL reads " +
    "its own fixture") {
    assume(new File(sf("sf0.01")).isDirectory, "sf0.01 fixture missing")
    inNewSession { a =>
      val b = spark.newSession()
      def count(s: SparkSession) =
        s.sql("SELECT count(*) FROM lineitem").collect().head.getLong(0)
      val small = Catalog.load(a, sf(), "lineitem").count()
      val large = Catalog.load(b, sf("sf0.01"), "lineitem").count()
      assert(small != large)
      // each session registers its fixture before its SQL, as every SQL
      // query entry point does
      Catalog.registerAnalyzed(a, sf())
      Catalog.registerAnalyzed(b, sf("sf0.01"))
      Catalog.registerAnalyzed(a, sf())
      assert(count(a) == small, "session a read session b's fixture")
      Catalog.registerAnalyzed(b, sf("sf0.01"))
      assert(count(b) == large, "session b read session a's fixture")
    }
  }

  test("a rewritten fixture file is analyzed again, with its new rowCount") {
    val copy = copyOfFixture()
    val scratch = Files.createTempDirectory("graft-catalog-region-").toFile
    try inNewSession { s =>
      Catalog.registerAnalyzed(s, copy.getPath)
      assert(stats(s, "region").rowCount.contains(BigInt(5)))
      val rewrite = new File(scratch, "region.parquet").getPath
      Catalog.load(s, copy.getPath, "region").where("r_regionkey < 3")
        .coalesce(1).write.parquet(rewrite)
      val part = new File(rewrite).listFiles.filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, new File(Catalog.path(copy.getPath, "region")).toPath,
        StandardCopyOption.REPLACE_EXISTING)
      val (_, jobs) = jobsDuring(Catalog.registerAnalyzed(s, copy.getPath))
      assert(jobs > 0, "the rewritten region.parquet was not analyzed again")
      assert(stats(s, "region").rowCount.contains(BigInt(3)))
      assert(s.sql("SELECT count(*) FROM region").collect().head.getLong(0) == 3)
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(copy)
      org.apache.hadoop.fs.FileUtil.fullyDelete(scratch)
    }
  }

  test("turning histograms on analyzes again; the next registration runs no job") {
    Catalog.registerAnalyzed(spark, sf())
    inNewSession { s =>
      s.conf.set("spark.sql.statistics.histogram.enabled", "true")
      val (_, jobs) = jobsDuring(Catalog.registerAnalyzed(s, sf()))
      assert(jobs > 0, "histogram statistics were taken from a histogram-less ANALYZE")
      assert(stats(s, "lineitem").colStats("l_quantity").histogram.isDefined)
      val (_, again) = jobsDuring(Catalog.registerAnalyzed(s, sf()))
      assert(again == 0)
    }
    assert(stats(spark, "lineitem").colStats("l_quantity").histogram.isEmpty,
      "the shared session kept the histogram statistics")
  }

  test("rewriting one part file of a directory fixture changes its stamp") {
    val dir = Files.createTempDirectory("graft-stamp-").toFile
    try {
      spark.range(0, 1000, 1, 2).write.parquet(new File(dir, "t.parquet").getPath)
      spark.range(0, 10, 1, 1).write.parquet(new File(dir, "u.parquet").getPath)
      def parts(name: String) = new File(dir, s"$name.parquet").listFiles
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val before = Catalog.stamp(spark, dir.getPath, "t")
      assert(before.length == parts("t").map(_.length).sum)
      assert(before.path == new File(dir, "t.parquet").getCanonicalPath)
      Files.copy(parts("u").head.toPath, parts("t").head.toPath,
        StandardCopyOption.REPLACE_EXISTING)
      val after = Catalog.stamp(spark, dir.getPath, "t")
      assert(after.path == before.path)
      assert(after != before, "a rewritten part file kept the directory's stamp")
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(dir)
  }
}
