package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogStatistics
import org.apache.spark.sql.types._

/** Explicit catalog over the driver-generated parquet fixtures.
  *
  * The reference registers fixed, explicit schemas per table
  * (reference: flink-table-planner-blink .../table/tpc/TpcDsSchemaProvider.scala:50-669);
  * we do the same with [[StructType]]s — no schema inference on the hot path.
  * Schemas below were pinned from the parquet footers of
  * /root/testdata/sf0.001 (TESTDATA.md) and must match them exactly.
  */
object Catalog {

  /** All fixture tables, one parquet file each under `<sfDir>/<name>.parquet`. */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  val schemas: Map[String, StructType] = Map(
    "region" -> StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
    "supplier" -> StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("p_brand", StringType),
      StructField("p_type", StringType),
      StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
    // events.ts is parquet timestamp[us] in the current fixtures. Earlier
    // fixture generations wrote TIMESTAMP(NANOS) (read as a nanos-long under
    // spark.sql.legacy.parquet.nanosAsLong=true); [[load]] reads the footer
    // once per directory and normalizes either encoding to TimestampType,
    // so downstream code always sees a true microsecond timestamp — the
    // unit can never silently drift again (FIXTURES.md:14).
    "events" -> StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType))),
    "documents" -> StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType))),
    "embeddings" -> StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** One generation of a fixture file: its canonical path, its length
    * and its modification time. A directory-layout fixture (a directory
    * of part files) stamps as its files' summed length and latest mtime,
    * so rewriting any part file is a new generation. Read through
    * Hadoop's `FileSystem`, so a non-local fixture stamps too. */
  final case class Stamp(path: String, length: Long, mtime: Long)

  def stamp(spark: SparkSession, dir: String, name: String): Stamp = {
    val p = new Path(path(dir, name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val (length, mtime) =
      if (st.isFile) (st.getLen, st.getModificationTime)
      else {
        val files = fs.listFiles(p, true)
        var (len, latest) = (0L, 0L)
        while (files.hasNext) {
          val f = files.next()
          len += f.getLen
          latest = math.max(latest, f.getModificationTime)
        }
        (len, latest)
      }
    val q = fs.makeQualified(p)
    Stamp(if (fs.getScheme == "file") new java.io.File(q.toUri).getCanonicalPath
      else q.toString, length, mtime)
  }

  /** Footer-inferred schema per fixture file generation ([[stamp]]), so a
    * fixture regenerated IN PLACE while a session runs reads its fresh
    * footer instead of the stale cached one — exactly the silent-drift
    * scenario [[assertFixtureSchemas]] exists to catch. Schema inference
    * on a single parquet file is a metadata-only read (no row groups
    * touched). Stale generations stay in the map; the handful of fixture
    * files makes that leak irrelevant. */
  private val footerSchemas =
    scala.collection.concurrent.TrieMap.empty[Stamp, StructType]

  def footerSchema(spark: SparkSession, dir: String, name: String): StructType =
    footerSchemas.getOrElseUpdate(stamp(spark, dir, name),
      spark.read.parquet(path(dir, name)).schema)

  /** What a table's statistics depend on: its fixture file's generation,
    * its name and DDL, the columns analyzed and the session settings that
    * shape statistics (histograms on, their bins, NDV error, percentile
    * accuracy). */
  private final case class StatsKey(file: Stamp, table: String, ddl: String,
      columns: Seq[String], settings: Seq[String])

  /** Statistics per [[StatsKey]], each computed by one ANALYZE in this
    * JVM; read and written only inside [[registerAnalyzed]], under this
    * object's lock. No eviction: a JVM sees a handful of fixture
    * generations. */
  private val analyzedStats =
    scala.collection.mutable.Map.empty[StatsKey, CatalogStatistics]

  /** Fail fast when a fixture file's footer does not match the pinned
    * catalog schema (names, order, types — timestamp unit included). The
    * one sanctioned divergence is `events.ts` as a nanos-long (older
    * fixture generations), which [[load]] normalizes. Anything else means
    * the driver regenerated the fixtures with a different shape and every
    * downstream result would be silently wrong — so throw with the
    * observed-vs-expected schemas instead (FIXTURES.md:14). */
  def assertFixtureSchemas(spark: SparkSession, dir: String): Unit =
    tableNames.foreach { n =>
      val actual = footerSchema(spark, dir, n)
      val pinned = schemas(n)
      // two sanctioned normalizations, both unit-preserving:
      //  - parquet isAdjustedToUTC=false infers as TimestampNTZType; the
      //    session runs in UTC, so NTZ and LTZ carry identical instants
      //    and the catalog pins plain TimestampType
      //  - events.ts as a nanos-long (older fixture generations), which
      //    [[load]] converts to TimestampType
      val normalized = StructType(actual.map { f =>
        val ntz =
          if (f.dataType == TimestampNTZType) f.copy(dataType = TimestampType)
          else f
        if (n == "events" && ntz.name == "ts" && ntz.dataType == LongType)
          ntz.copy(dataType = TimestampType)
        else ntz
      })
      val obs = normalized.map(f => (f.name, f.dataType))
      val exp = pinned.map(f => (f.name, f.dataType))
      if (obs != exp) throw new IllegalStateException(
        s"""Fixture schema drift in ${path(dir, n)}:
           |  observed: ${actual.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}
           |  expected: ${pinned.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}
           |The driver regenerated the fixtures with a different shape; update
           |graft.core.Catalog.schemas to match the new footer.""".stripMargin)
    }

  /** Read one fixture table with its pinned schema (column pruning + filter
    * pushdown reach the vectorized parquet scan; verified via
    * `.explain("formatted")` — `PushedFilters`/`ReadSchema`).
    *
    * `events` is unit-adaptive: the footer decides whether `ts` arrives as
    * timestamp[us] (current fixtures — read directly) or TIMESTAMP(NANOS)
    * (older generations — surfaces as a nanos-long, converted here with
    * integral division; a double roundtrip would lose precision at ~1e18).
    * Downstream always sees TimestampType. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events" &&
        footerSchema(spark, dir, name)("ts").dataType == LongType) {
      val rawSchema = StructType(schemas(name).map(f =>
        if (f.name == "ts") f.copy(dataType = LongType) else f))
      spark.read.schema(rawSchema).parquet(path(dir, name))
        .withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
        .select(schemas(name).fieldNames.map(org.apache.spark.sql.functions.col): _*)
    } else
      spark.read.schema(schemas(name)).parquet(path(dir, name))
  }

  /** Register every fixture as a temp view so `spark.sql` queries see the
    * same names the DuckDB oracle uses. Temp views carry size-only
    * statistics — use [[registerAnalyzed]] on any path where the
    * cost-based optimizer should see row counts. */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    invalidateAdapterViews(spark)
    tableNames.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
  }

  /** Memoization markers for the TPC-DS / TPC-H adapter-view registrars
    * (r16 optimization): each literal query used to rebuild its full
    * adapter view set (24 DataFrame view plans / 4 SQL view parses) per
    * call inside the timed region. The registrars now skip when their
    * marker still names the same fixture; any call that drops or
    * re-registers fixture-name temp views (the adapters shadow `customer`
    * etc.) MUST route through here so a stale skip can never resolve a
    * clobbered view. */
  private[graft] val adapterViewMarkers =
    Seq("graft.views.tpcds.dir", "graft.views.tpch.dir")
  private[graft] def invalidateAdapterViews(spark: SparkSession): Unit =
    adapterViewMarkers.foreach(spark.conf.unset)

  /** Wide text-payload columns excluded from column-level statistics:
    * NDV/min/max over multi-KB strings is the expensive part of ANALYZE
    * (it dominates the whole-catalog pass) and never steers the planner —
    * payload columns are not join keys or selective filters. At 100 TB
    * the same rule holds: analyze the key/dimension columns, skip the
    * document bodies. */
  private val statsExclude: Map[String, Set[String]] = Map(
    "documents" -> Set("text"),
    "events" -> Set("props"))

  /** Columns ANALYZE computes column-level statistics for: scalar types
    * only (embeddings.embedding is an array — table-level stats only),
    * minus the wide payload columns above. */
  private def statsColumns(table: String, schema: StructType): Seq[String] = {
    val excluded = statsExclude.getOrElse(table, Set.empty)
    schema.fields.collect {
      case f if !f.dataType.isInstanceOf[ArrayType] &&
        !f.dataType.isInstanceOf[MapType] &&
        !f.dataType.isInstanceOf[StructType] &&
        !excluded.contains(f.name) => f.name
    }.toSeq
  }

  /** The ANALYZE statement of fixture `name`, registered as `table`. */
  private[graft] def analyzeSql(name: String, table: String): String = {
    val cols = statsColumns(name, schemas(name))
    s"ANALYZE TABLE $table COMPUTE STATISTICS" +
      (if (cols.isEmpty) "" else s" FOR COLUMNS ${cols.mkString(", ")}")
  }

  /** Register every fixture as an ANALYZED catalog table.
    *
    * Spark's cost-based join reorder (`spark.sql.cbo.joinReorder.enabled`,
    * on in [[SessionFactory]] for parity with the reference bench knobs —
    * reference: flink-table-planner-blink .../tpc/TpcDsBatchExecITCase.scala:71-72
    * turns join reorder on for the whole TPC-DS run) only fires when every
    * item of a multi-join carries a rowCount statistic, and filter/join
    * selectivity estimation additionally needs per-column NDV/min/max —
    * the same catalog statistics that feed the reference's metadata
    * handlers (reference: PB/plan/metadata/FlinkRelMdRowCount.scala et al).
    * Path-based temp views carry size-only stats, so with [[registerAll]]
    * those two config lines are inert; this variant creates external
    * parquet tables and runs `ANALYZE TABLE … COMPUTE STATISTICS FOR
    * COLUMNS …` so the join graphs of SQL queries over the fixture
    * tables (the TPC-H corpus, `CboSpec`) get cost-based ordering — on a
    * 100 TB catalog this is the difference between a dimension-first
    * plan and a fact-times-fact accident. The TPC-DS literal texts do
    * not: they read the adapter's views (`TpcDsLiteral.registerViews`),
    * path-based relations with size-only statistics, so their plans are
    * the same with or without this call.
    *
    * Every SQL query entry point calls this, so it registers only what
    * the context's catalog does not already hold: a table is left alone
    * when its location, schema and statistics are those this call would
    * install, and is otherwise created again. Its statistics are computed
    * once per JVM — the reference likewise builds its catalog once, before
    * the timed queries — and kept in [[analyzedStats]] under a
    * [[StatsKey]]: the fixture file's [[stamp]], the table name and DDL,
    * the analyzed columns and the session settings that shape statistics.
    * A later session or SparkContext then creates the table and installs
    * the kept `CatalogStatistics`, running no Spark job; a rewritten
    * fixture file or a changed setting is analyzed again.
    */
  def registerAnalyzed(spark: SparkSession, dir: String): Unit = synchronized {
    assertFixtureSchemas(spark, dir)
    // older fixture generations store events.ts as TIMESTAMP(NANOS) → a
    // nanos-long; the SQL path then reads a raw table and exposes the
    // normalizing projection as the `events` temp view (stats propagate
    // through the project, so the CBO still sees row counts)
    val eventsNanos = footerSchema(spark, dir, "events")("ts").dataType == LongType
    // fixture-name temp views are dropped below — adapter view sets that
    // shadow those names are no longer resolvable afterwards
    invalidateAdapterViews(spark)
    val catalog = spark.sessionState.catalog
    val conf = spark.sessionState.conf
    val settings = Seq(conf.histogramEnabled, conf.histogramNumBins,
      conf.ndvMaxError, conf.percentileAccuracy).map(_.toString)
    tableNames.foreach { n =>
      // a temp view (e.g. registerAll in this session) would shadow the
      // catalog table and silently starve the planner of statistics
      spark.catalog.dropTempView(n)
      val (table, ddl) =
        if (n == "events" && eventsNanos)
          ("events__raw", StructType(schemas(n).map(f =>
            if (f.name == "ts") f.copy(dataType = LongType) else f)).toDDL)
        else (n, schemas(n).toDDL)
      val ident = TableIdentifier(table)
      val location = new Path(path(dir, n))
      val fs = location.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cols = statsColumns(n, schemas(n))
      val key = StatsKey(stamp(spark, dir, n), table, ddl, cols, settings)
      val kept = analyzedStats.get(key)
      val current =
        if (catalog.tableExists(ident)) Some(catalog.getTableMetadata(ident)) else None
      val registered = kept.isDefined && current.exists(t =>
        fs.makeQualified(new Path(t.location)) == fs.makeQualified(location) &&
          t.schema.toDDL == ddl && t.stats == kept)
      if (!registered) {
        spark.sql(s"DROP TABLE IF EXISTS $table")
        spark.sql(
          s"CREATE TABLE $table ($ddl) USING parquet LOCATION '${path(dir, n)}'")
        kept match {
          case Some(stats) => catalog.alterTableStats(ident, Some(stats))
          case None =>
            spark.sql(analyzeSql(n, table))
            analyzedStats(key) = catalog.getTableMetadata(ident).stats.get
        }
      }
    }
    if (eventsNanos) spark.sql(
      """CREATE OR REPLACE TEMP VIEW events AS
        |SELECT event_id, timestamp_micros(ts DIV 1000) AS ts, user_id,
        |       event_type, value, props
        |FROM events__raw""".stripMargin)
  }
}

/** Convenience handle: one object per scale-factor directory. */
final case class Tables(spark: SparkSession, dir: String) {
  def t(name: String): DataFrame = Catalog.load(spark, dir, name)
  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")
  def events: DataFrame = t("events")
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")
}
