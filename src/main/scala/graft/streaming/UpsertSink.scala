package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{DataType, StructType}

/** Keyed upsert sink — the reference's `UpsertStreamTableSink` contract
  * (reference: flink-table-api-java-bridge .../sinks/UpsertStreamTableSink.java:
  * setKeyFields + upsert/delete record stream), re-expressed as a
  * Structured Streaming `foreachBatch` merge: the sink directory always
  * exposes the latest row per key.
  *
  * Per micro-batch: collapse the batch to its latest row per key (by
  * `orderCols`, descending), anti-join the previous state on the keys,
  * union, write a fresh snapshot. Snapshots are versioned directories
  * (`v0`, `v1`, …) published by a `_current` pointer file that is flipped
  * with a single atomic rename — readers always resolve a complete
  * snapshot, before or after the flip, never a half-swapped directory;
  * the previous version is retained one generation for readers already
  * inside it. Production deployments on object stores without atomic
  * rename should back the same merge with a transactional table format,
  * exactly as the reference delegates storage atomicity to the sink's
  * backing system.
  *
  * Scale notes: the merge is one window (keep-last within the batch —
  * batch-sized, small) plus one anti-join against the state table keyed on
  * the upsert keys — the natural shuffle key. With `nBuckets = 1` the
  * whole state table is rewritten per batch under the snapshot protocol;
  * with `nBuckets > 1` the state is hash-partitioned on the keys and each
  * batch rewrites ONLY the buckets it touches, under the same
  * versioned-snapshot discipline: touched buckets stage into fresh
  * per-bucket version dirs (`b<i>/v<n>`), and a MANIFEST file mapping
  * every bucket to its current version is published by one atomic
  * `_manifest` pointer rename. A crash anywhere before the flip leaves
  * the old manifest — and therefore the complete old state — visible
  * (orphaned version dirs are reclaimed by the replay), and readers
  * always resolve a consistent all-bucket snapshot, so the bucketed path
  * has the same crash atomicity and snapshot isolation as the nBuckets=1
  * pointer swap; per-batch write volume stays proportional to touched
  * buckets, not total state.
  *
  * Each snapshot records the schema it was written with (a `_schema`
  * file inside the snapshot directory; a `schema=` line of the bucket
  * manifest), committed by the same pointer flip, and every read-back
  * uses it: Spark's schema inference runs a footer-reading job per read.
  * A layout written before the record existed is still read by
  * inference.
  */
object UpsertSink {

  /** Merge one batch into the keyed state table under `dir`. Exposed for
    * batch callers too: folding a bounded frame through it equals
    * keep-last dedup. */
  def mergeBatch(batch: DataFrame, keys: Seq[String], orderCols: Seq[String],
      dir: String, nBuckets: Int = 1): Unit = {
    require(keys.nonEmpty && orderCols.nonEmpty, "keys and orderCols required")
    require(nBuckets >= 1, s"nBuckets must be >= 1: $nBuckets")
    val spark = batch.sparkSession
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col(_).desc): _*)
    val latest = batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    if (nBuckets == 1) {
      val merged = readSnapshot(spark, dir) match {
        case Some(old) =>
          old.join(latest.select(keys.map(col): _*), keys, "left_anti")
            .unionByName(latest)
        case None => latest
      }
      writeSnapshot(merged, dir)
    } else {
      val fs = fileSystem(spark, dir)
      val bucketed = latest.withColumn("__bucket",
        pmod(hash(keys.map(col): _*), lit(nBuckets)))
      val mv = manifestVersion(spark, dir)
      val (manifest, schema) = manifestAt(spark, dir, mv)
      // ≤ nBuckets small integers reach the driver — bounded by
      // construction, independent of state or batch size
      val touched = bucketed.select(col("__bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val oldPaths = touched.filter(manifest.contains)
        .map(i => new Path(dir, s"b$i/v${manifest(i)}").toString)
      val merged =
        if (oldPaths.isEmpty) bucketed
        else readParquet(spark, schema, oldPaths)
          .withColumn("__bucket", pmod(hash(keys.map(col): _*), lit(nBuckets)))
          .join(bucketed.select(keys.map(col): _*), keys, "left_anti")
          .unionByName(bucketed)
      // stage the touched buckets, then move each into its next version
      // dir; nothing is visible until the manifest pointer flips below
      val stage = new Path(dir, "_stage")
      if (fs.exists(stage)) fs.delete(stage, true)
      merged.write.partitionBy("__bucket").parquet(stage.toString)
      val next = touched.map(i => i -> (manifest.getOrElse(i, -1) + 1)).toMap
      touched.foreach { i =>
        val dest = new Path(dir, s"b$i/v${next(i)}")
        // leftover from a crashed attempt that never published
        if (fs.exists(dest)) fs.delete(dest, true)
        fs.mkdirs(new Path(dir, s"b$i"))
        fs.rename(new Path(stage, s"__bucket=$i"), dest)
      }
      fs.delete(stage, true)
      publishManifest(spark, dir, mv + 1, manifest ++ next,
        StructType(merged.schema.filterNot(_.name == "__bucket")))
      // retain one generation per touched bucket for in-flight readers
      touched.foreach { i =>
        if (next(i) >= 2) fs.delete(new Path(dir, s"b$i/v${next(i) - 2}"), true)
      }
    }
  }

  private def manifestPointer(dir: String) = new Path(dir, "_manifest")

  /** Version of the committed bucket manifest, or -1 before any commit. */
  private[streaming] def manifestVersion(spark: SparkSession, dir: String): Int =
    readText(spark, manifestPointer(dir)).fold(-1)(_.trim.toInt)

  /** The committed bucket → version map (empty before any commit). */
  private[streaming] def readManifest(spark: SparkSession, dir: String): Map[Int, Int] =
    manifestAt(spark, dir, manifestVersion(spark, dir))._1

  /** Manifest `mv`'s bucket → version map and its recorded schema (none in
    * a manifest written before the record existed). */
  private def manifestAt(spark: SparkSession, dir: String,
      mv: Int): (Map[Int, Int], Option[String]) =
    if (mv < 0) (Map.empty, None)
    else {
      val lines = readText(spark, new Path(dir, s"manifest.v$mv"))
        .getOrElse(throw new IllegalStateException(
          s"_manifest under $dir names v$mv, whose manifest file is missing"))
        .linesIterator.filter(_.nonEmpty).toSeq
      val (schema, buckets) = lines.partition(_.startsWith(SchemaLine))
      (buckets.map { line =>
        val Array(b, v) = line.split(":", 2)
        b.toInt -> v.toInt
      }.toMap, schema.headOption.map(_.stripPrefix(SchemaLine)))
    }

  /** Write `manifest.v<mv>` (the bucket versions and the schema of the
    * bucket files) then flip the `_manifest` pointer with one atomic
    * rename; the previous manifest file is retained one generation. */
  private def publishManifest(spark: SparkSession, dir: String, mv: Int,
      entries: Map[Int, Int], schema: StructType): Unit = {
    val fs = fileSystem(spark, dir)
    val mfile = new Path(dir, s"manifest.v$mv")
    val out = fs.create(mfile, true)
    val lines = s"$SchemaLine${schema.json}" +:
      entries.toSeq.sorted.map { case (b, v) => s"$b:$v" }
    try out.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val tmp = new Path(dir, "_manifest.tmp")
    val pout = fs.create(tmp, true)
    try pout.write(mv.toString.getBytes(StandardCharsets.UTF_8))
    finally pout.close()
    FileContext.getFileContext(tmp.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, manifestPointer(dir), Options.Rename.OVERWRITE)
    if (mv >= 2) fs.delete(new Path(dir, s"manifest.v${mv - 2}"), false)
  }

  private def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A small metadata file's content, if it exists. */
  private def readText(spark: SparkSession, p: Path): Option[String] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** The schema record: a file inside each snapshot, a line of each
    * bucket manifest. */
  private val SchemaFile = "_schema"
  private val SchemaLine = "schema="

  /** Parquet files read with their recorded schema — no inference job —
    * or, without a record, by inference. */
  private def readParquet(spark: SparkSession, schema: Option[String],
      paths: Seq[String]): DataFrame =
    schema.map(DataType.fromJson(_).asInstanceOf[StructType])
      .fold(spark.read)(spark.read.schema).parquet(paths: _*)

  private def pointer(dir: String) = new Path(dir, "_current")

  /** Version the `_current` pointer names, or -1 before the first commit. */
  private[streaming] def currentVersion(spark: SparkSession, dir: String): Int =
    readText(spark, pointer(dir)).fold(-1)(_.trim.toInt)

  /** The committed snapshot directory, if any batch has committed. */
  private[streaming] def snapshotPath(spark: SparkSession, dir: String): Option[Path] = {
    val v = currentVersion(spark, dir)
    if (v < 0) None else Some(new Path(dir, s"v$v"))
  }

  /** The committed snapshot read with its recorded schema, if any batch
    * has committed. */
  private[streaming] def readSnapshot(spark: SparkSession,
      dir: String): Option[DataFrame] =
    snapshotPath(spark, dir).map(snap => readParquet(spark,
      readText(spark, new Path(snap, SchemaFile)), Seq(snap.toString)))

  /** Write a fresh versioned snapshot under `dir` and flip the `_current`
    * pointer with one atomic rename. `extraFiles` are small metadata files
    * committed INSIDE the snapshot directory before it is published (the
    * schema record and the retract sink's applied-batch marker ride here,
    * so they and the state commit together — no crash window between
    * them). The previous snapshot is retained one generation for
    * in-flight readers; older generations are deleted. Shared by the
    * upsert and retract sinks. */
  private[streaming] def writeSnapshot(merged: DataFrame, dir: String,
      extraFiles: Map[String, String] = Map.empty): Unit = {
    val spark = merged.sparkSession
    val fs = fileSystem(spark, dir)
    val prev = currentVersion(spark, dir)
    val next = prev + 1
    val snap = new Path(dir, s"v$next")
    // leftover from a crashed attempt that never published
    if (fs.exists(snap)) fs.delete(snap, true)
    merged.write.mode("overwrite").parquet(snap.toString)
    (extraFiles + (SchemaFile -> merged.schema.json)).foreach {
      case (name, content) =>
        val out = fs.create(new Path(snap, name), true)
        try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }
    val tmp = new Path(dir, "_current.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    FileContext.getFileContext(tmp.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, pointer(dir), Options.Rename.OVERWRITE)
    if (prev >= 1) fs.delete(new Path(dir, s"v${prev - 1}"), true)
  }

  /** Read a small metadata file from the committed snapshot, if present. */
  private[streaming] def readSnapshotFile(spark: SparkSession, dir: String,
      name: String): Option[String] =
    snapshotPath(spark, dir).flatMap(snap => readText(spark, new Path(snap, name)))

  /** Streaming writer maintaining the latest-row-per-key state under `dir`. */
  def upsertWriter(stream: DataFrame, keys: Seq[String],
      orderCols: Seq[String], dir: String, nBuckets: Int = 1,
      outputMode: String = "update"): DataStreamWriter[Row] =
    stream.writeStream
      // "append" when the upstream carries an Append-mode stateful
      // operator (Spark rejects update mode there); the merge reads the
      // micro-batch rows either way
      .outputMode(outputMode)
      .foreachBatch((batch: DataFrame, _: Long) =>
        mergeBatch(batch, keys, orderCols, dir, nBuckets))

  /** Read the sink's current state (empty-schema-safe only once a batch
    * has committed). Resolves the versioned-snapshot pointer when present
    * (nBuckets = 1 layout), else the committed bucket manifest; either
    * way with the recorded schema, so the read runs no Spark job. */
  def currentState(spark: SparkSession, dir: String): DataFrame =
    readSnapshot(spark, dir).getOrElse {
      val (manifest, schema) = manifestAt(spark, dir, manifestVersion(spark, dir))
      val paths = manifest.toSeq.sorted
        .map { case (b, v) => new Path(dir, s"b$b/v$v").toString }
      require(paths.nonEmpty, s"no committed snapshot or manifest under $dir")
      readParquet(spark, schema, paths)
    }
}
