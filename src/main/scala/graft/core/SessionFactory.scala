package graft.core

import org.apache.spark.sql.SparkSession

/** Single place all entry points (Verify, Bench, tests) build their
  * SparkSession, so correctness runs, benchmarks and specs agree on the
  * semantics-bearing config.
  *
  * The knobs mirror the reference harness's tuned settings
  * (reference: flink-dist conf/flink-conf-online.yaml:26-73 — parallelism 32,
  * blocking shuffle; TpcDsBatchExecITCase.scala:71-78 — join reorder +
  * subplan reuse on), re-expressed as their Spark equivalents. AQE stays on:
  * at 100 TB it is what converts static shuffle-partition guesses into
  * runtime-sized partitions, demotes shuffles to broadcasts when the built
  * side turns out small, and splits skewed join partitions.
  *
  * Five settings carry no semantics. Two exist so that a JVM compiles
  * each generated class once, as the reference's runtime compiles its
  * generated projections, comparators and equalisers once: a codegen
  * cache sized to the measured working set, and no per-session executor
  * classloader (see the comments at each). A rerun of a query in the same
  * SparkContext then compiles nothing. A new SparkContext brings a new
  * executor classloader, so it compiles its executor-side classes once
  * more; and the first run of a query compiles each whole-stage class
  * twice, once for WholeStageCodegenExec's compile check before the job
  * and once under the executor's classloader.
  *
  * The third sizes the chunks a broadcast is cut into below G1's
  * humongous-object threshold, as the reference's runtime works on
  * fixed-size memory segments rather than on buffers sized by a default:
  * every task binary and every broadcast-join build side is a broadcast,
  * and Spark's 4 MiB chunk, allocated whatever the payload, made each one
  * a short-lived humongous array that set the process's peak RSS.
  *
  * The last two name graft's local file systems ([[NioLocalFileSystem]],
  * [[NioLocalFs]]): Hadoop's own, without the native `libhadoop`, fork a
  * `chmod` for every file and directory they create and a `readlink` for
  * every `FileContext` rename; graft's make the same calls through
  * `java.nio.file`.
  */
object SessionFactory {

  def defaultParallelism: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def local(appName: String, cpus: String = defaultParallelism): SparkSession = {
    val builder = SparkSession.builder()
      // graft's SQL dialect and native functions in every session of
      // this context: spark.sql, view text and streaming clones included
      .withExtensions(new graft.GraftExtensions)
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts is parquet TIMESTAMP(NANOS) — no Spark type; read as long.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // decouple the shuffle-partition CEILING from the session default:
      // maps produce 128 partitions and AQE coalesces down to the advisory
      // size, so small inputs still run a handful of tasks while a large
      // shuffle keeps its reduce partitions sort-buffer-sized instead of
      // funneling into 32 oversized ones. The SF1 soak measured the value
      // on qds72's 344M-row inventory sort: ceiling 32 spilled 13 GB; 64/
      // 128/256 are all spill-free, and 128 was the fastest AND most
      // stable of the spill-free settings (51-63 s across fresh JVMs vs
      // 256's bimodal 65-183 s), while the sf0.1 full-set cost of any
      // ceiling is indistinguishable from 32 within session noise
      // (SCALE.md, scale/bench_ab.md). At cluster scale the same knob is
      // what lets one config serve sf0.001 specs and 100 TB runs.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "128")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let AQE re-size partitions on plans that feed a persist(): the
      // iterative operators (connected components, Lloyd training) cache a
      // small label/centroid relation each round, and without this flag
      // every cached round materializes the static shuffle-partition count
      // regardless of how little data survived — at any scale, the round
      // frame should be sized by AQE's runtime stats, not the session
      // constant
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // CBO join reorder parity with the reference bench knobs. Measured
      // cost at fixture scale: ~0.2-0.7 s extra per multi-relation query
      // (stats estimation + DP reorder in the planner) — a constant that
      // matters at sf0.1 and vanishes against 100 TB execution, where the
      // stats-driven order is what prevents fact-times-fact accidents
      // (CboSpec proves the reorder fires and answers are unchanged).
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "32m")
      // Spark's generated-class cache is one per JVM: a 100-entry LRU
      // keyed by (context classloader, code). Measured working set at
      // sf0.01: ANALYZE over the catalog compiles 95 classes, the first
      // pass of the 8 perfbench tpcds_power queries 133 and of the 8
      // stream_replay queries 143 — more than 100, so a pass evicted its
      // own classes and every later pass recompiled 95-131 of them. 1000
      // holds that working set with headroom: from the second pass on a
      // rerun compiles nothing (CodegenReuseSpec), and perfbench's median
      // tpcds_power query went from 0.63 to 0.45 s (10 run pairs, 4 cores).
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // Artifact isolation gives every session UUID its own executor
      // classloader, and each streaming query runs in a cloned session
      // with a fresh UUID — so the cache key above changed on every
      // AvailableNow replay and its executor-side classes were recompiled
      // on every run (q104: 24 compiles per rerun, 0 without isolation).
      // graft adds no session artifacts (no addArtifact, no ADD JAR, no
      // Spark Connect), so there is nothing to isolate.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // TorrentBroadcast cuts every broadcast into chunks of this size and
      // allocates a whole chunk however small the payload. Every stage's
      // task binary and every broadcast-join build side is a broadcast
      // (about 95 per perfbench tpcds_power pass), and G1 allocates an
      // array of half a region or more as a humongous object in regions
      // of its own: Spark's 4 MiB chunk took three 2 MiB regions under
      // perfbench's 3 GiB heap. A JFR allocation profile of one
      // tpcds_power run counted 621 such chunks, 2.4 of its 3.4 GiB of
      // allocations of 1 MiB or more, and those pages, not live data,
      // set the peak RSS. 256 KiB plus the array header stays under half
      // of G1's smallest (1 MiB) region, so no chunk is humongous at any
      // heap size (BroadcastChunkSpec); perfbench's median tpcds_power
      // peak RSS fell from 2.5 to 1.7 GiB (10 run pairs, 4 cores), with the
      // same plans.
      .config("spark.broadcast.blockSize", "256k")
      // Hadoop's local file system, without the native libhadoop, forks
      // `chmod` through Shell on every file create and mkdir and
      // `readlink` on every FileContext rename (the checkpoint file
      // manager's commits, the sinks' pointer flips): a JFR count found
      // 1,197 processes in one perfbench stream_replay run. These classes
      // do the same two calls through java.nio.file (falling back to
      // Hadoop's code where NIO cannot express them): the run forks 13,
      // and its median total_s fell 16% (10 run pairs, 4 cores).
      // LocalFilesSpec checks them against Hadoop's.
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    // dev-harness knob (audits/soaks only, never set by library users):
    // ';'-separated spark.* k=v pairs layered on top of the standard
    // config — e.g. the skewed-fixture soak scales the AQE skew thresholds
    // down to sandbox partition sizes the same way the ScaleSpec skew test
    // does
    val withExtra = sys.env.get("SPARK_GRAFT_EXTRA_CONF")
      .map(parseExtraConf(_).foldLeft(builder) { case (b, (k, v)) => b.config(k, v) })
      .getOrElse(builder)
    val spark = withExtra.getOrCreate()
    // opt-in rewrites (qds72 week-set filter; qds95 pair-exists → min/max):
    // always injected, each no-ops unless its spark.graft.* flag is set
    Seq(graft.plans.TransitiveSelfJoinFilter, graft.plans.PairExistsToMinMax)
      .foreach { rule =>
        if (!spark.experimental.extraOptimizations.contains(rule))
          spark.experimental.extraOptimizations =
            spark.experimental.extraOptimizations :+ rule
      }
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The settings in a `SPARK_GRAFT_EXTRA_CONF` value: `;`-separated
    * `key=value` entries, each key and value trimmed, empty entries
    * skipped. An entry without `=`, or whose key is not a `spark.` key,
    * throws and names the entry: a typo must not be dropped or set under
    * a key that nothing reads. */
  def parseExtraConf(value: String): Seq[(String, String)] =
    value.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { entry =>
      entry.split("=", 2) match {
        case Array(k, v) if k.trim.startsWith("spark.") => k.trim -> v.trim
        case Array(_, _) => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF entry '$entry': key is not a spark.* key")
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF entry '$entry' has no '='")
      }
    }
}
