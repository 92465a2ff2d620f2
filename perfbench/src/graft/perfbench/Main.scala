package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.core.{Catalog, PlanWalk, SessionFactory}
import graft.functions.GraftFunctions
import graft.operators.TpcDsLiteral

/** The benchmark's JVM side. It times calls into the engine's public entry
  * points and writes every span of the run, one JSON object a line, to
  * `--out`; `perfbench/run.py` derives the metrics from that file.
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <fixture dir> --out <span file>
  *   --workload digests   run every member of every workload once
  */
object Main {

  /** Set-up rounds per run; `setup_s` is their median. */
  val SetupRounds = 3
  /** Timed passes per run at least: enough samples for the tail rule to
    * reach above the median, and the same sample count on a host that is
    * faster than the one the workloads were sized on. */
  val MinPasses = 3
  /** Host probes per run; the calibration uses their median. */
  val ProbeRounds = 3
  /** Repetitions of each timed kernel call in a traced run. */
  val KernelReps = 3
  /** Copies of each `documents` row the kernels run over, so that a call
    * is kernel-bound rather than job-overhead-bound. */
  val KernelCopies = 100

  private lazy val queries = graft.SparkEntry.queries

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = o.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val dir = new File(req("data")).getAbsolutePath
    val tracer = new Tracer
    val out = new PrintWriter(req("out"), "UTF-8")
    try {
      if (req("workload") == "digests") digests(tracer, dir)
      else bench(tracer, Workloads(req("workload")), req("seed").toLong,
        req("seconds").toDouble, req("trace") == "1", dir)
      tracer.spans.sortBy(_.startNs).foreach(s => out.println(s.json))
    } finally out.close()
  }

  private def bench(t: Tracer, w: Workload, seed: Long, seconds: Double,
      traced: Boolean, dir: String): Unit = {
    val miss = Workloads.missing(w)
    require(miss.isEmpty, s"${w.name} names unknown queries: ${miss.mkString(", ")}")
    val runId = t.newId()
    val runAttrs = mutable.Map[String, Any]("workload" -> w.name, "seed" -> seed,
      "traced" -> traced)
    t.span("run", "run", 0L, 0L, runAttrs, runId) { _ =>
      var spark: SparkSession = null
      for (round <- 1 to SetupRounds) {
        if (spark != null) stop(spark)
        spark = setup(t, w, dir, round, runId)
      }
      t.span("warmup", "core", runId, 0L) { _ =>
        w.members.sorted.foreach(q => query(t, spark, dir, q, 0, 0L, traced = false))
      }
      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
      heap.foreach(_.resetPeakUsage())
      val order = Workloads.order(w, seed)
      val listeners = new Listeners(t, spark)
      val t0 = System.nanoTime()
      var pass = 0
      // whole passes until `seconds` have passed, at least MinPasses; a
      // traced run interleaves untraced and traced passes in blocks of
      // four (U T T U), so the tracing overhead is measured against passes
      // of the same JVM and a steady warm-up trend cancels out of it
      while (pass < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds ||
          (traced && pass % 4 != 0)) {
        pass += 1
        val tracedPass = traced && (pass % 4 == 2 || pass % 4 == 3)
        if (tracedPass) listeners.attach()
        runPass(t, spark, order, dir, pass, tracedPass, runId)
        if (tracedPass) listeners.detach()
      }
      val heapPeakMb = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
      if (traced) kernels(t, spark, dir, runId)
      val cMt = canaryMt(spark)
      val peakRssMb = vmHwmMb()
      stop(spark)
      // the host canary and probe run after the engine has stopped, so
      // that no work of the program can slow them
      System.gc()
      val cSt = canarySt()
      val probe = Seq.fill(ProbeRounds)(hostProbe())
      runAttrs ++= Map("passes" -> pass, "min_passes" -> MinPasses,
        "heap_peak_mb" -> heapPeakMb, "peak_rss_mb" -> peakRssMb,
        "canary_st" -> cSt, "canary_mt" -> cMt, "probe_s" -> probe,
        "cpus" -> SessionFactory.defaultParallelism,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
        "java" -> System.getProperty("java.version"))
    }
  }

  /** One set-up round: a fresh session (and SparkContext), then the
    * catalog and views the workload's queries read — for the others the
    * catalog step checks the fixtures against their pinned schemas. */
  private def setup(t: Tracer, w: Workload, dir: String, round: Int,
      parent: Long): SparkSession =
    t.span("setup", "core", parent, 0L, mutable.Map("round" -> round)) { id =>
      val spark = t.span("session", "core", id, 0L)(_ =>
        SessionFactory.local("perfbench"))
      t.span("catalog", "core", id, 0L)(_ =>
        if (w.tpcdsCatalog) Catalog.registerAnalyzed(spark, dir)
        else Catalog.assertFixtureSchemas(spark, dir))
      t.span("views", "core", id, 0L)(_ =>
        if (w.tpcdsCatalog) TpcDsLiteral.registerViews(spark, dir))
      spark
    }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def runPass(t: Tracer, spark: SparkSession, order: Seq[String],
      dir: String, pass: Int, traced: Boolean, parent: Long): Unit = {
    val attrs = mutable.Map[String, Any]("pass" -> pass, "traced" -> traced)
    val (gc0, jit0) = (gcMs(), jitMs())
    t.span("pass", "run", parent, 0L, attrs) { pid =>
      order.foreach(q => query(t, spark, dir, q, pass, pid, traced))
      attrs ++= Map("gc_s" -> (gcMs() - gc0) / 1e3, "jit_s" -> (jitMs() - jit0) / 1e3)
    }
  }

  /** Run one query as build (QueryDef.run), optimize (force the physical
    * plan) and execute (run it, folding the rows into a digest). A traced
    * query publishes its trace and phase span to the jobs it submits. */
  private def query(t: Tracer, spark: SparkSession, dir: String, name: String,
      pass: Int, parent: Long, traced: Boolean): Unit = {
    val sc = spark.sparkContext
    val attrs = mutable.Map[String, Any]("query" -> name, "pass" -> pass)
    val qid = t.newId()
    t.span("query", "run", parent, qid, attrs, qid) { _ =>
      def phase[T](name: String, layer: String)(f: => T): T =
        t.span(name, layer, qid, qid) { id =>
          if (traced) {
            sc.setLocalProperty(Listeners.TraceKey, qid.toString)
            sc.setLocalProperty(Listeners.SpanKey, id.toString)
          }
          f
        }
      try {
        val df = phase("build", "plans")(queries(name)(spark, dir))
        phase("optimize", "plans")(df.queryExecution.executedPlan)
        attrs("digest") = phase("execute", "operators")(Digest.ofExecuted(df))
        attrs("ok") = true
        if (traced) attrs ++= planFacts(df)
      } catch {
        case NonFatal(e) =>
          attrs("ok") = false
          attrs("error") = String.valueOf(e.getMessage).take(300)
      } finally if (traced) {
        sc.setLocalProperty(Listeners.TraceKey, null)
        sc.setLocalProperty(Listeners.SpanKey, null)
      }
    }
  }

  /** Join and exchange counts of the final (post-AQE) plan. */
  private def planFacts(df: DataFrame): Map[String, Any] = {
    val nodes = PlanWalk.distinctNodes(df.queryExecution.executedPlan)
    Map("bhj" -> nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      "smj" -> nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      "exchanges" -> nodes.count(_.isInstanceOf[Exchange]),
      "reused_exchanges" -> nodes.count(_.isInstanceOf[ReusedExchangeExec]))
  }

  /** Timed calls of the public Column kernels, each folded into a checksum
    * the query must return so that no call can be pruned. `functions.*_s`
    * is the median of KernelReps calls. */
  private def kernels(t: Tracer, spark: SparkSession, dir: String,
      parent: Long): Unit = {
    import GraftFunctions._
    // small cached bases, each row repeated KernelCopies times inside the
    // timed query: the copies cost one explode, the kernels do the work
    def copies(df: DataFrame): DataFrame =
      df.withColumn("copy", explode(sequence(lit(1), lit(KernelCopies))))
    val base = Catalog.load(spark, dir, "documents").select(col("doc_id"), col("text"))
      .localCheckpoint()
    val hsBase = base.select(col("doc_id"), shingleHashSet(col("text"), 5).as("hs"))
      .localCheckpoint()
    // each set against itself: the merge walks both arrays to the end
    val pairBase = hsBase.select(col("hs").as("x"), col("hs").as("y"))
    val (docs, hs, pairs) = (copies(base), copies(hsBase), copies(pairBase))
    // a fresh DataFrame per call: re-collecting one would reuse the
    // shuffle output its first execution left behind
    def fold(c: org.apache.spark.sql.Column) = sum(pmod(xxhash64(c), lit(1000003L)))
    Seq[(String, () => DataFrame)](
      "shingle_hash_set" -> (() => docs.select(fold(shingleHashSet(col("text"), 5)))),
      "minhash_sig96" -> (() => hs.select(fold(minHashSig96(col("hs"))))),
      "minhash_bands96" -> (() => hs.select(fold(minHashBands96(col("hs"), 16)))),
      "sorted_intersect_size" ->
        (() => pairs.select(sum(sortedIntersectSize(col("x"), col("y")).cast("long")))),
      "top_word_run" -> (() => docs.select(sum(topWordRun(col("text")).cast("long"))))
    ).foreach { case (name, df) =>
      (1 to KernelReps).foreach { rep =>
        val attrs = mutable.Map[String, Any]("rep" -> rep)
        t.span(name, "functions", parent, 0L, attrs)(_ =>
          attrs("checksum") = String.valueOf(df().collect().head.get(0)))
      }
    }
  }

  /** Run every member of every workload once and record its digest; the
    * expected-digest file is made from this. */
  private def digests(t: Tracer, dir: String): Unit = {
    val spark = SessionFactory.local("perfbench-digests")
    Catalog.registerAnalyzed(spark, dir)
    Workloads.all.flatMap(_.members).distinct.sorted.foreach(q =>
      query(t, spark, dir, q, 0, 0L, traced = false))
    stop(spark)
  }

  // fixed-work host canaries, the same work as graft.Bench: a
  // single-threaded arithmetic loop and a 400M-row Spark aggregate
  private val canarySink = new java.util.concurrent.atomic.AtomicLong
  private def xorshift(steps: Int, seed: Long): Long = {
    var x = seed
    var acc = 0L
    var i = 0
    while (i < steps) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    acc
  }
  private def canarySt(): Double = {
    val t0 = System.nanoTime()
    canarySink.addAndGet(xorshift(400000000, 0x9E3779B97F4A7C15L))
    (System.nanoTime() - t0) / 1e9
  }
  /** The host probe: the canary's loop on four threads at once, a quarter
    * of its steps each, so the slowest core sets its time. It touches no
    * engine code; perfbench/metrics.py scales the run's times by it. */
  private def hostProbe(): Double = {
    val t0 = System.nanoTime()
    val threads = (1 to 4).map(i =>
      new Thread(() => { canarySink.addAndGet(xorshift(100000000, i)); () }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
  private def canaryMt(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(400000000L).selectExpr("sum(id % 7)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Peak resident set size of this process (VmHWM), in MiB. */
  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
