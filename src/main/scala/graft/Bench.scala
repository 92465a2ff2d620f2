package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Queries to run for an arg: no arg → full set; `--names=a,b` → exactly
    * those (isolated-child invocation); anything else → name-prefix filter
    * (dev iteration). The driver passes no args and benches the full set. */
  private[graft] def selected(arg: String): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    if (arg.isEmpty) all
    else if (arg.startsWith("--names="))
      arg.stripPrefix("--names=").split(',').toSeq.filter(all.contains)
    else all.filter(_.startsWith(arg))
  }

  /** Machine-speed canary (round-9 drift adjudication,
    * scale/bench_r9_adjudication.md): the same binary measured 330 s vs
    * 403 s full-session totals on an idle machine in different rounds —
    * host-level throughput variance exceeding the old ±8% envelope. Every
    * bench line now carries two fixed-work timings taken OUTSIDE the
    * timed region: a single-threaded JVM arithmetic loop (`canary_st`)
    * and a 32-way Spark codegen aggregate (`canary_mt`). Round-over-round
    * comparisons normalize by these: a total shift matched by a canary
    * shift is host drift; one the canary cannot explain is a regression. */
  @volatile private var canarySink: Long = 0L
  private def canarySt(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 400000000) { // fixed work: 400M xorshift steps
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    canarySink = acc
    (System.nanoTime() - t0) / 1e9
  }
  private def canaryMt(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(400000000L).selectExpr("sum(id % 7)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (args.headOption.contains("--isolated")) {
      isolated(sfDir, if (args.length > 1) args(1).toInt else 16)
      return
    }
    val names = selected(if (args.length > 0) args(0) else "")
    val spark = graft.core.SessionFactory.local("graft-bench")
    val cSt = canarySt()
    val cMt = canaryMt(spark)
    // absorb session/codegen/reader init outside the timed region: the
    // fact-table scan+agg warms the vectorized parquet reader, whole-stage
    // codegen and JIT so the first measured query pays its own cost, not
    // the JVM's cold start
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    graft.core.Catalog.load(spark, sfDir, "lineitem")
      .selectExpr("sum(l_quantity)", "count(distinct l_returnflag)",
        // decimal aggregation has its own codegen+JIT paths (long-backed
        // and BigDecimal-backed buffers) — warm both
        "sum(cast(l_extendedprice as decimal(18,2)))",
        "sum(cast(l_extendedprice as decimal(12,2)))").collect()
    // catalog DDL + ANALYZE is one-time session setup (the reference
    // harness likewise registers its tables + stats before the timed
    // run), not part of any query's cost
    graft.core.Catalog.registerAnalyzed(spark, sfDir)
    // so are the TPC-DS adapter's generated tables, written once per JVM:
    // otherwise whichever literal query runs first pays for them
    if (names.exists(graft.operators.TpcDsLiteral.defs.map(_.name).toSet))
      graft.operators.TpcDsLiteral.registerViews(spark, sfDir)
    val timed = names.map { name =>
      val fn = SparkEntry.queries(name)
      // isolate queries from each other's heap garbage: a full collection
      // here keeps allocation-heavy queries (decimal aggs, wide sorts)
      // from paying the GC debt of whatever ran before them
      System.gc()
      val t0 = System.nanoTime()
      // toRdd executes the query's own physical plan; a plain count()
      // would let Catalyst prune the projected expressions and
      // under-measure function-heavy queries
      val ok = try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
      catch { case _: Throwable => false }
      (name, (System.nanoTime() - t0) / 1e9, ok)
    }
    val line = resultJson(timed, sfDir, Some((cSt, cMt)))
    println(line)
    val full = writeFullLine(line, sfDir)
    println(compactJson(timed, sfDir, Some((cSt, cMt)), full))
    spark.stop()
  }

  /** A <2000-char summary printed as the LAST metric line (r16 verdict
    * #3): the driver's wrapper keeps only the final ~2000 chars of the
    * bench output, and the 318-entry full line above is wider than that
    * — its opening brace is truncated away, so `BENCH_r10..r16` all
    * record `parsed: null` and the driver can compute no totals. This
    * line restores a parseable record (total, n, the first
    * [[compactFailedCap]] failed names with the full count in
    * `failed_n`, canaries, and the full-line path when `full` names a
    * file [[writeFullLine]] wrote). It ADDS a line and changes no
    * measurement: the full per-query line is still printed first.
    * `queries` is intentionally empty here — the complete map cannot fit
    * in the wrapper's window; consumers needing per-query data read
    * `full`. The caps keep the line bounded for ANY failure count. */
  private[graft] def compactJson(timed: Seq[(String, Double, Boolean)],
      sfDir: String, canary: Option[(Double, Double)],
      full: Option[String]): String = {
    val total = timed.collect { case (_, v, true) => v }.sum
    val failedNames = timed.collect { case (k, _, false) => k }
    val failed = failedNames.take(compactFailedCap)
      .map(k => s"\"" + k + "\"").mkString("[", ",", "]")
    val fullField = full.fold("")(f => s""""full":"$f",""")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":{},""" +
      s""""n":${timed.size},"failed":$failed,""" +
      s""""failed_n":${failedNames.size},${canaryFields(canary)}""" +
      s"""$fullField"sf":"$sfDir"}"""
  }

  /** Failed names the compact line lists before eliding to `failed_n`. */
  private[graft] val compactFailedCap = 20

  /** A timing in seconds to 3dp. Locale.ROOT: the JVM default locale
    * may write a decimal comma (`0,900`), which is not JSON. */
  private def sec3(x: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, x)

  private def canaryFields(canary: Option[(Double, Double)]): String =
    canary.map { case (st, mt) =>
      s""""canary_st":${sec3(st)},"canary_mt":${sec3(mt)},"""
    }.getOrElse("")

  /** The driver's wrapper truncates the metric line to its last 2000
    * chars; persist the complete line so every field (canaries included)
    * is recoverable from a committed artifact regardless of wrapper
    * behavior. Best-effort: a bench run outside the repo root skips it.
    * Returns the per-sf file's path when it was written. */
  private def writeFullLine(line: String, sfDir: String): Option[String] =
    try {
      val dir = new java.io.File("scale")
      if (!dir.isDirectory) None
      else {
        // per-sf file too, so a later smoke run at another scale factor
        // cannot clobber the round's sf0.1 evidence
        val perSf = s"bench_full_${new java.io.File(sfDir).getName}.json"
        Seq("bench_full_latest.json", perSf).foreach { f =>
          val w = new java.io.PrintWriter(new java.io.File(dir, f))
          try w.println(line) finally w.close()
        }
        Some(s"scale/$perSf")
      }
    } catch { case _: Throwable => None }

  private[graft] def resultJson(timed: Seq[(String, Double, Boolean)],
      sfDir: String, canary: Option[(Double, Double)] = None,
      blockCanaries: Seq[(Double, Double)] = Nil): String = {
    // a failed query reports -1.0 (not its elapsed-until-failure time) and
    // is excluded from the total, so failures are visible in the JSON
    val qs = timed.map { case (k, v, ok) =>
      s"\"" + k + "\":" + (if (ok) v else -1.0)
    }.mkString("{", ",", "}")
    val failed = timed.collect { case (k, _, false) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = timed.collect { case (_, v, true) => v }.sum
    // per-block canaries (isolated mode): the isolated protocol is the
    // regression detector, and host drift BETWEEN blocks is the one place
    // it could still masquerade as per-query change — each child's
    // fixed-work timings make every block individually normalizable
    val blocks =
      if (blockCanaries.isEmpty) ""
      else {
        val sts = blockCanaries.map(c => sec3(c._1)).mkString("[", ",", "]")
        val mts = blockCanaries.map(c => sec3(c._2)).mkString("[", ",", "]")
        s""""block_canary_st":$sts,"block_canary_mt":$mts,"""
      }
    // canaries go AFTER the query map: the driver's bench wrapper keeps
    // only the last 2000 chars of this line, and the 272-entry query map
    // is far wider than that — fields in front of it are truncated away
    // (round-10 verdict "What's wrong" #4 lost r10's canary stamps)
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,${canaryFields(canary)}$blocks"sf":"$sfDir"}"""
  }

  /** Isolated-run protocol (round-7 verdict #6): per-query numbers from one
    * long-lived session carry ~2× noise — JIT state, GC debt and broadcast
    * cleanup from the 250 queries that ran before leak into each
    * measurement (COVERAGE.md "Bench-variance diagnosis": qds64 6.34 s in
    * session vs 3.51 s isolated). This mode forks one fresh JVM per block
    * of `blockSize` queries, so a query's number carries at most
    * (blockSize-1) predecessors, and merges the children's JSON into the
    * same one-line shape. Not the driver's default: 16 extra JVM+session
    * cold starts (~20 s each) buy cleaner numbers, a trade for variance
    * analysis, not for the round gate. */
  private def isolated(sfDir: String, blockSize: Int): Unit = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    val classes = new java.io.File("target/scala-2.13/classes")
    val cp =
      if (classes.isDirectory) s"${classes.getPath}:/opt/spark/jars/*"
      else sys.props("java.class.path") // plain-java invocation: inherit
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val blocks = all.grouped(blockSize).toSeq
    val blockCanaries = Seq.newBuilder[(Double, Double)]
    val merged = blocks.zipWithIndex.flatMap { case (block, i) =>
      val cmd = Seq(javaBin, "-Xmx24g",
        "--add-exports", "java.base/sun.nio.ch=ALL-UNNAMED",
        "-cp", cp, "graft.Bench", s"--names=${block.mkString(",")}")
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      // Spark logs arrive on the child's stderr in volume; send them to a
      // file so the child can never block on a full stderr pipe while the
      // parent waits for stdout
      val log = new java.io.File(s"target/bench-isolated-block$i.log")
      log.getParentFile.mkdirs()
      pb.redirectError(ProcessBuilder.Redirect.to(log))
      val proc = pb.start()
      val outLines = scala.io.Source.fromInputStream(proc.getInputStream)
        .getLines().toList
      proc.waitFor()
      // A child that dies without emitting JSON (OOM, crash) must not
      // abort the run and discard every other block's measurements: its
      // queries are reported failed (-1.0) in the merged JSON instead.
      outLines.find(_.startsWith("""{"metric"""")) match {
        case Some(line) =>
          System.err.println(
            s"[bench-isolated] block ${i + 1}/${blocks.size} done")
          parseCanary(line).foreach(blockCanaries += _)
          parseQueries(line)
        case None =>
          System.err.println(s"[bench-isolated] block ${i + 1}/${blocks.size}" +
            s" produced no bench JSON (exit ${proc.exitValue()}, log: $log)" +
            " — marking its queries failed")
          block.map(q => (q, -1.0))
      }
    }
    val timed = merged.map { case (k, v) => (k, v, v >= 0) }
    val cans = blockCanaries.result()
    // top-level canary = per-block median, so round-over-round isolated
    // comparisons normalize the same way session-mode ones do
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    val med =
      if (cans.isEmpty) None
      else Some((median(cans.map(_._1)), median(cans.map(_._2))))
    val line = resultJson(timed, sfDir, med, cans)
    println(line)
    val full = writeFullLine(line, sfDir)
    println(compactJson(timed, sfDir, med, full))
  }

  /** Extract a child's canary fields, if present. */
  private[graft] def parseCanary(json: String): Option[(Double, Double)] = {
    val re = """"canary_st":([0-9.]+),"canary_mt":([0-9.]+)""".r
    re.findFirstMatchIn(json).map(m => (m.group(1).toDouble, m.group(2).toDouble))
  }

  /** Minimal parse of a child's `"queries":{...}` map — names are known
    * identifiers (no quotes/braces inside), so a split is sufficient. */
  private[graft] def parseQueries(json: String): Seq[(String, Double)] = {
    val body = json.split("\"queries\":\\{")(1).split("\\}")(0)
    if (body.isEmpty) Seq.empty
    else body.split(',').toSeq.map { kv =>
      val Array(k, v) = kv.split(':')
      (k.replace("\"", ""), v.toDouble)
    }
  }
}
