package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkSpec

/** Seeded randomized sweep: on many generated datasets — random key
  * cardinality, null rate, duplicate timestamps, full order-key ties —
  * every general-schema executor's batch collapse must agree with the
  * independent native plan (Spark's own WindowExec / hash aggregate)
  * row for row. The fixed-fixture specs pin each path once; this sweep
  * guards the envelope: tie handling, null skipping, empty partitions,
  * frame boundaries at random sizes. Seeds are FIXED (no run-to-run
  * flake); widening the seed list is the knob. */
class ExecutorPropertySpec extends SparkSpec {

  /** Random rows: (k grp, ts with heavy duplication, v nullable double,
    * d nullable decimal, id unique). */
  private def gen(seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val nKeys = 1 + rnd.nextInt(6)
    val n = 50 + rnd.nextInt(300)
    val nullEvery = 2 + rnd.nextInt(5)
    (0 until n).map { i =>
      val ts = new Timestamp(60000L * rnd.nextInt(40)) // heavy ts ties
      val v: java.lang.Double =
        if (rnd.nextInt(nullEvery) == 0) null
        else java.lang.Double.valueOf((rnd.nextInt(2000) - 1000) / 100.0)
      (s"k${rnd.nextInt(nKeys)}", ts, v, i.toLong)
    }.toDF("grp", "ts", "v", "id")
      .withColumn("d", col("v").cast(DecimalType(10, 2)))
  }

  private def multisetEqual(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("OVER executor vs native WindowExec: ROWS / UNBOUNDED / RANGE " +
    "frames agree on random data with nulls and timestamp ties") {
    for (seed <- 1 to 8) {
      val df = gen(seed).cache()
      val frame = seed % 4 match {
        case 0 => "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        case 1 => s"ROWS BETWEEN ${1 + seed} PRECEDING AND CURRENT ROW"
        case 2 => "RANGE BETWEEN INTERVAL '5' MINUTE PRECEDING AND CURRENT ROW"
        case 3 => "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
      }
      // RANGE frames order on the single timestamp (heavy ties exercise
      // SQL peer semantics); ROWS add the unique id so the executor's
      // fold order is well-defined under ts ties
      val order = if (seed % 4 >= 2) "ts" else "ts, id"
      val sql =
        s"""SELECT grp, id,
           |  COUNT(v) OVER w AS cnt_v,
           |  ROUND(SUM(v) OVER w, 4) AS sum_v,
           |  MIN(v) OVER w AS min_v,
           |  MAX(v) OVER w AS max_v,
           |  SUM(d) OVER w AS sum_d
           |FROM ep_over
           |WINDOW w AS (PARTITION BY grp ORDER BY $order $frame)""".stripMargin
      val exec = WindowSql.sqlDf(df, sql, batchNative = false)
      val native = WindowSql.sqlDf(df, sql, batchNative = true)
      assert(multisetEqual(exec, native),
        s"seed=$seed frame=$frame: executor disagrees with WindowExec")
      // the statement text is its own oracle: Spark's evaluation of the
      // identical SQL over the same rows
      df.createOrReplaceTempView("ep_over")
      assert(multisetEqual(exec, spark.sql(sql)),
        s"seed=$seed frame=$frame: executor disagrees with spark.sql")
      df.unpersist()
    }
  }

  test("rank executor vs native WindowGroupLimit plan: top-n / dedup / " +
    "k-th agree on random data with order-key ties") {
    for (seed <- 1 to 6) {
      val df = gen(seed + 100).cache()
      val n = 1 + seed % 4
      // primary order key 'v' carries ties AND nulls; unique id tiebreak
      // makes the final order well-defined on both paths
      val keys = Seq(("v", seed % 2 == 0), ("id", true))
      val exec = RankOps.rankRows(df, Seq("grp"), keys, n)
      val native = RankOps.rankRowsBatchNative(df, Seq("grp"), keys, n)
      assert(multisetEqual(exec, native), s"seed=$seed n=$n topn")
      // the same shape as SQL text, through the executor and through
      // spark.sql: the statement is its own oracle
      val filter = if (seed % 3 == 0) s"rn = $n" else s"rn <= $n"
      val sql =
        s"""SELECT * FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
           |    ORDER BY v ${if (keys.head._2) "ASC" else "DESC"}, id) AS rn
           |  FROM ep_rank)
           |WHERE $filter""".stripMargin
      df.createOrReplaceTempView("ep_rank")
      assert(multisetEqual(WindowSql.sqlDf(df, sql, batchNative = false),
        spark.sql(sql)), s"seed=$seed $filter: executor disagrees with spark.sql")
      df.unpersist()
    }
  }

  test("count-tumble executor vs native chunked aggregate agree on " +
    "random data (decimal values: bit-identical sums)") {
    for (seed <- 1 to 6) {
      val df = gen(seed + 200).cache()
      val size = 2 + seed % 5
      val exec = CountWindows.countTumble(df, Seq("grp"), Seq("ts", "id"),
        size, "d", "id")
      val native = CountWindows.countTumbleBatchNative(df, Seq("grp"),
        Seq("ts", "id"), size, "d", "id")
      assert(multisetEqual(exec, native), s"seed=$seed size=$size")
      df.unpersist()
    }
  }

  test("window-agg executor (batch collapse) vs native windowed hash " +
    "aggregate agree on random data: counts/extrema/distinct exact, " +
    "decimal sums bit-identical") {
    import graft.streaming.OverAggregates.Agg
    for (seed <- 1 to 6) {
      val df = gen(seed + 300).cache()
      val mins = 2 + seed % 7
      val win = java.time.Duration.ofMinutes(mins)
      val exec = WindowAggAny.earlyLateFireWindowAgg(df, Seq("grp"), "ts",
        Seq("id"), win,
        Seq(Agg("COUNT", None, "n"), Agg("COUNT", Some("v"), "nv"),
          Agg("MIN", Some("v"), "mn"), Agg("MAX", Some("v"), "mx"),
          Agg("SUM", Some("d"), "sd"),
          Agg("COUNT", Some("v"), "dv", distinct = true)))
        .select(col("grp"), col("w_start_us"), col("n"), col("nv"),
          col("mn"), col("mx"), col("sd").cast("string").as("sd"),
          col("dv"))
      val native = df.groupBy(window(col("ts"), s"$mins minutes"), col("grp"))
        .agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
          min(col("v")).as("mn"), max(col("v")).as("mx"),
          sum(col("d")).cast(DecimalType(38, 2)).as("sd"),
          countDistinct(col("v")).as("dv"))
        .select(col("grp"), unix_micros(col("window.start")).as("w_start_us"),
          col("n"), col("nv"), col("mn"), col("mx"),
          col("sd").cast("string").as("sd"), col("dv"))
      assert(multisetEqual(exec, native), s"seed=$seed window=${mins}m")
      df.unpersist()
    }
  }

  test("general temporal join (batch collapse) vs the independent " +
    "AsOfJoin rewrite agree on random data with heavy timestamp ties") {
    import spark.implicits._
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed + 400)
      val nKeys = 1 + rnd.nextInt(5)
      def rows(n: Int) = (0 until n).map { i =>
        (s"k${rnd.nextInt(nKeys)}",
          new Timestamp(60000L * rnd.nextInt(30)), // heavy ts ties
          i.toLong, (rnd.nextInt(2000) - 1000) / 100.0)
      }
      val facts = rows(80).toDF("k", "ts", "fid", "amount").cache()
      val dims = rows(40).toDF("k", "ts", "ver", "rate").cache()
      val exec = TemporalJoinAny.temporalJoin(facts, dims,
        keyCols = Seq("k"), tsCol = "ts", dimVerCols = Seq("ver"),
        factTieBreak = Seq("fid"))
        .select(col("fid"), col("dim_ver"), col("dim_rate"))
      val native = graft.operators.AsOfJoin.asOfJoin(facts, dims,
        key = "k", leftTs = "ts", rightTs = "ts", rightTieBreak = "ver",
        valueCols = Seq("ver", "rate"))
        .select(col("fid"), col("ver").as("dim_ver"),
          col("rate").as("dim_rate"))
      assert(multisetEqual(exec, native), s"seed=$seed temporal join")
      facts.unpersist(); dims.unpersist()
    }
  }

  test("DISTINCT aggregates in bounded OVER frames (the r13 incremental " +
    "count-map) vs an independent lateral-join recompute on random data") {
    // WindowExec rejects distinct windows, so the independent plan is a
    // per-row lateral re-aggregation over the same ROWS frame
    for (seed <- 1 to 6) {
      val df = gen(seed + 500).cache()
      val w = 1 + (seed + 1) % 5
      val sql =
        s"""SELECT grp, id,
           |  COUNT(DISTINCT v) OVER w AS dv,
           |  SUM(DISTINCT d) OVER w AS sdd
           |FROM t
           |WINDOW w AS (PARTITION BY grp ORDER BY ts, id
           |             ROWS BETWEEN $w PRECEDING AND CURRENT ROW)""".stripMargin
      val exec = WindowSql.sqlDf(df, sql)
        .withColumn("sdd", col("sdd").cast("string"))
      df.createOrReplaceTempView("ep_distinct")
      val native = spark.sql(
        s"""WITH s AS (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY ts, id) AS rn
           |  FROM ep_distinct)
           |SELECT a.grp, a.id, f.dv, CAST(f.sdd AS STRING) AS sdd
           |FROM s a, LATERAL (
           |  SELECT COUNT(DISTINCT b.v) AS dv, SUM(DISTINCT b.d) AS sdd
           |  FROM s b
           |  WHERE b.grp = a.grp AND b.rn BETWEEN a.rn - $w AND a.rn) f""".stripMargin)
      assert(multisetEqual(exec, native), s"seed=$seed width=$w distinct")
      df.unpersist()
    }
  }

  test("MATCH_RECOGNIZE DEFINE and MEASURES mean what the same text means " +
    "in SELECT: the same rows, values and types on random data with nulls") {
    import spark.implicits._
    // conditions over the current row: (MATCH_RECOGNIZE text, SELECT text)
    val conds = Seq("i > 3", "l % 7 = 2 OR l IS NULL", "d * 2 < i",
      "dec + 1.5 > 2.25", "s LIKE 's%1' OR s = 's3'",
      "t >= TIMESTAMP '2024-01-01 12:00:00'",
      "coalesce(i, 0) + coalesce(l, 0) > 10",
      "CASE WHEN s = 's1' THEN i ELSE l END > 0",
      "NOT (i IS NULL) AND d IS NULL").map(c => (c, c)) :+
      ("i / 3 = 1" -> "i div 3 = 1") // integral `/` divides integrally
    // measures over A's row: (MATCH_RECOGNIZE text, SELECT text)
    val measures = Seq("A.i + A.l", "A.dec * 2 + 0.5", "A.dec / 4", "A.d / 2",
      "CASE WHEN A.s = 's1' THEN A.t END", "coalesce(A.dec, A.d)", "A.t",
      "concat(A.s, 'x')", "A.l - A.i * 2").map(m => (m, m.replace("A.", ""))) :+
      ("A.i / 3" -> "i div 3")
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      def maybe[T](v: => T): Option[T] = if (rnd.nextInt(5) == 0) None else Some(v)
      (0 until 80).map { k =>
        (k.toLong, maybe(rnd.nextInt(20) - 5), maybe(rnd.nextInt(2000) - 1000L),
          maybe(rnd.nextInt(2000) / 100.0 - 5), maybe(BigDecimal(rnd.nextInt(900)) / 100),
          maybe(s"s${rnd.nextInt(5)}"),
          maybe(new Timestamp(1704067200000L + rnd.nextInt(48) * 3600000L)))
      }.toDF("ord", "i", "l", "d", "dec", "s", "t")
        .withColumn("dec", col("dec").cast(DecimalType(10, 2)))
        .createOrReplaceTempView("ep_mr")
      val t = spark.table("ep_mr")
      conds.foreach { case (mr, sel) =>
        val got = MatchRecognizeSql.sqlDf(t,
          s"MATCH_RECOGNIZE (ORDER BY ord MEASURES A.ord AS ord PATTERN (A) " +
            s"DEFINE A AS $mr)").as[Long].collect().toSet
        val want = spark.sql(s"SELECT ord FROM ep_mr WHERE $sel")
          .as[Long].collect().toSet
        assert(got == want, s"seed=$seed DEFINE A AS $mr")
      }
      val got = MatchRecognizeSql.sqlDf(t,
        "MATCH_RECOGNIZE (ORDER BY ord MEASURES A.ord AS ord, " +
          measures.zipWithIndex.map { case ((m, _), k) => s"$m AS m$k" }
            .mkString(", ") + " PATTERN (A))").orderBy("ord")
      val want = spark.sql("SELECT ord, " +
        measures.zipWithIndex.map { case ((_, m), k) => s"$m AS m$k" }
          .mkString(", ") + " FROM ep_mr").orderBy("ord")
      assert(got.schema.map(_.dataType) == want.schema.map(_.dataType),
        s"seed=$seed types ${got.schema} vs ${want.schema}")
      assert(rows(got) == rows(want), s"seed=$seed MEASURES values")
    }
  }
}
