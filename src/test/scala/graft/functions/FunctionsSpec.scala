package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Specs for the gap scalar functions: SQL names (injected into every
  * session by graft.GraftExtensions), codegen'd HASH_CODE parity with
  * Java String.hashCode, and null/edge semantics (reference
  * SqlFunctionUtils.java behaviors). */
class FunctionsSpec extends SparkSpec {

  test("registered SQL names evaluate like the Column API") {
    val r = spark.sql(
      """SELECT split_index('a,b,c', ',', 1) AS si,
        |  split_index('a,b,c', ',', 9) AS si_oob,
        |  keyvalue('k1=v1&k2=v2', '&', '=', 'k2') AS kv,
        |  is_decimal('-12.5') AS d1, is_decimal('x5') AS d2,
        |  is_digit('0042') AS g1, is_digit('4 2') AS g2,
        |  is_alpha('Spark') AS a1, is_alpha('Spark4') AS a2,
        |  hash_code('spark') AS hc""".stripMargin).head()
    assert(r.getString(0) == "b")
    assert(r.isNullAt(1))
    assert(r.getString(2) == "v2")
    assert(r.getBoolean(3) && !r.getBoolean(4))
    assert(r.getBoolean(5) && !r.getBoolean(6))
    assert(r.getBoolean(7) && !r.getBoolean(8))
    assert(r.getInt(9) == "spark".hashCode)
  }

  test("JavaHashCode expression matches JVM hashCode on fixture text") {
    import spark.implicits._
    val docs = graft.core.Catalog.load(spark, sf(), "documents")
      .select(col("text"), GraftFunctions.hashCode(col("text")).as("hc"))
      .as[(String, Int)].collect()
    assert(docs.nonEmpty)
    docs.foreach { case (text, hc) => assert(hc == text.hashCode) }
  }

  test("JavaHashCode rejects non-string input at analysis time") {
    import spark.implicits._
    val df = Seq(1, 2).toDF("x")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(GraftFunctions.hashCode(col("x"))).collect()
    }
  }

  test("splitIndex quotes regex metacharacters in the separator") {
    import spark.implicits._
    val r = Seq("a|b|c").toDF("s")
      .select(GraftFunctions.splitIndex(col("s"), "|", 1)).head().getString(0)
    assert(r == "b")
  }

  test("gap-function edge semantics: empties, signs, first-kvSep, non-ASCII") {
    val r = spark.sql(
      """SELECT split_index('a,,c', ',', 1) AS empty_field,
        |  split_index('a,b,', ',', 2) AS trailing_empty,
        |  split_index('abc', 'x', 0) AS no_sep,
        |  keyvalue('a=b=c&d=e', '&', '=', 'a') AS first_kv,
        |  keyvalue('a=b', '&', '=', 'zz') AS missing_key,
        |  keyvalue('ab=c', '&', '=', 'a') AS prefix_not_key,
        |  is_decimal('+.5') AS dec_sign_frac, is_decimal('5.') AS dec_trail_dot,
        |  is_decimal('.') AS dec_dot_only, is_decimal('+') AS dec_sign_only,
        |  is_decimal('') AS dec_empty, is_decimal(CAST(NULL AS STRING)) AS dec_null,
        |  is_alpha('abä') AS alpha_non_ascii,
        |  is_digit('１２') AS digit_fullwidth""".stripMargin).head()
    assert(r.getString(0) == "")
    assert(r.getString(1) == "")
    assert(r.getString(2) == "abc")
    assert(r.getString(3) == "b=c", "value is everything after the FIRST kvSep")
    assert(r.isNullAt(4))
    assert(r.isNullAt(5), "key must match the whole text before the kvSep")
    assert(r.getBoolean(6) && r.getBoolean(7))
    assert(!r.getBoolean(8) && !r.getBoolean(9) && !r.getBoolean(10))
    assert(!r.getBoolean(11), "SQL is_decimal(NULL) keeps the false contract")
    assert(!r.getBoolean(12), "non-ASCII letters are not IS_ALPHA")
    assert(!r.getBoolean(13), "full-width digits are not IS_DIGIT")
  }

  test("q32 runs the native expressions - no ScalaUDF anywhere in its plan") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    val df = graft.SparkEntry.queries("q32_hash_gap_fns")(spark, sf("sf0.001"))
    df.collect()
    val plans = planNodes(df.queryExecution.executedPlan)
    val udfs = plans.flatMap(_.expressions).flatMap(_.collect { case u: ScalaUDF => u })
    assert(udfs.isEmpty, s"boxed UDFs in the q32 plan: $udfs")
    val native = plans.flatMap(_.expressions).flatMap(_.collect {
      case e: SplitIndex => e.prettyName
      case e: KeyValue => e.prettyName
      case e: IsDecimal => e.prettyName
      case e: IsDigit => e.prettyName
      case e: IsAlpha => e.prettyName
      case e: JavaHashCode => e.prettyName
    }).toSet
    assert(native == Set("split_index", "keyvalue", "is_decimal", "is_digit",
      "is_alpha", "hash_code"), s"native gap expressions in plan: $native")
  }

  test("top_word_run: max word frequency, SQL name and Column API agree") {
    import spark.implicits._
    val df = Seq(
      (1L, "x y x z x y w"), // x: 3
      (2L, "a b c d"),       // all distinct: 1
      (3L, "q q q q"),       // 4
      (4L, ""),              // split -> [""]: one empty word, run 1
      (5L, null.asInstanceOf[String])
    ).toDF("id", "text")
    df.createOrReplaceTempView("twr")
    val viaCol = df.select($"id",
      GraftFunctions.topWordRun($"text").as("r")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val viaSql = spark.sql("SELECT id, top_word_run(text) AS r FROM twr")
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val expected = Map(1L -> 3L, 2L -> 1L, 3L -> 4L, 4L -> 1L, 5L -> -1L)
    assert(viaCol == expected)
    assert(viaSql == expected)
  }
}
