package graft.streaming

import graft.SparkSpec
import graft.operators.{Funnel, MatchSql}

/** The SQL MATCH_RECOGNIZE front-end ([[MatchRecognizeSql.sqlDf]]) must
  * be a faithful compiler: every SQL-shape query returns bit-identical
  * rows to its programmatic-API twin over the same executor, and
  * unsupported grammar fails loudly at parse time. Inputs are the events'
  * five columns. */
class MatchRecognizeSqlSpec extends SparkSpec {

  private def events = graft.core.Catalog.load(spark, sf(), "events")
    .select("user_id", "event_id", "ts", "event_type", "value")

  test("SQL shapes are row-identical to their Scala-API twins") {
    val pairs = Seq(
      MatchSql.q125SqlFunnel -> Funnel.q89MatchRecognize,
      MatchSql.q126SqlPrev -> Funnel.q96PrevDefine,
      MatchSql.q127SqlReluctant -> Funnel.q98ReluctantMatch,
      MatchSql.q128SqlNext -> Funnel.q99NextDefine,
      MatchSql.q129SqlSkipNext -> Funnel.q111SkipToNextRow,
      MatchSql.q130SqlAllRows -> Funnel.q113AllRows)
    pairs.foreach { case (sqlDef, apiDef) =>
      val got = rows(sqlDef.run(spark, sf()))
      val want = rows(apiDef.run(spark, sf()))
      assert(got == want, s"${sqlDef.name} != ${apiDef.name}")
      assert(got.nonEmpty, s"${sqlDef.name} returned no rows")
    }
  }

  test("SQL and API twins share the same column names") {
    assert(MatchSql.q125SqlFunnel.run(spark, sf()).columns.toSeq ==
      Funnel.q89MatchRecognize.run(spark, sf()).columns.toSeq)
  }

  test("WITHIN bounds a match's event-time span from its first row") {
    // fixture sessions span days; a tight WITHIN must prune matches
    val all = MatchRecognizeSql.sqlDf(events,
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  MEASURES A.event_id AS view_id, C.event_id AS purchase_id
        |  ONE ROW PER MATCH
        |  PATTERN (A B+ C)
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |         C AS event_type = 'purchase'
        |)""".stripMargin).count()
    val tight = MatchRecognizeSql.sqlDf(events,
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  MEASURES A.event_id AS view_id, C.event_id AS purchase_id
        |  ONE ROW PER MATCH
        |  PATTERN (A B+ C) WITHIN INTERVAL '1' SECOND
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |         C AS event_type = 'purchase'
        |)""".stripMargin).count()
    assert(tight < all, s"WITHIN '1' SECOND must prune ($tight vs $all)")
  }

  test("SKIP TO FIRST/LAST variable parses and runs") {
    val df = MatchRecognizeSql.sqlDf(events,
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES FIRST(B.event_id) AS first_click, C.event_id AS p_id
        |  AFTER MATCH SKIP TO LAST B
        |  PATTERN (A B+ C)
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |         C AS event_type = 'purchase'
        |)""".stripMargin)
    assert(df.columns.toSeq == Seq("user_id", "first_click", "p_id"))
    df.collect()
  }

  test("unsupported grammar fails loudly at parse time") {
    def bad(sql: String, fragment: String): Unit = {
      val e = intercept[Exception](MatchRecognizeSql.sqlDf(events, sql))
      assert(e.getMessage.contains(fragment),
        s"error '${e.getMessage}' should mention '$fragment'")
    }
    // unknown field: Spark's analyzer names the column
    bad("""MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
          |PATTERN (A) DEFINE A AS price > 5)""".stripMargin,
      "UNRESOLVED_COLUMN")
    bad("""MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
          |PATTERN (A) DEFINE A AS price > 5)""".stripMargin,
      "`price`")
    // a function outside the surface fails and names itself
    bad("""MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
          |PATTERN (A) DEFINE A AS STDDEV(A.value) > 1)""".stripMargin,
      "stddev")
    bad("""MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
          |PATTERN (A)
          |DEFINE A AS ROW_NUMBER() OVER (ORDER BY ts) > 1)""".stripMargin,
      "row_number")
    // navigation and aggregate arguments stay row-level over one variable
    bad("""MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
          |MEASURES LAST(A.value + B.value) AS x PATTERN (A B))""".stripMargin,
      "references multiple pattern variables")
    bad("""MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
          |MEASURES SUM(LAST(A.value)) AS x PATTERN (A))""".stripMargin,
      "row-level expression")
    // DEFINE of a variable the PATTERN does not name
    bad("""MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
          |PATTERN (A) DEFINE Z AS value > 0)""".stripMargin,
      "not a PATTERN variable")
    // a MEASURE referencing a variable the PATTERN does not name
    bad("""MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
          |MEASURES Z.event_id AS x PATTERN (A))""".stripMargin,
      "not a PATTERN variable")
    // malformed bounded quantifier still fails loudly (the reluctant
    // {n,m}? form itself parses since r14 — MatchRecognizeAnySpec)
    bad("""MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
          |PATTERN (A{3,2} B))""".stripMargin,
      "invalid bounded quantifier")
    // navigation nesting
    bad("""MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
          |MEASURES FIRST(LAST(A.value)) AS x PATTERN (A))""".stripMargin,
      "cannot nest")
    // PREV/NEXT in MEASURES is served since r15 (MatchRecognizeAnySpec);
    // nesting navigation inside it still fails loudly
    bad("""MATCH_RECOGNIZE (PARTITION BY user_id ORDER BY ts
          |MEASURES PREV(NEXT(value)) AS x PATTERN (A))""".stripMargin,
      "cannot nest")
  }

  test("cross-variable DEFINE references and PREV offsets > 1 now " +
      "evaluate (batch)") {
    // B's DEFINE references A's binding (LAST(A.value)) and a 2-deep
    // physical PREV — the round-9 front-end rejected both (reference
    // grammar: MatchRecognizeITCase.scala:178-182 `LAST(A.name, 2)`)
    val df = MatchRecognizeSql.sqlDf(events,
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  MEASURES A.event_id AS a_id, B.event_id AS b_id,
        |           LAST(A.value) AS a_value
        |  ONE ROW PER MATCH
        |  PATTERN (A B)
        |  DEFINE A AS event_type = 'view',
        |         B AS value > LAST(A.value) AND PREV(value, 2) IS NOT NULL
        |)""".stripMargin)
    val got = df.collect()
    assert(got.nonEmpty)
    // every match's B row value exceeds its A row value by construction
    assert(df.columns.toSeq == Seq("user_id", "a_id", "b_id", "a_value"))
  }

  test("MEASURES under ALL ROWS PER MATCH carry RUNNING semantics") {
    val df = MatchRecognizeSql.sqlDf(events,
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  MEASURES MATCH_NUMBER() AS mno, CLASSIFIER() AS cls,
        |           COUNT(*) AS pos_running
        |  ALL ROWS PER MATCH
        |  PATTERN (A B+ C)
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |         C AS event_type = 'purchase'
        |)""".stripMargin)
    val got = df.collect()
    assert(got.nonEmpty)
    // output = input columns + measures
    assert(df.columns.toSeq == Seq("user_id", "event_id", "ts",
      "event_type", "value", "mno", "cls", "pos_running"))
    // RUNNING COUNT(*) is the row's 1-based position within its match:
    // per (user_id, mno) the positions are 1..n and the classifier
    // sequence is A, B+, C
    got.groupBy(r => (r.getLong(0), r.getLong(5))).foreach {
      case (_, rows) =>
        val sorted = rows.sortBy(_.getLong(7))
        assert(sorted.map(_.getLong(7)).toSeq == (1L to sorted.length).toSeq)
        assert(sorted.head.getString(6) == "A")
        assert(sorted.last.getString(6) == "C")
        assert(sorted.drop(1).dropRight(1).forall(_.getString(6) == "B"))
    }
  }

  test("string escapes and numeric literals in DEFINE evaluate correctly") {
    val df = MatchRecognizeSql.sqlDf(events,
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  MEASURES A.event_id AS eid, A.value AS v
        |  PATTERN (A)
        |  DEFINE A AS event_type <> 'view' AND value >= 50.0
        |)""".stripMargin)
    val got = df.collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getDouble(2) >= 50.0))

    import spark.implicits._
    // BIGINT literals compare exactly: 2^53 and 2^53 + 1 are one double
    val big = Seq((1L, 9007199254740992L, 1), (1L, 9007199254740993L, 2))
      .toDF("k", "id", "ord")
    val exact = MatchRecognizeSql.sqlDf(big,
      """MATCH_RECOGNIZE (PARTITION BY k ORDER BY ord
        |MEASURES A.id AS id PATTERN (A)
        |DEFINE A AS id = 9007199254740993)""".stripMargin)
    assert(rows(exact) == Seq(Seq[Any](1L, 9007199254740993L)), rows(exact))

    // string literals follow Spark's lexer: \' escapes a quote, and \ is
    // LIKE's default escape character — through sqlDf and the front door
    Seq((1L, "it's", 1), (1L, "a_b", 2), (1L, "axb", 3), (1L, "a\\_b", 4))
      .toDF("k", "name", "ord").createOrReplaceTempView("mr_names")
    def matched(cond: String): (Set[Int], Set[Int]) = {
      val clause = s"""MATCH_RECOGNIZE (PARTITION BY k ORDER BY ord
                      |MEASURES A.ord AS o PATTERN (A)
                      |DEFINE A AS $cond)""".stripMargin
      (MatchRecognizeSql.sqlDf(spark.table("mr_names"), clause)
        .select("o").as[Int].collect().toSet,
        graft.Sql.sql(spark, s"SELECT o FROM mr_names $clause")
          .as[Int].collect().toSet)
    }
    assert(matched("""name = 'it\'s'""") == ((Set(1), Set(1))))
    assert(matched("""name LIKE 'a\_b'""") == ((Set(2), Set(2))))
  }

  test("integer division by zero in DEFINE fails loudly, not as NULL") {
    // Calcite/Flink raise on integral /0; a silent NULL would quietly
    // un-match the predicate instead of surfacing the bad expression
    val df = MatchRecognizeSql.sqlDf(events,
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  MEASURES A.event_id AS eid
        |  PATTERN (A)
        |  DEFINE A AS event_id / 0 > 1
        |)""".stripMargin)
    val e = intercept[Throwable](df.collect())
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    // Spark's DIVIDE_BY_ZERO message capitalises "Division"
    assert(chain(e).exists(c => c.isInstanceOf[ArithmeticException] &&
      c.getMessage.toLowerCase.contains("division by zero")),
      s"expected an ArithmeticException in the cause chain, got $e")
  }
}
