package graft.streaming

import graft.SparkSpec

/** Top-level (encoder-friendly) ticker row for the streaming
  * general-schema tests. */
case class MrTick(sym: String, price: Int, id: Long,
    rowtime: java.sql.Timestamp)

/** The general-schema SQL MATCH_RECOGNIZE entry ([[MatchRecognizeSql
  * .sqlDf]]) must reproduce the REFERENCE's own IT-case queries —
  * verbatim clause text, the IT case's literal data, the IT case's
  * expected rows (reference: flink-table-planner-blink
  * stream/sql/MatchRecognizeITCase.scala; `proctime` ordering is
  * represented by an explicit arrival-order column, which carries the
  * same ordering semantics on a bounded input). */
class MatchRecognizeAnySpec extends SparkSpec {

  import spark.implicits._

  test("reference testCodeSplits shape: composite PARTITION BY, " +
      "LIKE, cross-variable LAST(A.name, 2) IS NULL " +
      "(MatchRecognizeITCase.scala:169-183)") {
    val t = Seq(
      (1, "a", "key1", "second_key3", 1),
      (2, "b", "key1", "second_key3", 2),
      (3, "c", "key1", "second_key3", 3),
      (4, "d", "key", "second_key", 4),
      (5, "e", "key", "second_key", 5),
      (6, "a", "key2", "second_key4", 6),
      (7, "b", "key2", "second_key4", 7),
      (8, "c", "key2", "second_key4", 8),
      (9, "f", "key", "second_key", 9)
    ).toDF("id", "name", "key1", "key2", "ord")
    val got = MatchRecognizeSql.sqlDf(t,
      """SELECT * FROM MyTable MATCH_RECOGNIZE (
        |  PARTITION BY key1, key2
        |  ORDER BY ord
        |  MEASURES
        |    A.id AS aid,
        |    A.key1 AS akey1,
        |    LAST(B.id) AS bid,
        |    C.id AS cid,
        |    C.key2 AS ckey2
        |  PATTERN (A B C)
        |  DEFINE
        |    A AS name = 'a' AND key1 LIKE '%key%' AND id > 0,
        |    B AS name = 'b' AND LAST(A.name, 2) IS NULL,
        |    C AS name = 'c' AND LAST(A.name) = 'a'
        |) AS T""".stripMargin)
    assert(got.columns.toSeq ==
      Seq("key1", "key2", "aid", "akey1", "bid", "cid", "ckey2"))
    // the reference's expected rows (":183"):
    //   key1,second_key3,1,key1,2,3,second_key3
    //   key2,second_key4,6,key2,7,8,second_key4
    val want = Set(
      Seq[Any]("key1", "second_key3", 1, "key1", 2, 3, "second_key3"),
      Seq[Any]("key2", "second_key4", 6, "key2", 7, 8, "second_key4"))
    assert(rows(got).toSet == want, rows(got).toString)
  }

  test("reference testLogicalOffsets: partitionless DOWN{2,} UP with " +
      "LAST(DOWN.price, 1) / FIRST(DOWN.price) and arithmetic " +
      "measures (MatchRecognizeITCase.scala:371-415)") {
    val ticker = Seq(
      ("ACME", 1L, 19, 1, 1), ("ACME", 2L, 17, 2, 2),
      ("ACME", 3L, 13, 3, 3), ("ACME", 4L, 20, 4, 4),
      ("ACME", 5L, 20, 5, 5), ("ACME", 6L, 26, 6, 6),
      ("ACME", 7L, 20, 7, 7), ("ACME", 8L, 25, 8, 8)
    ).toDF("symbol", "tstamp", "price", "tax", "ord")
    val got = MatchRecognizeSql.sqlDf(ticker,
      """SELECT * FROM Ticker MATCH_RECOGNIZE (
        |  ORDER BY ord
        |  MEASURES
        |    FIRST(DOWN.tstamp) AS start_tstamp,
        |    LAST(DOWN.tstamp) AS bottom_tstamp,
        |    UP.tstamp AS end_tstamp,
        |    FIRST(DOWN.price + DOWN.tax + 1) AS bottom_total,
        |    UP.price + UP.tax AS end_total
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (DOWN{2,} UP)
        |  DEFINE
        |    DOWN AS price < LAST(DOWN.price, 1) OR LAST(DOWN.price, 1) IS NULL,
        |    UP AS price < FIRST(DOWN.price)
        |) AS T""".stripMargin)
    // the reference expects EXACTLY one match, "6,7,8,33,33" — a
    // backtracking-greedy matcher would also accept (1,2,3) by
    // re-shortening the 19,17,13 run; the possessive Times quantifier
    // reproduces the reference's NFA
    assert(rows(got) == Seq(Seq[Any](6L, 7L, 8L, 33L, 33L)), rows(got).toString)
  }

  test("reference testLogicalOffsetsWithStarVariable: bare-field " +
      "(universal-variable) FIRST/LAST offsets " +
      "(MatchRecognizeITCase.scala:421-476)") {
    val ticker = Seq(
      (1, "ACME", 1L, 20, 1), (2, "ACME", 2L, 19, 2),
      (3, "ACME", 3L, 18, 3), (4, "ACME", 4L, 17, 4),
      (5, "ACME", 5L, 16, 5), (6, "ACME", 6L, 15, 6),
      (7, "ACME", 7L, 14, 7), (8, "ACME", 8L, 20, 8)
    ).toDF("id", "symbol", "tstamp", "price", "ord")
    val got = MatchRecognizeSql.sqlDf(ticker,
      """SELECT * FROM Ticker MATCH_RECOGNIZE (
        |  ORDER BY ord
        |  MEASURES
        |    FIRST(id, 0) AS id0, FIRST(id, 3) AS id3, FIRST(id, 7) AS id7,
        |    LAST(id, 0) AS id8, LAST(id, 3) AS id11, LAST(id, 7) AS id15
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (DOWN{2,} UP)
        |  DEFINE
        |    DOWN AS price < LAST(price, 1) OR LAST(price, 1) IS NULL,
        |    UP AS price = FIRST(price) AND price > FIRST(price, 3)
        |        AND price = LAST(price, 7)
        |) AS T""".stripMargin)
    // one match binding all 8 rows; FIRST(id, k) walks forward from the
    // match start, LAST(id, k) backward from its end
    assert(rows(got) == Seq(Seq[Any](1, 4, 8, 8, 5, 1)), rows(got).toString)
  }

  test("ORDER BY direction is honored (DESC changes the matched run)") {
    val t = Seq((1L, 1, "x"), (2L, 2, "x"), (3L, 3, "x"))
      .toDF("k", "ord", "tag")
    def q(dir: String) = MatchRecognizeSql.sqlDf(t,
      s"""MATCH_RECOGNIZE (
         |  ORDER BY ord $dir
         |  MEASURES FIRST(A.k) AS first_k, LAST(A.k) AS last_k
         |  PATTERN (A{3})
         |  DEFINE A AS k > 0
         |)""".stripMargin)
    assert(rows(q("ASC")) == Seq(Seq[Any](1L, 3L)))
    assert(rows(q("DESC")) == Seq(Seq[Any](3L, 1L)))
  }

  test("{n} and {n,m} bounded quantifiers bind possessively") {
    val t = (1 to 6).map(i => (i, "e")).toDF("id", "tag")
    // {2}: exactly two rows per match, greedy scan -> 3 disjoint matches
    val exact = MatchRecognizeSql.sqlDf(t,
      """MATCH_RECOGNIZE (ORDER BY id
        |MEASURES FIRST(A.id) AS a, LAST(A.id) AS b
        |PATTERN (A{2}) DEFINE A AS id > 0)""".stripMargin)
    assert(rows(exact).toSet ==
      Set(Seq[Any](1, 2), Seq[Any](3, 4), Seq[Any](5, 6)))
    // {2,4}: possessive max-4 then rest
    val ranged = MatchRecognizeSql.sqlDf(t,
      """MATCH_RECOGNIZE (ORDER BY id
        |MEASURES FIRST(A.id) AS a, LAST(A.id) AS b, COUNT(A.*) AS n
        |PATTERN (A{2,4}) DEFINE A AS id > 0)""".stripMargin)
    assert(rows(ranged).toSet ==
      Set(Seq[Any](1, 4, 4L), Seq[Any](5, 6, 2L)))
    // {2,4}? (r14): reluctant — shortest in-range binding, so a
    // trailing reluctant range chunks the run into pairs
    val rel = MatchRecognizeSql.sqlDf(t,
      """MATCH_RECOGNIZE (ORDER BY id
        |MEASURES FIRST(A.id) AS a, LAST(A.id) AS b, COUNT(A.*) AS n
        |PATTERN (A{2,4}?) DEFINE A AS id > 0)""".stripMargin)
    assert(rows(rel).toSet ==
      Set(Seq[Any](1, 2, 2L), Seq[Any](3, 4, 2L), Seq[Any](5, 6, 2L)),
      rows(rel).toString)
    // reluctant range EXTENDS only when the continuation demands it:
    // B requires id = 5, so A{2,4}? stretches past its minimum to 4 rows
    val relExt = MatchRecognizeSql.sqlDf(t,
      """MATCH_RECOGNIZE (ORDER BY id
        |MEASURES FIRST(A.id) AS a, LAST(A.id) AS b, B.id AS bid
        |PATTERN (A{2,4}? B) DEFINE A AS id > 0, B AS id = 5)""".stripMargin)
    assert(rows(relExt) == Seq(Seq[Any](1, 4, 5)), rows(relExt).toString)
  }

  test("r14 STREAMING reluctant bounded tail {2,3}? commits at the " +
      "minimum as soon as its rows arrive — no WITHIN needed") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def ts(m: Long) = new java.sql.Timestamp(m * 60000L)
    val rows6 = (1 to 6).map(i => MrTick("ACME", i * 10, i.toLong, ts(i)))
    val q = """SELECT * FROM t MATCH_RECOGNIZE (
              |  PARTITION BY sym
              |  ORDER BY rowtime
              |  MEASURES FIRST(A.id) AS a, LAST(A.id) AS b
              |  ONE ROW PER MATCH
              |  PATTERN (A{2,3}?)
              |  DEFINE A AS price > 0
              |)""".stripMargin
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[MrTick]
    val query = MatchRecognizeSql.sqlDf(input.toDF(), q)
      .writeStream.format("memory").queryName("mrreltimes")
      .outputMode("append").start()
    rows6.foreach { r => input.addData(r); query.processAllAvailable() }
    query.stop()
    val got = spark.table("mrreltimes").select("a", "b")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (3L, 4L), (5L, 6L)), s"got $got")
    // batch collapse agrees
    val batchGot = MatchRecognizeSql.sqlDf(rows6.toDF(), q)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(batchGot == got, s"batch twin disagrees: $batchGot")
  }

  test("aggregates in MEASURES: SUM/AVG/MIN/MAX and null-skipping COUNT") {
    val t = Seq((1, "a", java.lang.Double.valueOf(1.0)),
      (2, "a", null.asInstanceOf[java.lang.Double]),
      (3, "a", java.lang.Double.valueOf(3.0)),
      (4, "b", java.lang.Double.valueOf(9.0)))
      .toDF("id", "tag", "v")
    val got = MatchRecognizeSql.sqlDf(t,
      """MATCH_RECOGNIZE (ORDER BY id
        |MEASURES COUNT(A.*) AS n_rows, COUNT(A.v) AS n_nonnull,
        |         SUM(A.id) AS sum_id, AVG(A.v) AS avg_v,
        |         MIN(A.v) AS min_v, MAX(A.v) AS max_v,
        |         B.id AS b_id
        |PATTERN (A+ B)
        |DEFINE A AS tag = 'a', B AS tag = 'b')""".stripMargin)
    // COUNT(A.v) must skip the null row (SQL), not count it
    assert(rows(got) ==
      Seq(Seq[Any](3L, 2L, 6L, 2.0, 1.0, 3.0, 4)), rows(got).toString)
  }

  test("STREAMING sqlDf: the reference ticker V-shape on a non-Event " +
      "schema, partial matches crossing micro-batch boundaries") {
    implicit val sq = spark.sqlContext
    def ts(m: Long) = new java.sql.Timestamp(m * 60000L)
    val q = """SELECT * FROM ticker MATCH_RECOGNIZE (
              |  PARTITION BY sym
              |  ORDER BY rowtime
              |  MEASURES FIRST(DOWN.price) AS first_down,
              |           LAST(DOWN.price) AS last_down,
              |           UP.price AS up_p
              |  ONE ROW PER MATCH
              |  PATTERN (DOWN+ UP)
              |  DEFINE DOWN AS price < PREV(price),
              |         UP AS price > PREV(price)
              |)""".stripMargin
    // ACME's DOWN run starts in batch 1 and completes in batch 2 — the
    // kryo-buffered partial match must survive the boundary
    val batch1 = Seq(MrTick("ACME", 12, 1, ts(1)), MrTick("ACME", 11, 2, ts(2)),
      MrTick("ACME", 10, 3, ts(3)), MrTick("BETA", 7, 10, ts(1)))
    val batch2 = Seq(MrTick("ACME", 9, 4, ts(4)), MrTick("ACME", 11, 5, ts(5)),
      MrTick("BETA", 6, 11, ts(7)), MrTick("BETA", 8, 12, ts(8)))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[MrTick]
    val stream = MatchRecognizeSql.sqlDf(input.toDF(), q)
    val query = stream.writeStream.format("memory").queryName("mrstream")
      .outputMode("append").start()
    input.addData(batch1: _*); query.processAllAvailable()
    input.addData(batch2: _*); query.processAllAvailable()
    input.addData(MrTick("ZZZ", 0, 99, ts(100))); query.processAllAvailable()
    input.addData(MrTick("ZZZ", 0, 98, ts(200))); query.processAllAvailable()
    query.stop()
    import spark.implicits._
    val got = spark.table("mrstream").filter($"sym" =!= "ZZZ")
      .as[(String, Int, Int, Int)].collect().toSet
    val want = Set(("ACME", 11, 9, 11), ("BETA", 6, 6, 8))
    assert(got == want, s"got $got")
    // the batch collapse of the same clause over the same rows agrees
    val batchGot = MatchRecognizeSql
      .sqlDf((batch1 ++ batch2).toDF(), q)
      .as[(String, Int, Int, Int)].collect().toSet
    assert(batchGot == want, s"batch twin disagrees: $batchGot")
  }

  test("r14 STREAMING PREV/NEXT offsets beyond 1: the depth-k " +
      "predecessor marker survives consumption across micro-batches and " +
      "streaming equals the batch collapse") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def ts(m: Long) = new java.sql.Timestamp(m * 60000L)
    // one row per batch, so every PREV(price, 2) reference after the
    // first two crosses consumed rows held only by the marker
    val rows = Seq(5, 3, 6, 4, 7, 2, 8).zipWithIndex.map { case (p, i) =>
      MrTick("ACME", p, i + 1L, ts(i + 1L))
    }
    val qPrev = """SELECT * FROM t MATCH_RECOGNIZE (
                  |  PARTITION BY sym
                  |  ORDER BY rowtime
                  |  MEASURES A.price AS p
                  |  ONE ROW PER MATCH
                  |  PATTERN (A)
                  |  DEFINE A AS price > PREV(price, 2)
                  |)""".stripMargin
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[MrTick]
    val query = MatchRecognizeSql.sqlDf(input.toDF(), qPrev)
      .writeStream.format("memory").queryName("mrprev2")
      .outputMode("append").start()
    rows.foreach { r => input.addData(r); query.processAllAvailable() }
    query.stop()
    val got = spark.table("mrprev2").select("p")
      .as[Int].collect().toSet
    // row i matches iff price(i) > price(i-2): 6>5, 4>3, 7>6, 8>7
    val want = Set(6, 4, 7, 8)
    assert(got == want, s"got $got")
    val batchGot = MatchRecognizeSql.sqlDf(rows.toDF(), qPrev)
      .select("p").as[Int].collect().toSet
    assert(batchGot == want, s"batch twin disagrees: $batchGot")
    // NEXT at depth 2: a row is held undecided until its second
    // successor arrives, then adjudicates exactly as in batch
    val qNext = """SELECT * FROM t MATCH_RECOGNIZE (
                  |  PARTITION BY sym
                  |  ORDER BY rowtime
                  |  MEASURES B.price AS p
                  |  ONE ROW PER MATCH
                  |  PATTERN (B)
                  |  DEFINE B AS price < NEXT(price, 2)
                  |)""".stripMargin
    val input2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[MrTick]
    val query2 = MatchRecognizeSql.sqlDf(input2.toDF(), qNext)
      .writeStream.format("memory").queryName("mrnext2")
      .outputMode("append").start()
    rows.foreach { r => input2.addData(r); query2.processAllAvailable() }
    query2.stop()
    val gotN = spark.table("mrnext2").select("p").as[Int].collect().toSet
    // price(i) < price(i+2): 5<6, 3<4, 6<7, 7<8; the tail two rows stay
    // unadjudicated on the open stream (their successors never arrive)
    assert(gotN == Set(5, 3, 6, 7), s"got $gotN")
  }

  test("r14 STREAMING deep PREV over the events' five columns: offset 3 " +
      "across single-row batches equals the batch collapse") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Events.Event
    def ts(m: Long) = new java.sql.Timestamp(m * 60000L)
    val vals = Seq(5.0, 3.0, 6.0, 4.0, 7.0, 2.0, 8.0, 1.0)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Event(1L, i + 1L, ts(i + 1L), "click", v)
    }
    val text = """SELECT * FROM t MATCH_RECOGNIZE (
                 |  PARTITION BY user_id
                 |  ORDER BY ts
                 |  MEASURES A.event_id AS eid
                 |  ONE ROW PER MATCH
                 |  PATTERN (A)
                 |  DEFINE A AS value > PREV(value, 3)
                 |)""".stripMargin
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Event]
    val query = MatchRecognizeSql.sqlDf(input.toDF(), text)
      .writeStream.format("memory").queryName("mrprev3ev")
      .outputMode("append").start()
    evs.foreach { e => input.addData(e); query.processAllAvailable() }
    query.stop()
    val got = spark.table("mrprev3ev").select("eid").as[Long].collect().toSet
    // value(i) > value(i-3): i4 4<5 no; i5 7>3 yes; i6 2<6 no; i7 8>4
    // yes; i8 1<7 no
    val want = Set(5L, 7L)
    assert(got == want, s"got $got")
    val batchGot = MatchRecognizeSql.sqlDf(evs.toDF(), text)
      .select("eid").as[Long].collect().toSet
    assert(batchGot == want, s"batch twin disagrees: $batchGot")
  }

  test("FINAL vs RUNNING in ALL ROWS PER MATCH: per-row RUNNING " +
      "COUNT(B.*) climbs 1, 2, 3 while FINAL COUNT(B.*) is the whole " +
      "match's count on every row, batch and streaming alike; FINAL " +
      "outside MEASURES fails at parse time") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def ts(m: Long) = new java.sql.Timestamp(m * 60000L)
    val prices = Seq(5, 11, 12, 13, 25, 6, 14, 15, 16, 17, 30)
    val ticks = prices.zipWithIndex.map { case (p, i) =>
      MrTick("ACME", p, i + 1L, ts(i + 1L))
    }
    val text = """SELECT * FROM t MATCH_RECOGNIZE (
                 |  PARTITION BY sym
                 |  ORDER BY rowtime
                 |  MEASURES MATCH_NUMBER() AS mno, CLASSIFIER() AS cls,
                 |           COUNT(B.*) AS run_b,
                 |           RUNNING COUNT(B.*) AS run_b2,
                 |           FINAL COUNT(B.*) AS fin_b,
                 |           FINAL LAST(B.price) AS last_b
                 |  ALL ROWS PER MATCH
                 |  PATTERN (A B+ C)
                 |  DEFINE A AS price < 10,
                 |         B AS price >= 10 AND price < 20,
                 |         C AS price >= 20
                 |)""".stripMargin
    def proj(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"mno", $"cls", $"run_b", $"run_b2", $"fin_b",
        $"last_b").as[(Long, Long, String, Long, Long, Long, Int)]
        .collect().toSeq.sortBy(_._1)
    val want = Seq(
      (1L, 1L, "A", 0L, 0L, 3L, 13), (2L, 1L, "B", 1L, 1L, 3L, 13),
      (3L, 1L, "B", 2L, 2L, 3L, 13), (4L, 1L, "B", 3L, 3L, 3L, 13),
      (5L, 1L, "C", 3L, 3L, 3L, 13),
      (6L, 2L, "A", 0L, 0L, 4L, 17), (7L, 2L, "B", 1L, 1L, 4L, 17),
      (8L, 2L, "B", 2L, 2L, 4L, 17), (9L, 2L, "B", 3L, 3L, 4L, 17),
      (10L, 2L, "B", 4L, 4L, 4L, 17), (11L, 2L, "C", 4L, 4L, 4L, 17))
    val batch = proj(MatchRecognizeSql.sqlDf(ticks.toDF(), text))
    assert(batch == want, s"batch: $batch")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[MrTick]
    val query = MatchRecognizeSql.sqlDf(input.toDF(), text)
      .writeStream.format("memory").queryName("mrfinal")
      .outputMode("append").start()
    // the same rows split mid-match across micro-batches, then two
    // far-future rows of another key push the watermark past the tail
    Seq(ticks.take(3), ticks.slice(3, 7), ticks.drop(7),
      Seq(MrTick("ZZZ", 50, 100L, ts(1000L))),
      Seq(MrTick("ZZZ", 50, 101L, ts(2000L)))).foreach { chunk =>
      input.addData(chunk); query.processAllAvailable()
    }
    query.stop()
    val streamed = proj(spark.table("mrfinal"))
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    val e = intercept[IllegalArgumentException](MatchRecognizeSql.sqlDf(
      ticks.toDF(), text.replace("B AS price >= 10 AND price < 20",
        "B AS price >= 10 AND FINAL COUNT(B.*) < 9")))
    assert(e.getMessage.contains("FINAL is only allowed in MEASURES"),
      e.getMessage)
  }

  test("r15 PREV in MEASURES (FINAL anchor = the match's LAST row): " +
      "navigation reaches inside the match and past its start into the " +
      "predecessor context; streaming across single-row batches equals " +
      "the batch collapse") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def ts(m: Long) = new java.sql.Timestamp(m * 60000L)
    val rows = Seq(5, 3, 6, 4, 7, 2, 8).zipWithIndex.map { case (p, i) =>
      MrTick("ACME", p, i + 1L, ts(i + 1L))
    }
    // undefined variables match any row: SKIP PAST LAST ROW pairs the
    // stream (1,2)(3,4)(5,6); PREV(price) = A's row, PREV(price, 2) =
    // the row BEFORE the match (null at the partition head)
    val q = """SELECT * FROM t MATCH_RECOGNIZE (
              |  PARTITION BY sym
              |  ORDER BY rowtime
              |  MEASURES B.price AS bp,
              |           PREV(price) AS pv,
              |           PREV(price, 2) AS pv2
              |  ONE ROW PER MATCH
              |  AFTER MATCH SKIP PAST LAST ROW
              |  PATTERN (A B)
              |  DEFINE A AS price < 100, B AS price < 100
              |)""".stripMargin
    val want = Set((3, Option(5), Option.empty[Int]),
      (4, Option(6), Option(3)), (2, Option(7), Option(4)))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[MrTick]
    val query = MatchRecognizeSql.sqlDf(input.toDF(), q)
      .writeStream.format("memory").queryName("mrmeasprev")
      .outputMode("append").start()
    rows.foreach { r => input.addData(r); query.processAllAvailable() }
    query.stop()
    val got = spark.table("mrmeasprev").select("bp", "pv", "pv2")
      .as[(Int, Option[Int], Option[Int])].collect().toSet
    assert(got == want, s"got $got")
    val batchGot = MatchRecognizeSql.sqlDf(rows.toDF(), q)
      .select("bp", "pv", "pv2")
      .as[(Int, Option[Int], Option[Int])].collect().toSet
    assert(batchGot == want, s"batch twin disagrees: $batchGot")
  }

  test("r15/r16 NEXT in MEASURES navigates past the match's end in " +
      "batch; on a STREAM the executor serves it via DELAYED EMISSION — " +
      "a match is held until its successor rows close, surviving " +
      "out-of-order arrivals; ALL ROWS PER MATCH anchors at each output " +
      "row") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def ts(m: Long) = new java.sql.Timestamp(m * 60000L)
    val rows = Seq(5, 3, 6, 4, 7, 2, 8).zipWithIndex.map { case (p, i) =>
      MrTick("ACME", p, i + 1L, ts(i + 1L))
    }
    val qNext = """SELECT * FROM t MATCH_RECOGNIZE (
                  |  PARTITION BY sym
                  |  ORDER BY rowtime
                  |  MEASURES B.price AS bp, NEXT(price) AS np
                  |  ONE ROW PER MATCH
                  |  AFTER MATCH SKIP PAST LAST ROW
                  |  PATTERN (A B)
                  |  DEFINE A AS price < 100, B AS price < 100
                  |)""".stripMargin
    val batchGot = MatchRecognizeSql.sqlDf(rows.toDF(), qNext)
      .select("bp", "np").as[(Int, Option[Int])].collect().toSet
    assert(batchGot == Set((3, Option(6)), (4, Option(7)), (2, Option(8))),
      s"got $batchGot")
    // streaming twin, OUT OF ORDER within the 3-minute delay: the match
    // (7, 2) at minutes 5-6 closes before its successor (8, minute 7)
    // arrives — it must be HELD, then emit np=8 once the closing row
    // (price 999, too big to bind) pushes the watermark past minute 7
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[MrTick]
    val query = MatchRecognizeSql.sqlDf(input.toDF(), qNext, "3 minutes")
      .writeStream.format("memory").queryName("mrmeasnext")
      .outputMode("append").start()
    // minute order of arrival: 2, 1, 4, 3, 5, 6 | (wm advance) 7 | close
    Seq(rows(1), rows(0), rows(3), rows(2), rows(4), rows(5)).foreach { r =>
      input.addData(r); query.processAllAvailable()
    }
    input.addData(rows(6)); query.processAllAvailable()
    val early = spark.table("mrmeasnext").count()
    input.addData(MrTick("ACME", 999, 100L, ts(100)))
    query.processAllAvailable()
    query.stop()
    val streamGot = spark.table("mrmeasnext").select("bp", "np")
      .as[(Int, Option[Int])].collect().toSet
    assert(streamGot == batchGot, s"stream $streamGot vs batch $batchGot")
    assert(early < 3,
      s"the last match must be HELD until its successor closes ($early)")
    // RUNNING anchor: every output row navigates from ITSELF
    val qAll = """SELECT * FROM t MATCH_RECOGNIZE (
                 |  PARTITION BY sym
                 |  ORDER BY rowtime
                 |  MEASURES PREV(price) AS pv
                 |  ALL ROWS PER MATCH
                 |  AFTER MATCH SKIP PAST LAST ROW
                 |  PATTERN (A B)
                 |  DEFINE A AS price < 100, B AS price < 100
                 |)""".stripMargin
    val gotAll = MatchRecognizeSql.sqlDf(rows.toDF(), qAll)
      .select("id", "pv").as[(Long, Option[Int])].collect().toSet
    // rows 1..6 each carry the value of the row physically before them
    assert(gotAll == Set((1L, None), (2L, Option(5)), (3L, Option(3)),
      (4L, Option(6)), (5L, Option(4)), (6L, Option(7))), s"got $gotAll")
  }

  test("reference testEventsAreProperlyOrdered: three-key ORDER BY with " +
      "mixed directions — each prefix order alone would admit a bogus " +
      "match (MatchRecognizeITCase.scala:197-252)") {
    // (secondaryOrder, ternaryOrder, name, id, eventTime)
    val t = Seq(
      (12, 1, "a", 1, 2L), (11, 2, "b", 2, 1L), (10, 3, "c", 3, 3L),
      (8, 4, "a", 4, 4L), (9, 5, "b", 5, 4L), (7, 6, "c", 6, 5L),
      (6, 8, "a", 7, 6L), (6, 7, "b", 8, 6L), (4, 9, "c", 9, 8L),
      (3, 10, "a", 10, 9L), (2, 11, "b", 11, 10L), (1, 12, "c", 12, 11L)
    ).toDF("secondaryorder", "ternaryorder", "name", "id", "et")
    val got = MatchRecognizeSql.sqlDf(t,
      """SELECT * FROM MyTable MATCH_RECOGNIZE (
        |  ORDER BY et, secondaryorder DESC, ternaryorder ASC
        |  MEASURES A.id AS aid, B.id AS bid, C.id AS cid
        |  PATTERN (A B C)
        |  DEFINE A AS name = 'a', B AS name = 'b', C AS name = 'c'
        |) AS T""".stripMargin)
    // expected (":250"): only 10,11,12 — event time breaks (1,2,3),
    // secondary DESC breaks (4,5,6), ternary ASC breaks (7,8,9)
    assert(rows(got).toSet == Set(Seq[Any](10, 11, 12)), rows(got).toString)
  }

  test("reference testSimplePatternWithNulls: null partition-less rows, " +
      "IS NULL defines, LAST over an all-null field " +
      "(MatchRecognizeITCase.scala:95-139)") {
    val t = Seq(
      (1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, null),
      (6, "a"), (7, "b"), (8, "c"), (9, null)
    ).toDF("id", "name")
      .withColumn("nullField",
        org.apache.spark.sql.functions.lit(null).cast("string"))
      .withColumn("ord", org.apache.spark.sql.functions.col("id"))
    val got = MatchRecognizeSql.sqlDf(t,
      """SELECT * FROM MyTable MATCH_RECOGNIZE (
        |  ORDER BY ord
        |  MEASURES
        |    A.id AS aid,
        |    A.nullField AS aNull,
        |    LAST(B.nullField) AS bNull,
        |    C.id AS cid
        |  PATTERN (A B C)
        |  DEFINE
        |    A AS name = 'a' AND nullField IS NULL,
        |    B AS name = 'b' AND LAST(A.nullField) IS NULL,
        |    C AS name = 'c'
        |) AS T""".stripMargin)
      .select("aid", "bNull", "cid", "aNull")
    // expected (":137"): 1,null,3,null and 6,null,8,null
    val want = Set(Seq[Any](1, null, 3, null), Seq[Any](6, null, 8, null))
    assert(rows(got).toSet == want, rows(got).toString)
  }

  test("reference testLogicalOffsetOutsideOfRangeInMeasures: " +
      "FIRST(DOWN.price, 5) beyond the run is null " +
      "(MatchRecognizeITCase.scala:480-520)") {
    val t = Seq(
      ("ACME", 1L, 19, 1), ("ACME", 2L, 17, 2),
      ("ACME", 3L, 13, 3), ("ACME", 4L, 20, 4)
    ).toDF("symbol", "tstamp", "price", "ord")
    val got = MatchRecognizeSql.sqlDf(t,
      """SELECT * FROM Ticker MATCH_RECOGNIZE (
        |  ORDER BY ord
        |  MEASURES
        |    FIRST(DOWN.price) AS first,
        |    LAST(DOWN.price) AS last,
        |    FIRST(DOWN.price, 5) AS nullPrice
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (DOWN{2,} UP)
        |  DEFINE
        |    DOWN AS price < LAST(DOWN.price, 1) OR LAST(DOWN.price, 1) IS NULL,
        |    UP AS price > LAST(DOWN.price)
        |) AS T""".stripMargin)
    // expected (":518"): 19,13,null
    assert(rows(got).toSet == Set(Seq[Any](19, 13, null)), rows(got).toString)
  }

  test("reference testAggregatesWithNullInputs: null-skipping COUNT/SUM " +
      "over qualified and unqualified columns " +
      "(MatchRecognizeITCase.scala:592-645)") {
    def I(v: Int): Integer = Integer.valueOf(v)
    val data: Seq[(Int, String, Integer)] = Seq(
      (1, "a", I(10)), (2, "z", I(10)), (3, "b", null), (4, "c", null),
      (5, "d", I(3)), (6, "c", I(3)), (7, "c", I(3)), (8, "c", I(3)),
      (9, "c", I(2)))
    val t = data.toDF("id", "name", "price")
      .withColumn("ord", org.apache.spark.sql.functions.col("id"))
    val got = MatchRecognizeSql.sqlDf(t,
      """SELECT * FROM MyTable MATCH_RECOGNIZE (
        |  ORDER BY ord
        |  MEASURES
        |    SUM(A.price) AS sumA,
        |    COUNT(A.id) AS countAId,
        |    COUNT(A.price) AS countAPrice,
        |    COUNT(*) AS countAll,
        |    COUNT(price) AS countAllPrice,
        |    LAST(id) AS endId
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A+ C)
        |  DEFINE
        |    A AS SUM(A.price) < 30,
        |    C AS C.name = 'c'
        |) AS T""".stripMargin)
    // expected (":643"): 29,7,5,8,6,8
    assert(rows(got).map(_.map {
      case l: Long => l.toInt
      case v => v
    }).toSet == Set(Seq[Any](29, 7, 5, 8, 6, 8)), rows(got).toString)
  }

  test("reference testAggregates shape: running aggregates in DEFINE, " +
      "expression aggregates, the WeightedAvg UDF expressed in-grammar " +
      "as SUM(price*weight)/SUM(weight) — SQL:2016 greedy preferment " +
      "(MatchRecognizeITCase.scala:531-590; divergence documented)") {
    val t = Seq(
      (1, "a", 1L, 0.8, 1), (2, "z", 2L, 0.8, 3), (3, "b", 1L, 0.8, 2),
      (4, "c", 1L, 0.8, 5), (5, "d", 4L, 0.1, 5), (6, "a", 2L, 1.5, 2),
      (7, "b", 2L, 0.8, 3), (8, "c", 1L, 0.8, 2), (9, "h", 4L, 0.8, 3),
      (10, "h", 4L, 0.8, 3), (11, "h", 2L, 0.8, 3), (12, "h", 2L, 0.8, 3)
    ).toDF("id", "name", "price", "rate", "weight")
      .withColumn("ord", org.apache.spark.sql.functions.col("id"))
    // the IT registers WeightedAvg(price, weight) = sum(price*weight) /
    // sum(weight) in LONG division (JavaUserDefinedAggFunctions) — the
    // same value the grammar writes directly
    val got = MatchRecognizeSql.sqlDf(t,
      """SELECT * FROM MyTable MATCH_RECOGNIZE (
        |  ORDER BY ord
        |  MEASURES
        |    FIRST(id) AS startId,
        |    SUM(A.price) AS sumA,
        |    COUNT(D.price) AS countD,
        |    SUM(D.price) AS sumD,
        |    SUM(price * weight) / SUM(weight) AS wAvg,
        |    AVG(B.price) AS avgB,
        |    SUM(B.price * B.rate) AS sumExprB,
        |    LAST(id) AS endId
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A+ B+ C D? E)
        |  DEFINE
        |    A AS SUM(A.price) < 6,
        |    B AS SUM(B.price * B.rate) < SUM(A.price) AND
        |         SUM(B.price * B.rate) > 0.2 AND
        |         SUM(B.price) >= 1 AND
        |         AVG(B.price) >= 1 AND
        |         SUM(price * weight) / SUM(weight) > 1
        |) AS T""".stripMargin)
    // DOCUMENTED DIVERGENCE from the IT's expected rows (":588"
    // `1,5,0,null,2,3.0,3.4,8` / `9,4,0,null,3,4.0,3.2,12`): at row 8
    // both `D? -> take` and `skip D, complete via E` are live; SQL:2016
    // static preferment is GREEDY (D takes row 8, E takes row 9 — what
    // Trino/Oracle return), while the reference's streaming NFA emits
    // the moment ANY branch reaches a final state, so its D stays empty
    // and the match ends at row 8 (freeing rows 9-12 for a second
    // match). graft implements the standard preferment; every aggregate
    // value below (running DEFINE aggs, empty-variable COUNT=0 has no
    // occasion here, the long-division weighted average, the expression
    // aggregate) is pinned on the standard-greedy match 1-9, after
    // which rows 10-12 cannot complete A+ B+ C D? E.
    val want = Set(
      Seq[Any](1, 5L, 1L, 1L, 2L, 3.0, 3.4, 9))
    val norm = rows(got).map(_.map {
      case i: Int => i
      case l: Long => l
      case d: Double => math.rint(d * 10) / 10
      case v => v
    }).toSet
    assert(norm == want, rows(got).toString)
  }
}
