package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_EXTRA_CONF` parsing: every entry is set as written or the
  * session fails to start, naming the entry; and the session's wiring:
  * graft's SQL dialect in every session of the context. */
class SessionFactorySpec extends AnyFunSuite {
  import SessionFactory.parseExtraConf

  test("graft's parser serves the session, a newSession() and the cloned " +
    "session a streaming query runs its batches in") {
    val spark = graft.SparkSpec.session
    // a TUMBLE statement and a MATCH_RECOGNIZE one, whose placeholder
    // runs the executor's analysis while the statement is parsed
    def tumble(s: SparkSession): Seq[Row] = {
      assert(s.sessionState.sqlParser.isInstanceOf[graft.Sql.Parser])
      val values = """VALUES (TIMESTAMP '2020-01-01 00:00:01', 1, 'view', 7),
        |  (TIMESTAMP '2020-01-01 00:59:59', 2, 'purchase', 7),
        |  (TIMESTAMP '2020-01-01 01:00:00', 4, 'view', 7) AS t(ts, v, kind, g)""".stripMargin
      s.sql(s"""SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS ws, SUM(v) AS n
        |FROM $values GROUP BY TUMBLE(ts, INTERVAL '1' HOUR) ORDER BY ws""".stripMargin)
        .collect().toSeq ++
      s.sql(s"""SELECT * FROM (SELECT * FROM $values) MATCH_RECOGNIZE (
        |  PARTITION BY g ORDER BY ts MEASURES A.v AS a_v, B.v AS b_v ONE ROW PER MATCH
        |  PATTERN (A B) DEFINE A AS kind = 'view', B AS kind = 'purchase')""".stripMargin)
        .collect().toSeq
    }
    val want = tumble(spark)
    // TUMBLE (ws, n) rows, then the match (g, a_v, b_v)
    assert(want.map(_.get(1)) == Seq(3L, 4L, 1))
    val other = spark.newSession()
    assert(other ne spark)
    assert(tumble(other) == want)
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Int]
    input.addData(1)
    @volatile var inBatch: Option[(SparkSession, Seq[Row])] = None
    val q = input.toDF().writeStream.foreachBatch { (df: DataFrame, _: Long) =>
      inBatch = Some((df.sparkSession, tumble(df.sparkSession)))
    }.start()
    try q.processAllAvailable() finally q.stop()
    val (clone, got) = inBatch.get
    assert(clone ne spark)
    assert(got == want)
  }

  test("extra conf: keys and values are trimmed, empty entries skipped") {
    assert(parseExtraConf(" spark.a=1; spark.b = x=y ;;") ==
      Seq("spark.a" -> "1", "spark.b" -> "x=y"))
    assert(parseExtraConf("") == Nil)
  }

  test("extra conf: an entry without '=' fails loudly and names the entry") {
    val e = intercept[IllegalArgumentException](
      parseExtraConf("spark.a=1;spark.sql.shuffle.partitions"))
    assert(e.getMessage.contains("'spark.sql.shuffle.partitions'"))
  }

  test("extra conf: a key outside spark.* fails loudly and names the entry") {
    val e = intercept[IllegalArgumentException](parseExtraConf("spark.a=1; sprak.b=2"))
    assert(e.getMessage.contains("'sprak.b=2'"))
  }
}
