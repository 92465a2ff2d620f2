package graft.streaming

import java.sql.Timestamp

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, TestGroupState}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.streaming.Events.Event

/** The contract of [[KeyedState]], the runner every stateful executor
  * keys, times and orders through: the processing-time idle TTL, the one
  * ORDER BY comparator, and the constant key of an empty PARTITION BY. */
class KeyedStateSpec extends SparkSpec {

  /** A family body that records whether it ran and emits one row. */
  private class Body {
    var ran = false
    val process: (Row, Iterator[Row], GroupState[Int]) => Iterator[Int] =
      (_, rows, state) => {
        ran = true
        state.update(rows.size)
        Iterator.single(1)
      }
  }

  private def groupState(timeout: GroupStateTimeout, timedOut: Boolean)
      : TestGroupState[Int] =
    TestGroupState.create[Int](Optional.of(7), timeout, 1000L,
      Optional.empty[Long](), timedOut)

  test("idle TTL: a timed-out key is removed and emits nothing") {
    val body = new Body
    val st = groupState(GroupStateTimeout.ProcessingTimeTimeout, timedOut = true)
    val out = KeyedState.withIdleTtl(Some("10 minutes"), isStreaming = true)(
      body.process)(Row.empty, Iterator.empty, st).toList
    assert(out.isEmpty)
    assert(st.isRemoved && !st.exists)
    assert(!body.ran, "a timed-out key must not reach the family body")
  }

  test("idle TTL: a live key re-arms its timeout for the TTL, then runs") {
    val body = new Body
    val st = groupState(GroupStateTimeout.ProcessingTimeTimeout, timedOut = false)
    val out = KeyedState.withIdleTtl(Some("10 minutes"), isStreaming = true)(
      body.process)(Row.empty, Iterator(Row(1), Row(2)), st).toList
    assert(out == List(1) && body.ran)
    assert(st.get == 2 && !st.isRemoved)
    assert(st.getTimeoutTimestampMs.isPresent)
    assert(st.getTimeoutTimestampMs.get == 1000L + 10 * 60 * 1000L)
  }

  test("idle TTL: a batch input sets no timeout") {
    val body = new Body
    // NoTimeout is what a batch plan runs under: setting a timeout there
    // would throw
    val st = groupState(GroupStateTimeout.NoTimeout, timedOut = false)
    val out = KeyedState.withIdleTtl(Some("10 minutes"), isStreaming = false)(
      body.process)(Row.empty, Iterator(Row(1)), st).toList
    assert(out == List(1) && body.ran)
    assert(!st.getTimeoutTimestampMs.isPresent)
    // and end to end: a batch rank with a TTL equals the rank without one
    import spark.implicits._
    val df = Seq((1L, 3.0), (1L, 5.0), (2L, 4.0)).toDF("k", "v")
    def top(ttl: Option[String]) = rows(RankOps.rankRows(df, Seq("k"),
      Seq("v" -> false), 1, idleTtl = ttl)).toSet
    assert(top(Some("10 minutes")) == top(None))
    assert(top(None) == Set(Seq(1L, 5.0), Seq(2L, 4.0)))
  }

  test("idle TTL is refused beside a family's own timers") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException](
      KeyedState.run[Int, Row](Seq(1).toDF("a"), Nil,
        GroupStateTimeout.EventTimeTimeout, org.apache.spark.sql.Encoders
          .row(StructType(Nil)), idleTtl = Some("1 minute"))(
        (_, _, _) => Iterator.empty))
    assert(e.getMessage.contains("idleTtl"))
  }

  test("the ORDER BY comparator: nulls first ASC, last DESC, mixed " +
    "directions, and the arrival stamp") {
    val schema = StructType(Seq(StructField("a", IntegerType),
      StructField("b", StringType)))
    val data: Seq[Seq[Any]] = Seq(Seq(2, "x"), Seq(null, "y"), Seq(1, "z"),
      Seq(2, null), Seq(1, "y"))
    // (keys, expected order of `data` as indices)
    val table: Seq[(Seq[(String, Boolean)], Seq[Int])] = Seq(
      Seq("a" -> true) -> Seq(1, 2, 4, 0, 3),
      Seq("a" -> false) -> Seq(0, 3, 2, 4, 1),
      Seq("b" -> true) -> Seq(3, 0, 1, 4, 2),
      Seq("b" -> false) -> Seq(2, 1, 4, 0, 3),
      Seq("a" -> true, "b" -> false) -> Seq(1, 2, 4, 0, 3),
      Seq("a" -> false, "b" -> true) -> Seq(3, 0, 4, 2, 1))
    table.foreach { case (keys, want) =>
      val ord = KeyedState.order(schema, keys)
      val expected = want.map(data)
      assert(data.sorted(ord) == expected, s"values under $keys")
      assert(data.map(Row.fromSeq).sorted(ord.rows).map(_.toSeq) == expected,
        s"rows under $keys")
      // stamped pairs with distinct stamps sort the same way
      assert(data.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .sorted(ord.stamped).map(_._2) == expected, s"stamped under $keys")
    }
    // the arrival pseudo-column orders on the stamp (DESC = newest first);
    // rows equal on every key keep the EARLIER arrival first
    val stamped = Seq((3L, Seq[Any](1, "a")), (1L, Seq[Any](1, "a")),
      (2L, Seq[Any](0, "a")))
    val byArrival = KeyedState.order(schema, Seq("proctime" -> false),
      arrival = true).stamped
    assert(stamped.sorted(byArrival).map(_._1) == Seq(3L, 2L, 1L))
    val tie = KeyedState.order(schema, Seq("b" -> true), arrival = true).stamped
    assert(stamped.sorted(tie).map(_._1) == Seq(1L, 2L, 3L))
  }

  test("the comparator exists only over checked columns") {
    val schema = StructType(Seq(StructField("a", IntegerType),
      StructField("bin", BinaryType), StructField("arr",
        ArrayType(IntegerType))))
    Seq("bin", "arr").foreach { c =>
      val e = intercept[IllegalArgumentException](
        KeyedState.order(schema, Seq(c -> true)))
      assert(e.getMessage.contains("non-comparable") &&
        e.getMessage.contains(s"'$c'"), e.getMessage)
    }
    val missing = intercept[IllegalArgumentException](
      KeyedState.order(schema, Seq("nope" -> true)))
    assert(missing.getMessage.contains("'nope' not in input schema"))
    // without `arrival`, proctime is an ordinary (here missing) column
    intercept[IllegalArgumentException](
      KeyedState.order(schema, Seq("proctime" -> true)))
  }

  private def ts(m: Long) = new Timestamp(m * 60000L)
  private val evs = Seq(
    Event(1, 101, ts(0), "view", 5.0), Event(2, 201, ts(1), "view", 9.0),
    Event(1, 102, ts(2), "click", 7.0), Event(3, 301, ts(3), "view", 1.0),
    Event(2, 202, ts(4), "view", 8.0))
  private def globalTop2(in: org.apache.spark.sql.DataFrame) =
    RankOps.rankRows(in.select("event_id", "value"), Nil,
      Seq("value" -> false, "event_id" -> true), 2, rankAlias = Some("rk"))

  test("an empty PARTITION BY runs under one constant Int key, on a batch " +
    "DataFrame and on a MemoryStream") {
    import spark.implicits._
    val batch = globalTop2(evs.toDF())
    val keyTypes = batch.queryExecution.analyzed.collectFirst {
      case f: FlatMapGroupsWithState => f.groupingAttributes.map(_.dataType)
    }
    assert(keyTypes == Some(Seq(IntegerType)), s"grouping key: $keyTypes")
    val want = Seq(Seq(201L, 9.0, 1L), Seq(202L, 8.0, 2L))
    assert(rows(batch) == want)

    implicit val sq = spark.sqlContext
    val input = MemoryStream[Event]
    val q = globalTop2(input.toDF()).writeStream.format("memory")
      .queryName("keyed_state_const").outputMode("append").start()
    input.addData(evs.take(2): _*); q.processAllAvailable()
    input.addData(evs.drop(2): _*); q.processAllAvailable()
    q.stop()
    // the ranking is re-emitted whole on change: the last emission is
    // the final top 2
    val log = spark.table("keyed_state_const").collect().map(_.toSeq)
    assert(log.takeRight(2).toSeq == want, log.mkString("; "))
  }
}
