package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.PatternMatch._
import graft.streaming.Events.Event

/** Per-step bound event ids of one match (top level: Spark encoders
  * cannot instantiate suite-inner classes). */
case class M(a: Seq[Long], b: Seq[Long], c: Seq[Long])

/** NFA spec matrix for the programmatic [[PatternMatch.Step]] surface
  * (Row predicates over the events' five columns, partitioned by user_id
  * in (ts, event_id) order), mirroring the reference's basic
  * MatchRecognizeITCase cases: greedy quantifier binding, AFTER MATCH
  * SKIP PAST LAST ROW, optional/star steps, backtracking under
  * overlapping predicates, and streaming (out-of-order + cross-batch
  * partial match) agreeing with the batch pass. The batch↔oracle gate is
  * q89. */
class PatternMatchSpec extends SparkSpec {
  import PatternMatchSpec._

  private def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
  private def ev(id: Long, m: Int, t: String): Event = Event(1L, id, ts(m), t, 1.0)

  /** [[PatternMatch.matchPattern]] over an events Dataset (batch or
    * stream), keyed by user in event-time order. */
  private def matchEvents[O: Encoder](events: Dataset[Event], steps: Seq[Step],
      delay: String, emit: (Row, Seq[Bound]) => O,
      within: Option[java.time.Duration] = None,
      skip: SkipStrategy = SkipPastLastRow): Dataset[O] =
    matchPattern(events.toDF(), Seq("user_id"), Seq("ts", "event_id"), steps,
      delay, emit, within, skip)

  private val ABplusC = Seq(
    Step("A", isType("view"), One),
    Step("B", isType("click"), Plus),
    Step("C", isType("purchase"), One))

  private implicit val mEnc: org.apache.spark.sql.Encoder[M] = Encoders.product[M]

  private def runBatch(events: Seq[Event], steps: Seq[Step]): Seq[M] = {
    import spark.implicits._
    matchEvents(spark.createDataset(events), steps, "0 seconds",
      (_: Row, bound: Seq[Bound]) => {
        val by = bound.map(s => s.name -> s.rows.map(id)).toMap
        M(by.getOrElse("A", Nil), by.getOrElse("B", Nil), by.getOrElse("C", Nil))
      }).collect().toSeq.sortBy(_.c.headOption.getOrElse(0L))
  }

  test("greedy B+ binds every consecutive B") {
    val out = runBatch(Seq(
      ev(1, 0, "view"), ev(2, 1, "click"), ev(3, 2, "click"), ev(4, 3, "purchase")),
      ABplusC)
    assert(out == Seq(M(Seq(1), Seq(2, 3), Seq(4))))
  }

  test("after match skip past last row yields disjoint matches") {
    val out = runBatch(Seq(
      ev(1, 0, "view"), ev(2, 1, "click"), ev(3, 2, "purchase"),
      ev(4, 3, "view"), ev(5, 4, "click"), ev(6, 5, "purchase")), ABplusC)
    assert(out == Seq(M(Seq(1), Seq(2), Seq(3)), M(Seq(4), Seq(5), Seq(6))))
  }

  test("B+ requires at least one B") {
    val out = runBatch(Seq(ev(1, 0, "view"), ev(2, 1, "purchase")), ABplusC)
    assert(out.isEmpty)
  }

  test("optional and star steps match empty") {
    val aOptBstarC = Seq(
      Step("A", isType("view"), Opt),
      Step("B", isType("click"), Star),
      Step("C", isType("purchase"), One))
    val out = runBatch(Seq(
      ev(1, 0, "purchase"), // C alone: A?, B* both empty
      ev(2, 1, "view"), ev(3, 2, "purchase")), aOptBstarC)
    assert(out == Seq(M(Nil, Nil, Seq(1)), M(Seq(2), Nil, Seq(3))))
  }

  test("greedy run backtracks when a later step needs its rows") {
    // B's predicate also covers C's rows: B+ = anything non-view,
    // C = purchase. Greedy B+ swallows the purchase, then backtracks.
    val steps = Seq(
      Step("A", isType("view"), One),
      Step("B", r => !isType("view")(r), Plus),
      Step("C", isType("purchase"), One))
    val out = runBatch(Seq(
      ev(1, 0, "view"), ev(2, 1, "click"), ev(3, 2, "click"), ev(4, 3, "purchase")),
      steps)
    assert(out == Seq(M(Seq(1), Seq(2, 3), Seq(4))))
  }

  test("streaming rejects a pattern ending in a greedy quantifier") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val e = intercept[IllegalArgumentException] {
      matchEvents(input.toDS(), Seq(
        Step("A", isType("view"), One),
        Step("B", isType("click"), Plus)), // trailing B+ never finalizes
        delay = "0 seconds", (_: Row, _: Seq[Bound]) => 0)
    }
    assert(e.getMessage.contains("never finalize"))
    // the same pattern IS valid in batch, where the input end is final
    val out = runBatch(Seq(ev(1, 0, "view"), ev(2, 1, "click")), Seq(
      Step("A", isType("view"), One),
      Step("B", isType("click"), Plus)))
    assert(out == Seq(M(Seq(1), Seq(2), Nil)))
  }

  test("PREV cross-row DEFINE matches a strictly-decreasing run plus rebound") {
    // D+ U with D: value < PREV(value), U: value > PREV(value)
    def evv(id: Long, m: Int, v: Double): Event = Event(1L, id, ts(m), "x", v)
    val steps = Seq(
      Step.withPrev("D", Plus)((c, p) => value(c) < value(p)),
      Step.withPrev("U", One)((c, p) => value(c) > value(p)))
    import spark.implicits._
    val out = matchEvents(spark.createDataset(Seq(
      evv(1, 0, 9.0), evv(2, 1, 7.0), evv(3, 2, 4.0), evv(4, 3, 6.0), // V at 2-4
      evv(5, 4, 6.0), // equal: neither D nor U — breaks any run
      evv(6, 5, 5.0), evv(7, 6, 8.0))), // second V at 6-7
      steps, "0 seconds",
      (_: Row, bound: Seq[Bound]) => {
        val by = bound.map(s => s.name -> s.rows.map(id)).toMap
        M(by("D"), by("U"), Nil)
      }).collect().toSeq.sortBy(_.a.head)
    // row 1 has no PREV -> cannot open a D run; run {2,3} rebounds at 4;
    // the equal row 5 matches neither; run {6} rebounds at 7
    assert(out == Seq(M(Seq(2, 3), Seq(4), Nil), M(Seq(6), Seq(7), Nil)))
  }

  test("PREV sees the input predecessor across a SKIP PAST LAST ROW boundary") {
    // after the first match consumes ...U, the next D's PREV is that U row
    def evv(id: Long, m: Int, v: Double): Event = Event(1L, id, ts(m), "x", v)
    val steps = Seq(
      Step.withPrev("D", Plus)((c, p) => value(c) < value(p)),
      Step.withPrev("U", One)((c, p) => value(c) > value(p)))
    import spark.implicits._
    val out = matchEvents(spark.createDataset(Seq(
      evv(1, 0, 9.0), evv(2, 1, 5.0), evv(3, 2, 8.0), // match: D={2} U={3}
      evv(4, 3, 6.0), evv(5, 4, 7.0))), // 4 is D only if PREV=row3 (8.0) visible
      steps, "0 seconds",
      (_: Row, bound: Seq[Bound]) => {
        val by = bound.map(s => s.name -> s.rows.map(id)).toMap
        M(by("D"), by("U"), Nil)
      }).collect().toSeq.sortBy(_.a.head)
    assert(out == Seq(M(Seq(2), Seq(3), Nil), M(Seq(4), Seq(5), Nil)),
      "the second match's D needs PREV across the consumed first match")
  }

  test("WITHIN rejects a match whose span exceeds the bound (batch)") {
    val within = Some(java.time.Duration.ofMinutes(5))
    // same A B+ C shape; C arrives 10 minutes after A -> outside WITHIN
    val far = Seq(ev(1, 0, "view"), ev(2, 1, "click"), ev(3, 10, "purchase"))
    import spark.implicits._
    def run(events: Seq[Event]) = matchEvents(
      spark.createDataset(events), ABplusC, "0 seconds",
      (_: Row, bound: Seq[Bound]) => {
        val by = bound.map(s => s.name -> s.rows.map(id)).toMap
        M(by("A"), by("B"), by("C"))
      }, within = within).collect().toSeq
    assert(run(far).isEmpty, "span 10 min > WITHIN 5 min must not match")
    val near = Seq(ev(1, 0, "view"), ev(2, 1, "click"), ev(3, 4, "purchase"))
    assert(run(near) == Seq(M(Seq(1), Seq(2), Seq(3))))
  }

  test("WITHIN finalizes a trailing greedy quantifier in streaming") {
    // A B+ (no terminal One step) is only legal in streaming WITH a
    // WITHIN bound: the window close adjudicates the greedy arm
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = matchEvents(input.toDS(), Seq(
      Step("A", isType("view"), One),
      Step("B", isType("click"), Plus)),
      delay = "0 seconds",
      (_: Row, bound: Seq[Bound]) => {
        val by = bound.map(s => s.name -> s.rows.map(id)).toMap
        M(by("A"), by("B"), Nil)
      }, within = Some(java.time.Duration.ofMinutes(5)))
      .writeStream.format("memory").queryName("nfawithin").outputMode("append").start()
    input.addData(ev(1, 0, "view"), ev(2, 1, "click"), ev(3, 2, "click"))
    query.processAllAvailable() // watermark still behind 10:05 — no emission yet
    val early = spark.table("nfawithin").as[M].collect().toSeq
    assert(early.isEmpty, s"greedy arm must not finalize inside the window, got $early")
    // push the watermark past start + WITHIN, then once more for the timeout
    input.addData(Event(9L, 900, ts(20), "view", 0.0))
    query.processAllAvailable()
    input.addData(Event(9L, 901, ts(30), "view", 0.0))
    query.processAllAvailable()
    query.stop()
    val got = spark.table("nfawithin").as[M].collect().toSeq
    assert(got == Seq(M(Seq(1), Seq(2, 3), Nil)),
      s"window close must finalize the greedy B+ run, got $got")
  }

  test("WITHIN prunes a stale partial match instead of retaining it forever") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = matchEvents(input.toDS(), ABplusC, delay = "0 seconds",
      (_: Row, bound: Seq[Bound]) => {
        val by = bound.map(s => s.name -> s.rows.map(id)).toMap
        M(by("A"), by("B"), by("C"))
      }, within = Some(java.time.Duration.ofMinutes(5)))
      .writeStream.format("memory").queryName("nfaprune").outputMode("append").start()
    // A + one B, then nothing inside the window; the C arrives far too late
    input.addData(ev(1, 0, "view"), ev(2, 1, "click"))
    query.processAllAvailable()
    input.addData(ev(3, 30, "purchase")) // 30 min after A — outside WITHIN
    query.processAllAvailable()
    input.addData(Event(9L, 900, ts(50), "view", 0.0))
    query.processAllAvailable()
    query.stop()
    val got = spark.table("nfaprune").as[M].collect().toSeq
    assert(got.isEmpty,
      s"the expired partial match must be pruned, not completed late: $got")
  }

  test("a streaming pattern may end in an exact {n} tail without WITHIN") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // {2,} and {2,3} tails stay rejected: an accepted 2-row run could
    // still be extended by a future row, so it never self-finalizes
    for (q <- Seq(Times(2, None), Times(2, Some(3)))) {
      val in2 = MemoryStream[Event]
      val e = intercept[IllegalArgumentException] {
        matchEvents(in2.toDS(), Seq(
          Step("A", isType("view"), One),
          Step("B", isType("click"), q)),
          delay = "0 seconds", (_: Row, _: Seq[Bound]) => 0)
      }
      assert(e.getMessage.contains("never finalize"), s"$q must stay rejected")
    }
    // exact {2}: a max-length possessive run cannot be extended — legal
    // without WITHIN, and the run finalizes at max (advice r10)
    val input = MemoryStream[Event]
    val query = matchEvents(input.toDS(), Seq(
      Step("A", isType("view"), One),
      Step("B", isType("click"), Times(2, Some(2)))),
      delay = "0 seconds",
      (_: Row, bound: Seq[Bound]) => {
        val by = bound.map(s => s.name -> s.rows.map(id)).toMap
        M(by("A"), by("B"), Nil)
      })
      .writeStream.format("memory").queryName("nfaexactn")
      .outputMode("append").start()
    input.addData(ev(1, 0, "view"), ev(2, 1, "click"), ev(3, 2, "click"))
    query.processAllAvailable()
    input.addData(Event(9L, 900, ts(30), "view", 0.0)) // close the prefix
    query.processAllAvailable()
    input.addData(Event(9L, 901, ts(40), "view", 0.0))
    query.processAllAvailable()
    query.stop()
    val got = spark.table("nfaexactn").as[M].collect().toSeq
    assert(got == Seq(M(Seq(1), Seq(2, 3), Nil)),
      s"the exact {2} tail must finalize at max length, got $got")
  }

  test("streaming matches batch across out-of-order arrival and batch splits") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = matchEvents(input.toDS(), ABplusC, delay = "5 minutes",
      (_: Row, bound: Seq[Bound]) => {
        val by = bound.map(s => s.name -> s.rows.map(id)).toMap
        M(by("A"), by("B"), by("C"))
      }).writeStream.format("memory").queryName("nfa").outputMode("append").start()
    // batch 1: A and a partial B; the C and a LATE click arrive in batch 2
    input.addData(ev(1, 0, "view"), ev(2, 1, "click"))
    query.processAllAvailable()
    input.addData(ev(4, 4, "purchase"), ev(3, 2, "click")) // click out of order
    query.processAllAvailable()
    // flush the watermark far past the purchase, then once more so the
    // event-time timeout finalizes the key
    input.addData(Event(9L, 900, ts(30), "view", 0.0))
    query.processAllAvailable()
    input.addData(Event(9L, 901, ts(40), "view", 0.0))
    query.processAllAvailable()
    query.stop()
    val got = spark.table("nfa").as[M].collect().toSeq
    assert(got == Seq(M(Seq(1), Seq(2, 3), Seq(4))),
      s"streaming NFA must stitch the out-of-order click into the match, got $got")
  }

  test("reluctant B*? binds the shortest run where greedy binds the longest") {
    val rows = Seq(
      ev(1, 0, "view"), ev(2, 1, "click"), ev(3, 2, "purchase"),
      ev(4, 3, "click"), ev(5, 4, "purchase"))
    def pat(q: Quant) = Seq(
      Step("A", isType("view"), One),
      Step("B", _ => true, q),
      Step("C", isType("purchase"), One))
    // greedy: B* swallows through the LAST purchase-preceding position
    assert(runBatch(rows, pat(Star)) ==
      Seq(M(Seq(1), Seq(2, 3, 4), Seq(5))))
    // reluctant: commits at the FIRST purchase
    assert(runBatch(rows, pat(StarReluctant)) ==
      Seq(M(Seq(1), Seq(2), Seq(3))))
  }

  test("reluctant B+? requires one B and then commits minimally") {
    val rows = Seq(
      ev(1, 0, "view"), ev(2, 1, "purchase"),
      ev(3, 2, "view"), ev(4, 3, "click"), ev(5, 4, "purchase"), ev(6, 5, "purchase"))
    val pat = Seq(
      Step("A", isType("view"), One),
      Step("B", _ => true, PlusReluctant),
      Step("C", isType("purchase"), One))
    // B+? must consume >= 1 row, so the adjacent purchase 2 cannot be C;
    // the shortest viable extension is B={2,3,4} (consuming view 3 on the
    // way), C=purchase 5. SKIP PAST LAST ROW leaves row 6 alone → no
    // second match.
    assert(runBatch(rows, pat) == Seq(M(Seq(1), Seq(2, 3, 4), Seq(5))))
  }

  test("a streaming pattern may END in a reluctant quantifier (binds minimally)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    // A C+? ≡ A C: the reluctant tail finalizes without WITHIN
    val q = matchEvents(input.toDS(), Seq(
      Step("A", isType("view"), One),
      Step("C", isType("click"), PlusReluctant)),
      "0 seconds",
      (_: Row, bound: Seq[Bound]) => {
        val by = bound.map(s => s.name -> s.rows.map(id)).toMap
        M(by.getOrElse("A", Nil), Nil, by.getOrElse("C", Nil))
      }).writeStream.format("memory").queryName("relu").outputMode("append").start()
    input.addData(ev(1, 0, "view"), ev(2, 1, "click"), ev(3, 2, "click"))
    q.processAllAvailable()
    input.addData(ev(9, 30, "view")) // advance the watermark
    q.processAllAvailable()
    q.stop()
    val got = spark.table("relu").as[M].collect().toSeq
    assert(got == Seq(M(Seq(1), Nil, Seq(2))),
      s"reluctant tail must bind exactly one click and finalize, got $got")
  }

  test("NEXT cross-row DEFINE selects rows by their successor") {
    // views immediately followed by a purchase; the tail view (no
    // successor in a FINAL input) has NULL NEXT and never matches
    val out = runBatch(Seq(
      ev(1, 0, "view"), ev(2, 1, "view"), ev(3, 2, "purchase"),
      ev(4, 3, "view"), ev(5, 4, "click"), ev(6, 5, "view")),
      Seq(Step("A", isType("view"), One,
        nextPred = Some((_, n) => isType("purchase")(n)))))
    assert(out.map(_.a) == Seq(Seq(2)),
      s"only the view directly before the purchase may match, got $out")
  }

  test("a NEXT-bearing row is held undecided until its successor arrives") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = matchEvents(input.toDS(), Seq(
      Step("A", isType("view"), One,
        nextPred = Some((_, n) => isType("purchase")(n)))),
      "0 seconds",
      (_: Row, bound: Seq[Bound]) =>
        M(bound.head.rows.map(id), Nil, Nil))
      .writeStream.format("memory").queryName("nextdef")
      .outputMode("append").start()
    input.addData(ev(1, 0, "view"))
    q.processAllAvailable()
    // the view's successor has not arrived: nothing may emit yet
    assert(spark.table("nextdef").isEmpty,
      "a NEXT predicate must not be decided against a missing successor")
    input.addData(ev(2, 1, "purchase"), ev(9, 30, "view"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("nextdef").as[M].collect().toSeq
    assert(got == Seq(M(Seq(1), Nil, Nil)),
      s"the successor's arrival must adjudicate the held view, got $got")
  }

  // ---- AFTER MATCH SKIP strategies (PP = two consecutive purchases) ----

  private val PP = Seq(
    Step("A", isType("purchase"), One),
    Step("B", isType("purchase"), One))

  private def purchases4 = Seq(
    ev(1, 0, "purchase"), ev(2, 1, "purchase"),
    ev(3, 2, "purchase"), ev(4, 3, "purchase"))

  private def runSkip(events: Seq[Event], steps: Seq[Step],
      skip: SkipStrategy): Seq[M] = {
    import spark.implicits._
    matchEvents(spark.createDataset(events), steps, "0 seconds",
      (_: Row, bound: Seq[Bound]) => {
        val by = bound.map(s => s.name -> s.rows.map(id)).toMap
        M(by.getOrElse("A", Nil), by.getOrElse("B", Nil), by.getOrElse("C", Nil))
      }, skip = skip).collect().toSeq.sortBy(_.a.headOption.getOrElse(0L))
  }

  test("skip past last row vs to next row: disjoint vs overlapping pairs") {
    val past = runSkip(purchases4, PP, SkipPastLastRow)
    assert(past.map(m => (m.a, m.b)) ==
      Seq((Seq(1L), Seq(2L)), (Seq(3L), Seq(4L))),
      s"PAST LAST ROW must yield disjoint pairs: $past")
    val next = runSkip(purchases4, PP, SkipToNextRow)
    assert(next.map(m => (m.a, m.b)) ==
      Seq((Seq(1L), Seq(2L)), (Seq(2L), Seq(3L)), (Seq(3L), Seq(4L))),
      s"TO NEXT ROW must yield every adjacent pair: $next")
  }

  test("skip to last variable resumes at that variable's row") {
    val out = runSkip(purchases4, PP, SkipToLast("B"))
    assert(out.map(m => (m.a, m.b)) ==
      Seq((Seq(1L), Seq(2L)), (Seq(2L), Seq(3L)), (Seq(3L), Seq(4L))),
      s"TO LAST B resumes at each match's B row: $out")
  }

  test("all-rows-per-match emits classifier, match number and running/final counts") {
    import spark.implicits._
    val events = Seq(
      ev(1, 0, "view"), ev(2, 1, "click"), ev(3, 2, "click"), ev(4, 3, "purchase"),
      ev(5, 4, "view"), ev(6, 5, "click"), ev(7, 6, "purchase"))
    val out = matchPatternAllRows(spark.createDataset(events).toDF(),
      Seq("user_id"), Seq("ts", "event_id"), ABplusC, "0 seconds")
      .select($"match_no", $"pos", $"classifier", $"event_id", $"running_n",
        $"final_n").as[(Long, Long, String, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out == Seq(
      (1L, 1L, "A", 1L, 1L, 1L),
      (1L, 2L, "B", 2L, 1L, 2L), // RUNNING count(B)=1 of FINAL 2
      (1L, 3L, "B", 3L, 2L, 2L),
      (1L, 4L, "C", 4L, 1L, 1L),
      (2L, 1L, "A", 5L, 1L, 1L),
      (2L, 2L, "B", 6L, 1L, 1L),
      (2L, 3L, "C", 7L, 1L, 1L)),
      s"unexpected all-rows output: $out")
  }

  test("a skip target at the match's own start row is rejected") {
    // TO FIRST A resumes where the match began — an infinite loop; the
    // reference's CEP rejects the strategy at the same point
    val e = intercept[Exception](runSkip(purchases4, PP, SkipToFirst("A")))
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("infinite loop"))),
      s"expected the infinite-loop rejection, got $e")
  }
}

/** Row field readers for the step predicates — on the companion so the
  * closures that use them do not capture the (non-serializable) suite. */
object PatternMatchSpec {
  def isType(t: String): Row => Boolean = _.getAs[String]("event_type") == t
  def id(r: Row): Long = r.getAs[Long]("event_id")
  def value(r: Row): Double = r.getAs[Double]("value")
}
