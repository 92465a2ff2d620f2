package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.types._

/** Quantified MATCH_RECOGNIZE — a real per-key NFA over an ARBITRARY
  * DataFrame, not a lead() rewrite (reference: StreamExecMatch.scala:68 +
  * MatchCodeGenerator.scala:82 compile DEFINE/PATTERN to a codegen'd NFA
  * over any registered table; MatchRecognizeITCase.scala:169-183
  * partitions a 4-column table by two keys).
  *
  * Supported grammar: a PATTERN is a sequence of steps, each a named
  * row-predicate with a quantifier — `A` (exactly one), `A?`, `A+`, `A*`
  * matched GREEDILY with backtracking, plus the reluctant forms `A??`,
  * `A+?`, `A*?` (shortest binding first) and the bounded `{n,m}` family
  * — over each partition's ORDER BY sequence, with the full AFTER MATCH
  * SKIP family ([[SkipStrategy]]): PAST LAST ROW (the reference's
  * default), TO NEXT ROW, TO FIRST/LAST variable. DEFINE predicates may
  * reference rows before or after the current one in the key's input
  * order (SQL `PREV(expr, k)` / `NEXT(expr, k)`, reference
  * IterativeConditionRunner.java:31; a NEXT-bearing row whose successor
  * has not arrived is held undecided), and the whole match can be bounded
  * by a `WITHIN` duration: every row of a match must lie within `within`
  * of the match's first row, mirroring Flink CEP's `Pattern.within`
  * (reference: EventTimeTriggers / the NFA's window-time pruning).
  *
  * Two surfaces share ONE executor, [[matchRows]]: the SQL compiler
  * ([[MatchRecognizeSql.sqlDf]]) builds tri-state [[GStep]]s directly,
  * and the programmatic [[Step]] API ([[matchPattern]] /
  * [[matchPatternAllRows]]) adapts plain `Row` predicates onto them.
  *
  * Execution: one `flatMapGroupsWithState` path for both modes. Batch: a
  * single pass over each key's full sorted sequence (watermark = ∞), in
  * any ORDER BY. Streaming: the leading ORDER BY column must be an
  * ascending timestamp (the event-time axis); rows buffer per key; on
  * every trigger (or event-time timeout) the watermark-closed prefix runs
  * through the NFA; complete matches emit, consumed rows drop, and a
  * partial match still viable at the prefix end retains its rows — so
  * out-of-order arrival within the watermark delay cannot corrupt a
  * match.
  *
  * State is O(pending rows of an open partial match) per key, matching
  * the reference NFA's per-key buffer. WITHOUT a `within` bound, a partial
  * match with no continuation lingers until one arrives; WITH one, the
  * attempt is adjudicated as soon as the watermark passes
  * `start + within` (no later row can extend it), so pending state is
  * bounded by the window — WITHIN is the reference's pruning mechanism
  * for exactly this leak, reproduced here. The O(prevDepth) predecessor
  * marker a PREV-using pattern keeps after full consumption (the last k
  * consumed rows, k = the deepest PREV offset any DEFINE asks for) is
  * pruned by the same WITHIN horizon (watermark past the marker's newest
  * row + within), so idle keys clear; without WITHIN the marker is
  * load-bearing and retained.
  */
object PatternMatch extends Serializable {

  /** AFTER MATCH SKIP strategy (reference: FlinkSqlOperatorTable.java:1102-1108
    * SKIP TO FIRST/LAST operators; CEP `AfterMatchSkipStrategy`). Decides
    * where the NFA resumes after a completed match:
    *   - [[SkipPastLastRow]] (the SQL default): after the match's last row
    *     — matches never overlap;
    *   - [[SkipToNextRow]]: at the row after the match's FIRST row —
    *     overlapping matches from every viable start;
    *   - [[SkipToFirst]]/[[SkipToLast]] (variable): at the first/last row
    *     the named variable bound. A strategy that would resume at the
    *     match's own start row (an infinite loop) is rejected at runtime,
    *     as the reference rejects it. */
  sealed trait SkipStrategy extends Serializable
  case object SkipPastLastRow extends SkipStrategy
  case object SkipToNextRow extends SkipStrategy
  final case class SkipToFirst(variable: String) extends SkipStrategy
  final case class SkipToLast(variable: String) extends SkipStrategy

  sealed trait Quant extends Serializable
  case object One extends Quant
  case object Opt extends Quant
  case object Plus extends Quant
  case object Star extends Quant
  /** Reluctant (`??` / `+?` / `*?`): shortest binding first — commits as
    * soon as the continuation matches, so `A B*? C` binds C to the FIRST
    * viable C after A where the greedy form binds the last. */
  case object OptReluctant extends Quant
  case object PlusReluctant extends Quant
  case object StarReluctant extends Quant
  /** Bounded quantifier `{n}` / `{n,}` / `{n,m}` with the reference's
    * POSSESSIVE-greedy semantics: the run extends while the predicate
    * holds (up to `max`), and once extended it is never re-shortened by
    * backtracking. This is the reference CEP loop's observed behavior —
    * MatchRecognizeITCase.testLogicalOffsets (reference
    * flink-table-planner-blink .../sql/MatchRecognizeITCase.scala:390)
    * expects `PATTERN (DOWN{2,} UP)` over prices 19,17,13,20,... to
    * produce NO match at the 19,17 / 13 boundary even though a
    * backtracking matcher (Oracle/Trino semantics) would re-try the
    * shorter DOWN run and accept 13 as UP. `A+`/`A*` here retain the
    * SQL-standard backtracking-greedy semantics they shipped with. */
  final case class Times(min: Int, max: Option[Int]) extends Quant
  /** Reluctant bounded quantifier `{n,m}?` / `{n,}?` (r14): shortest
    * in-range binding first — the Flink CEP `times(n, m)` + reluctant
    * combination. Like the other reluctant forms it commits as soon as
    * the continuation matches, so a streaming tail finalizes without a
    * WITHIN bound once `min` rows bound. */
  final case class TimesReluctant(min: Int, max: Option[Int]) extends Quant

  /** One PATTERN step of the programmatic surface: a named row predicate
    * with a quantifier. `prevPred` (`nextPred`), when present, is ANDed
    * in against (current, previous-input-row) (resp. (current,
    * next-input-row)); a row with no predecessor (successor) fails it,
    * mirroring SQL's `x < PREV(x)` / `x < NEXT(x)` evaluating to NULL
    * (not true) at the partition edge. Rows carry their schema, so
    * predicates may read fields by name (`r.getAs[String]("kind")`). */
  final case class Step(name: String, pred: Row => Boolean, quant: Quant,
      prevPred: Option[(Row, Row) => Boolean] = None,
      nextPred: Option[(Row, Row) => Boolean] = None)

  object Step {
    /** DEFINE with a PREV reference: `p(current, previous)` over the key's
      * ordered input — the previous row counts even when a prior match
      * consumed it (PREV reads input order, not bindings). */
    def withPrev(name: String, quant: Quant)(p: (Row, Row) => Boolean): Step =
      Step(name, _ => true, quant, Some(p))

    /** DEFINE with a NEXT reference: `p(current, next)` over the key's
      * ordered input. In streaming, a row whose successor has not yet
      * arrived is undecidable and is held until it does (or the input
      * ends: NEXT at the partition tail is NULL → not true). */
    def withNext(name: String, quant: Quant)(p: (Row, Row) => Boolean): Step =
      Step(name, _ => true, quant, nextPred = Some(p))
  }

  /** Rows bound to one step in one match (empty for unused Opt/Star). */
  final case class Bound(name: String, rows: Seq[Row])

  /** Tri-state DEFINE evaluation: a NEXT reference at the buffer tail of
    * a non-final input cannot be decided yet. */
  sealed trait PredRes
  case object Sat extends PredRes
  case object Unsat extends PredRes
  case object Undecided extends PredRes

  /** Evaluation context handed to a [[GStep]] predicate: the current row,
    * the key's input-ordered buffer around it (for SQL PREV/NEXT), and
    * the bindings of the current partial match attempt (for
    * cross-variable DEFINE references — `LAST(A.price, n)` /
    * `FIRST(A.price)` navigate rows already bound, reference
    * MatchRecognizeITCase.scala:169-183,390-410). */
  final class MatchCtx(val rows: IndexedSeq[Row], val idx: Int,
      bufPrev: IndexedSeq[Row], val finalInput: Boolean,
      stepName: Int => String, acc: List[(Int, Int)]) {
    def row: Row = rows(idx)

    /** Input row at relative offset (−k = SQL PREV(x, k), +k = NEXT).
      * None when outside the available buffer; negative offsets fall
      * back to the retained predecessor marker (the last `prevDepth`
      * consumed rows, r14 — previously a single row) so PREV survives
      * consumption across triggers at any declared depth. */
    def inputAt(off: Int): Option[Row] = {
      val j = idx + off
      if (j >= 0 && j < rows.length) Some(rows(j))
      else if (j < 0 && bufPrev.length + j >= 0) Some(bufPrev(bufPrev.length + j))
      else None
    }

    /** True when a forward input reference runs off a buffer that more
      * rows may still extend — the Undecided case for streaming NEXT. */
    def pendingAt(off: Int): Boolean = !finalInput && idx + off >= rows.length

    /** Rows bound to `variable` so far in this attempt, in binding order,
      * INCLUDING the current provisional row (SQL RUNNING semantics: the
      * row under DEFINE evaluation counts as bound to its own variable).
      * `None` = the universal row-pattern variable (all bound rows). */
    def boundRows(variable: Option[String]): IndexedSeq[Row] = {
      val b = Vector.newBuilder[Row]
      // acc is most-recent-first; rebuild in binding order
      acc.reverseIterator.foreach { case (si, ri) =>
        if (variable.forall(_ == stepName(si))) b += rows(ri)
      }
      b.result()
    }
  }

  /** Executor-level pattern step: a named tri-state predicate with a
    * quantifier. The programmatic [[Step]] surface adapts onto this; the
    * SQL front-end compiles DEFINE clauses to it directly. */
  final case class GStep(name: String, quant: Quant,
      pred: MatchCtx => PredRes,
      /** Deepest negative input offset `pred` may ask for
        * (`ctx.inputAt(-k)` → prevDepth >= k; 0 = none) — the streaming
        * executor then retains the last `prevDepth` consumed rows as an
        * O(k) predecessor marker so PREV stays exact across triggers at
        * any declared depth (r14; reference CEP allows arbitrary
        * physical offsets, MatchCodeGenerator.scala:82 region). */
      prevDepth: Int = 0)

  /** Adapt a [[Step]] (row predicate + optional PREV/NEXT cross-row
    * predicates) onto the tri-state form: predicate first, then PREV (no
    * predecessor fails it), then NEXT (tail of a final input fails; tail
    * of a non-final input is undecided). */
  private def adapt(s: Step): GStep = GStep(s.name, s.quant, ctx => {
    if (!s.pred(ctx.row)) Unsat
    else if (!s.prevPred.forall(p => ctx.inputAt(-1).exists(p(ctx.row, _)))) Unsat
    else s.nextPred match {
      case None => Sat
      case Some(p) => ctx.inputAt(1) match {
        case Some(n) => if (p(ctx.row, n)) Sat else Unsat
        case None => if (ctx.finalInput) Unsat else Undecided
      }
    }
  }, prevDepth = if (s.prevPred.isDefined) 1 else 0)

  /** Result of attempting a match at a fixed start offset. `binds` is in
    * binding (row) order. */
  private sealed trait Attempt
  private final case class Matched(endExclusive: Int, binds: List[(Int, Int)]) extends Attempt
  private case object NoMatch extends Attempt
  private case object NeedMore extends Attempt // pattern ran off the buffer

  /** Greedy backtracking matcher over `rows(start until end)` — `end` is
    * the WITHIN window boundary (rows.length when unbounded). When a
    * greedy arm runs off `end` and `finalAtEnd` is false (streaming: rows
    * with later event times may still arrive inside the window), NeedMore
    * dominates — the match cannot be adjudicated yet and its rows must be
    * held rather than committing to a shorter alternative that more input
    * might invalidate. `finalAtEnd` holds when the input is batch, when
    * the window boundary lies inside the buffer (the row after it proves
    * no in-window row is missing), or when the watermark has passed the
    * window end.
    *
    * The partial-match bindings accumulate DOWNWARD through the
    * recursion (`acc`, most-recent-first), so every predicate evaluation
    * sees the attempt's bindings so far — the substrate for
    * cross-variable DEFINE references. */
  private def tryMatch(steps: IndexedSeq[GStep], rows: IndexedSeq[Row],
      start: Int, end: Int, finalAtEnd: Boolean, finalInput: Boolean,
      bufPrev: IndexedSeq[Row]): Attempt = {
    val names: Int => String = si => steps(si).name
    def ok(st: GStep, si: Int, ri: Int, acc: List[(Int, Int)]): PredRes =
      st.pred(new MatchCtx(rows, ri, bufPrev, finalInput, names,
        (si, ri) :: acc))
    // greedy/reluctant run extent: rows [ri, j) satisfy the step; if the
    // row at j is UNDECIDED (a NEXT reference awaiting its successor) the
    // run extent itself is unknown. states(k - ri) is the binding
    // accumulator after binding rows [ri, k) to this step.
    def runExtent(st: GStep, si: Int, ri: Int, acc: List[(Int, Int)],
        cap: Int): (Int, Boolean, Vector[List[(Int, Int)]]) = {
      var j = ri
      var a = acc
      val states = Vector.newBuilder[List[(Int, Int)]]
      states += a
      var undecided = false
      var stop = false
      while (j < cap && !stop) ok(st, si, j, a) match {
        case Sat => a = (si, j) :: a; j += 1; states += a
        case Unsat => stop = true
        case Undecided => undecided = true; stop = true
      }
      (j, undecided, states.result())
    }
    def go(si: Int, ri: Int, acc: List[(Int, Int)]): Attempt =
      if (si == steps.length) Matched(ri, acc.reverse)
      else {
        val st = steps(si)
        st.quant match {
          case One =>
            if (ri >= end) { if (finalAtEnd) NoMatch else NeedMore }
            else ok(st, si, ri, acc) match {
              case Unsat => NoMatch
              case Undecided => NeedMore
              case Sat => go(si + 1, ri + 1, (si, ri) :: acc)
            }
          case Opt =>
            if (ri >= end) {
              if (finalAtEnd) go(si + 1, ri, acc) // skip: empty binding
              else NeedMore // greedy arm undecidable
            } else ok(st, si, ri, acc) match {
              case Undecided => NeedMore // greedy prefers the take arm
              case Sat => go(si + 1, ri + 1, (si, ri) :: acc) match {
                case m: Matched => m
                case NeedMore => NeedMore
                case NoMatch => go(si + 1, ri, acc) // backtrack: skip the row
              }
              case Unsat => go(si + 1, ri, acc)
            }
          case OptReluctant =>
            // shortest first: try the empty binding, then take the row.
            // A NeedMore on the skip arm blocks committing to the longer
            // alternative — more input could validate the shorter one.
            go(si + 1, ri, acc) match {
              case m: Matched => m
              case NeedMore => NeedMore
              case NoMatch =>
                if (ri >= end) { if (finalAtEnd) NoMatch else NeedMore }
                else ok(st, si, ri, acc) match {
                  case Unsat => NoMatch
                  case Undecided => NeedMore
                  case Sat => go(si + 1, ri + 1, (si, ri) :: acc)
                }
            }
          case Plus | Star =>
            val (j, undecided, states) = runExtent(st, si, ri, acc, end)
            // an undecided extension or a run touching a non-final buffer
            // end blocks the greedy (longest-first) choice
            if (undecided || (j == end && !finalAtEnd)) NeedMore
            else {
              val minEnd = if (st.quant == Plus) ri + 1 else ri
              var k = j // greedy: longest run first
              while (k >= minEnd) {
                go(si + 1, k, states(k - ri)) match {
                  case m: Matched => return m
                  case NeedMore => return NeedMore
                  case NoMatch => k -= 1
                }
              }
              NoMatch
            }
          case PlusReluctant | StarReluctant =>
            val (j, undecided, states) = runExtent(st, si, ri, acc, end)
            val minEnd = if (st.quant == PlusReluctant) ri + 1 else ri
            // shortest run first; the first Matched is safe to commit even
            // when the run touches a non-final buffer end — future rows
            // only ever extend it, they cannot produce a SHORTER match
            var k = minEnd
            while (k <= j) {
              go(si + 1, k, states(k - ri)) match {
                case m: Matched => return m
                case NeedMore => return NeedMore
                case NoMatch => k += 1
              }
            }
            if (undecided || (j == end && !finalAtEnd)) NeedMore else NoMatch
          case Times(min, maxOpt) =>
            // POSSESSIVE (see Times doc): extend maximally up to max,
            // then proceed with exactly that run — no re-shortening
            val cap = maxOpt.map(m => math.min(end, ri + m)).getOrElse(end)
            val (j, undecided, states) = runExtent(st, si, ri, acc, cap)
            val len = j - ri
            if (undecided) NeedMore
            // run touches a non-final buffer end and could still grow
            else if (j == end && !finalAtEnd && maxOpt.forall(len < _)) NeedMore
            else if (len < min) NoMatch
            else go(si + 1, j, states(len))
          case TimesReluctant(min, maxOpt) =>
            // shortest in-range binding first (r14 — Flink CEP's
            // times(n,m).reluctant): like the other reluctant forms, the
            // first Matched is safe to commit even when the run touches a
            // non-final buffer end — future rows only ever extend the
            // run, they cannot produce a SHORTER match
            val cap = maxOpt.map(m => math.min(end, ri + m)).getOrElse(end)
            val (j, undecided, states) = runExtent(st, si, ri, acc, cap)
            val len = j - ri
            if (len < min) {
              // the run cannot reach min yet: wait if it could still grow
              if (undecided || (j == end && !finalAtEnd)) NeedMore
              else NoMatch
            } else {
              var k = ri + min
              while (k <= j) {
                go(si + 1, k, states(k - ri)) match {
                  case m: Matched => return m
                  case NeedMore => return NeedMore
                  case NoMatch => k += 1
                }
              }
              if (undecided ||
                  (j == end && !finalAtEnd && maxOpt.forall(len < _)))
                NeedMore
              else NoMatch
            }
        }
      }
    go(0, start, Nil)
  }

  /** Scan a sorted closed prefix: emit matches, resume per the AFTER
    * MATCH `skip` strategy, return the bound-rows of each match and the
    * index the buffer must be retained from (first row of an
    * unadjudicated partial match — with an overlapping strategy that can
    * precede already-emitted matches' rows, which stay buffered).
    * `withinUs == Long.MaxValue` means no WITHIN bound; otherwise each
    * attempt is confined to rows within `withinUs` of its start row and
    * becomes final once the watermark (`wmUs`) passes that window.
    *
    * `measPrev`/`measNext` (r15): physical context each match carries
    * for MEASURES-side PREV/NEXT — up to `measPrev` input rows
    * immediately before the match's first row (falling back to the
    * retained predecessor marker) and up to `measNext` rows after its
    * last row. A match consumes a contiguous input run, so this context
    * plus the bound rows is the complete navigation window. */
  private def scan(steps: IndexedSeq[GStep], rows: IndexedSeq[Row],
      finalInput: Boolean, wmUs: Long, withinUs: Long,
      bufPrev: IndexedSeq[Row], skip: SkipStrategy, microsOf: Row => Long,
      measPrev: Int = 0, measNext: Int = 0)
      : (List[(List[Bound], IndexedSeq[Row], IndexedSeq[Row])], Int) = {
    def boundIdx(variable: String, binds: List[(Int, Int)], first: Boolean,
        start: Int): Int = {
      val si = steps.indexWhere(_.name == variable)
      require(si >= 0, s"AFTER MATCH SKIP TO unknown pattern variable '$variable'")
      val idxs = binds.collect { case (s, r) if s == si => r }
      if (idxs.isEmpty) throw new IllegalStateException(
        s"AFTER MATCH SKIP TO '$variable': the variable bound no rows in this match")
      val t = if (first) idxs.min else idxs.max
      if (t == start) throw new IllegalStateException(
        s"AFTER MATCH SKIP TO '$variable' would restart the next match at the " +
          "same row — an infinite loop; the reference rejects this strategy too")
      t
    }
    val out = List.newBuilder[(List[Bound], IndexedSeq[Row], IndexedSeq[Row])]
    var i = 0
    var retain = rows.length
    var open = true
    while (i < rows.length && open) {
      val (end, finalAtEnd) =
        if (withinUs == Long.MaxValue) (rows.length, finalInput)
        else {
          val limitUs = microsOf(rows(i)) + withinUs
          var w = i
          while (w < rows.length && microsOf(rows(w)) <= limitUs) w += 1
          (w, finalInput || w < rows.length || limitUs <= wmUs)
        }
      tryMatch(steps, rows, i, end, finalAtEnd, finalInput, bufPrev) match {
        case Matched(e, binds) if measNext > 0 && !finalInput &&
            e + measNext > rows.length =>
          // r16 DELAYED EMISSION (MEASURES-side NEXT on a stream):
          // NEXT navigates the key's INPUT successors of the match's
          // last row, and the closed prefix holds fewer than measNext
          // of them. Later rows WILL slot exactly in this gap (every
          // future event time sorts after the closed rows), so the
          // match — already adjudicated; a rescan with more rows
          // re-finds it bit-identically — is HELD until its successor
          // context closes, then emitted. The reference buffers within
          // CEP and evaluates the same way (MatchCodeGenerator.scala:82
          // region). A key that never produces another row holds the
          // match indefinitely — semantically forced: emitting NULL
          // early would be wrong the moment a successor arrives.
          retain = i; open = false
        case Matched(e, binds) =>
          val byStep = binds.groupBy(_._1)
          val preCtx = if (measPrev == 0) IndexedSeq.empty[Row]
            else (bufPrev ++ rows.take(i)).takeRight(measPrev)
          val postCtx = if (measNext == 0) IndexedSeq.empty[Row]
            else rows.slice(e, e + measNext)
          out += ((steps.indices.map(si =>
            Bound(steps(si).name,
              byStep.getOrElse(si, Nil).map(p => rows(p._2)))).toList,
            preCtx, postCtx))
          val resume = skip match {
            case SkipPastLastRow => e
            case SkipToNextRow => i + 1
            case SkipToFirst(v) => boundIdx(v, binds, first = true, start = i)
            case SkipToLast(v) => boundIdx(v, binds, first = false, start = i)
          }
          i = math.max(resume, i + 1) // guard: an all-optional empty match
        case NoMatch => i += 1
        case NeedMore => retain = i; open = false
      }
    }
    (out.result(), if (open) rows.length else retain)
  }
  /** Run `steps` over each partition's ordered sequence (`orderBy`, all
    * ascending); one output row per match via `emit(partitionKey,
    * boundSteps)`. Works on streaming and batch DataFrames (see object
    * doc). `within` bounds every match's event-time span from its first
    * row and prunes partial-match state once the watermark closes the
    * window. */
  def matchPattern[O: Encoder](df: DataFrame, partCols: Seq[String],
      orderBy: Seq[String], steps: Seq[Step], delay: String,
      emit: (Row, Seq[Bound]) => O,
      within: Option[java.time.Duration] = None,
      skip: SkipStrategy = SkipPastLastRow): Dataset[O] =
    matchRows(df, partCols, orderBy.map(_ -> true), steps.map(adapt), skip,
      within, (key, _, bound, _, _) => Iterator.single(emit(key, bound)),
      implicitly[Encoder[O]], delay)

  /** One output row per MATCHED ROW — SQL's `ALL ROWS PER MATCH`: every
    * input column plus `match_no` (`MATCH_NUMBER()`, the per-key
    * 1-based match ordinal), `pos` (the row's 1-based position in its
    * match), `classifier` (`CLASSIFIER()`, the step that bound the row),
    * and the RUNNING vs FINAL count of the row's own classifier
    * (reference: MatchCodeGenerator.scala:82 `CLASSIFIER`/`MATCH_NUMBER`
    * calls, FlinkSqlOperatorTable RUNNING/FINAL operators): `running_n`
    * counts the classifier's rows up to and including this one — the
    * RUNNING semantics every MEASURES expression has per row — while
    * `final_n` is the whole-match count the FINAL modifier exposes. */
  def matchPatternAllRows(df: DataFrame, partCols: Seq[String],
      orderBy: Seq[String], steps: Seq[Step], delay: String,
      within: Option[java.time.Duration] = None,
      skip: SkipStrategy = SkipPastLastRow): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("match_no", LongType, nullable = false),
      StructField("pos", LongType, nullable = false),
      StructField("classifier", StringType, nullable = false),
      StructField("running_n", LongType, nullable = false),
      StructField("final_n", LongType, nullable = false)))
    matchRows(df, partCols, orderBy.map(_ -> true), steps.map(adapt), skip,
      within, (_, matchNo, bound, _, _) => {
        val finals = bound.map(b => b.name -> b.rows.size.toLong).toMap
        val running = scala.collection.mutable.Map.empty[String, Long]
        var pos = 0L
        bound.iterator.flatMap(b => b.rows.iterator.map { row =>
          pos += 1
          val r = running.getOrElse(b.name, 0L) + 1
          running(b.name) = r
          Row.fromSeq(row.toSeq ++ Seq(matchNo, pos, b.name, r, finals(b.name)))
        })
      }, Encoders.row(outSchema), delay)
  }

  /** Serialized per-key streaming state: the unadjudicated buffer, the
    * last `prevDepth` input rows before it (so PREV predicates stay exact
    * across triggers and match boundaries at any declared depth), and the
    * per-key MATCH_NUMBER high-water mark (it survives as long as the key
    * holds any state). Raw row values, java-serialized (see
    * OverAggregates.GenState note; public because the serialized-state
    * encoder requires a public class). */
  final case class MatchState(rows: Seq[Seq[Any]], prev: Seq[Seq[Any]],
      nMatches: Long = 0L)

  /** The MATCH_RECOGNIZE executor — the one path behind both surfaces,
    * batch and streaming.
    *
    * Batch: each key's rows sort by `orderKeys` (any columns, ASC or DESC;
    * WITHIN needs a leading ascending timestamp) and run once as a final
    * input. Streaming: the leading ORDER BY column must be an ascending
    * timestamp (the event-time axis, watermarked by `delay`); rows BUFFER
    * per key until the watermark closes them, the NFA scans the closed
    * prefix, unadjudicated partial matches retain their rows, an
    * event-time timer re-fires when the watermark reaches the earliest
    * retained row, and a PREV-using pattern keeps the O(prevDepth)
    * predecessor marker across full consumption (expiring with WITHIN,
    * the same pruning the reference NFA applies to its shared buffer). A
    * streaming pattern ending in a greedy quantifier needs WITHIN (see
    * below).
    *
    * `emit(key, matchNo, binds, preCtx, postCtx)` renders one match —
    * `preCtx`/`postCtx` are up to `measPrev` input rows before the match
    * and `measNext` after it, for MEASURES-side PREV/NEXT (on a stream a
    * match is held until its `measNext` successors close — delayed
    * emission, see `scan`).
    *
    * Scale: one shuffle on the partition columns (`groupByKey`), then a
    * per-key in-memory sort + single-pass NFA — batch state is O(one
    * key's rows), the same bound every MATCH_RECOGNIZE engine has;
    * streaming state is the unadjudicated buffer, bounded by WITHIN + the
    * watermark delay. An EMPTY `partCols` is accepted (the reference IT
    * cases use partitionless patterns) but is inherently sequential —
    * one group — on any engine; partition when the data is large. */
  def matchRows[O](df: DataFrame, partCols: Seq[String],
      orderKeys: Seq[(String, Boolean)], steps: Seq[GStep],
      skip: SkipStrategy, within: Option[java.time.Duration],
      emit: (Row, Long, Seq[Bound], IndexedSeq[Row], IndexedSeq[Row])
        => Iterator[O],
      outEnc: Encoder[O], delay: String = "0 seconds",
      measPrev: Int = 0, measNext: Int = 0): Dataset[O] = {
    require(steps.nonEmpty, "PATTERN must have at least one step")
    require(orderKeys.nonEmpty, "ORDER BY must name at least one column")
    val schema = df.schema
    val isStreaming = df.isStreaming
    val ord = KeyedState.order(schema, orderKeys).rows
    val (leadCol, leadAsc) = orderKeys.head
    val leadIdx = schema.fieldIndex(leadCol)
    val leadType = schema.fields(leadIdx).dataType
    val leadIsTime = leadType == TimestampType && leadAsc
    require(!isStreaming || leadIsTime,
      "streaming MATCH_RECOGNIZE orders on event time: the leading ORDER " +
        s"BY column must be an ascending timestamp, got $leadType")
    require(within.isEmpty || leadIsTime, "WITHIN requires the leading " +
      s"ORDER BY column to be an ascending timestamp, got $leadType")
    val withinUs = within.map(_.toNanos / 1000).getOrElse(Long.MaxValue)
    require(withinUs > 0, s"WITHIN must be a positive duration, got $within")
    // A STREAMING pattern ending in a GREEDY quantifier can never be
    // adjudicated WITHOUT a WITHIN bound: a trailing B+/B*/B? run is
    // always extendable by rows with later event times, so every
    // candidate would sit in NeedMore forever (matching Flink CEP, which
    // needs WITHIN to bound such patterns — once the watermark closes
    // start+within, the greedy arm is final). Fail fast instead of
    // silently emitting nothing. Reluctant tails are fine: they bind
    // minimally and finalize immediately.
    val greedyTail = steps.last.quant match {
      case Opt | Plus | Star => true
      // exact {n}: every complete run holds exactly n rows, so reaching
      // max finalizes it — no future row can extend. {n,m} with n<m and
      // {n,} are still extendable at any accepted length >= n (a run of k
      // rows, n <= k < m, must wait for the next row or a WITHIN bound)
      case Times(min, max) => !max.contains(min)
      case _ => false
    }
    require(!isStreaming || !greedyTail || within.isDefined,
      "a streaming PATTERN must end with an exactly-one or reluctant step " +
        s"or carry a WITHIN bound: a trailing greedy '${steps.last.name}' " +
        s"(${steps.last.quant}) can always be extended by future rows and " +
        "would never finalize")
    val maxPrev = steps.map(_.prevDepth).foldLeft(measPrev)(math.max)
    val usesPrev = maxPrev > 0
    val stepsArr = steps.toIndexedSeq
    // full-precision (micros) event time — getTime truncates to ms and
    // would mis-order same-ms rows; read only on streams or under WITHIN,
    // both of which require the timestamp lead checked above
    val microsOf: Row => Long =
      r => KeyedState.eventMicros(r.getAs[java.sql.Timestamp](leadIdx))
    // rows rebuilt from state keep the schema, so Step predicates can
    // read fields by name on every trigger
    def toRow(vals: Seq[Any]): Row = new GenericRowWithSchema(vals.toArray, schema)

    def process(key: Row, rows: Iterator[Row],
        state: GroupState[MatchState]): Iterator[O] = {
      val st = state.getOption
      val buf = st.map(_.rows.map(toRow)).getOrElse(Nil) ++ rows
      val sorted = buf.sorted(ord).toIndexedSeq
      // batch: the key's whole sequence is one final input (watermark ∞)
      val wmUs =
        if (isStreaming) state.getCurrentWatermarkMs() * 1000L
        else Long.MaxValue
      val closedN =
        if (isStreaming) sorted.segmentLength(r => microsOf(r) <= wmUs)
        else sorted.length
      val bufPrev = st.map(_.prev.map(toRow).toIndexedSeq)
        .getOrElse(IndexedSeq.empty)
      val (matches, retainFrom) = scan(stepsArr, sorted.take(closedN),
        finalInput = !isStreaming, wmUs, withinUs, bufPrev, skip, microsOf,
        measPrev, measNext)
      val baseNo = st.map(_.nMatches).getOrElse(0L)
      if (isStreaming) {
        val newCount = baseNo + matches.size
        val kept = sorted.slice(retainFrom, closedN) ++ sorted.drop(closedN)
        // the last maxPrev input rows preceding the retained buffer (r14:
        // arbitrary PREV depth — consumed rows append to the old marker)
        val newPrev: IndexedSeq[Row] =
          if (!usesPrev) IndexedSeq.empty
          else (bufPrev ++ sorted.take(retainFrom)).takeRight(maxPrev)
        if (kept.isEmpty) {
          // the buffer is fully adjudicated; only the O(prevDepth) PREV
          // marker may remain. With a WITHIN bound it expires once the
          // watermark is `within` past its NEWEST row — a row arriving
          // after that horizon sees no predecessor, the documented WITHIN
          // trade. Without WITHIN the marker is load-bearing indefinitely
          // and is retained.
          val markerDeadUs = newPrev.lastOption.map(microsOf)
            .map(us => if (withinUs == Long.MaxValue) Long.MaxValue
                       else us + withinUs)
          if (usesPrev && newPrev.nonEmpty && markerDeadUs.exists(_ > wmUs)) {
            state.update(MatchState(Nil, newPrev.map(_.toSeq), newCount))
            if (markerDeadUs.get != Long.MaxValue)
              state.setTimeoutTimestamp(
                math.max(markerDeadUs.get / 1000 + 1,
                  state.getCurrentWatermarkMs() + 1))
          } else state.remove()
        } else {
          state.update(MatchState(kept.map(_.toSeq),
            newPrev.map(_.toSeq), newCount))
          // ts-1 (ms) fires once the watermark REACHES the earliest
          // retained row (Spark fires strictly-after the registered
          // timestamp); clamp above the current watermark
          val headMs = microsOf(kept.head) / 1000
          state.setTimeoutTimestamp(
            math.max(headMs - 1, state.getCurrentWatermarkMs() + 1))
        }
      }
      matches.iterator.zipWithIndex.flatMap { case ((m, pre, post), i) =>
        emit(key, baseNo + i + 1, m, pre, post)
      }
    }

    val input = if (isStreaming) df.withWatermark(leadCol, delay) else df
    val timeout =
      if (isStreaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    KeyedState.run(input, partCols, timeout, outEnc)(process)
  }
}
