package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. Times are epoch nanoseconds;
  * `parent` 0 marks a root; every span of one query shares its `trace`. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    layer: String, startNs: Long, endNs: Long, attrs: Map[String, Any]) {
  def json: String = Json(Map("kind" -> "span", "id" -> id,
    "parent" -> parent, "trace" -> trace, "name" -> name, "layer" -> layer,
    "start_ns" -> startNs, "end_ns" -> endNs, "attrs" -> attrs))
}

/** Spans kept in memory and written out once, when the run ends. The
  * benchmark's own spans (setup, pass, query, build/optimize/execute) are
  * always recorded — they are a handful per query and carry the latencies
  * the end-to-end metrics come from; the Spark-side spans (job, stage,
  * micro-batch) exist only while [[Listeners]] are attached. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  // one clock for both sides: Spark stamps its events with wall-clock
  // millis, the benchmark times with nanoTime — map nanoTime onto epoch
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()

  def now(): Long = epoch0 + (System.nanoTime() - nano0)
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = done.add(s)
  def spans: Seq[Span] = done.toArray(Array.empty[Span]).toSeq

  /** Time `body` as a span. It receives the span's id so that the spans
    * and Spark jobs it causes can name it as their parent; `attrs` is
    * read after `body` ends, so the body may fill it. */
  def span[T](name: String, layer: String, parent: Long, trace: Long,
      attrs: mutable.Map[String, Any] = mutable.Map.empty,
      id: Long = newId())(body: Long => T): T = {
    val t0 = now()
    try body(id)
    finally add(Span(id, parent, trace, name, layer, t0, now(), attrs.toMap))
  }
}

/** Spark's public listener interfaces, attached from the benchmark while a
  * traced pass runs. Jobs find their query through the local properties
  * the benchmark sets on the client thread before each phase; Spark copies
  * them into every job it submits, micro-batch threads included. */
final class Listeners(tracer: Tracer, session: SparkSession) {
  private val sc = session.sparkContext
  import Listeners._

  private final class Stage(val jobSpan: Long, val trace: Long) {
    var submittedMs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Double]
    var waitMs, runMs, cpuNs, gcMs, fetchWaitMs = 0L
    var shuffleWrite, shuffleRead, spill, scanBytes, scanRows = 0L
    var failed = 0
  }

  private final case class Job(span: Long, parent: Long, trace: Long, startMs: Long)

  // mutated on the listener-bus thread; spans are read after detach()
  private val jobs = mutable.Map.empty[Int, Job]
  private val stages = mutable.Map.empty[(Int, Int), Stage]
  private val stageOwner = mutable.Map.empty[Int, Job]
  private val streams = mutable.Map.empty[java.util.UUID, (Long, Long)]

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = Job(tracer.newId(), prop(e.properties, SpanKey),
        prop(e.properties, TraceKey), e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = j)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { j =>
        tracer.add(Span(j.span, j.parent, j.trace, "job", "operators",
          j.startMs * 1000000L, e.time * 1000000L,
          Map("job_id" -> e.jobId, "failed" -> (e.jobResult != JobSucceeded))))
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      stageOwner.get(i.stageId).foreach { j =>
        val s = new Stage(j.span, j.trace)
        s.submittedMs = i.submissionTime.getOrElse(System.currentTimeMillis())
        stages((i.stageId, i.attemptNumber())) = s
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
        val ti = e.taskInfo
        s.taskMs += ti.duration.toDouble
        s.waitMs += math.max(0L, ti.launchTime - s.submittedMs)
        if (e.reason != Success) s.failed += 1
        Option(e.taskMetrics).foreach { m =>
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.scanBytes += m.inputMetrics.bytesRead
          s.scanRows += m.inputMetrics.recordsRead
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.remove((i.stageId, i.attemptNumber())).foreach { s =>
        val sorted = s.taskMs.sorted
        val median = if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2)
        tracer.add(Span(tracer.newId(), s.jobSpan, s.trace, "stage",
          "operators", s.submittedMs * 1000000L,
          i.completionTime.getOrElse(System.currentTimeMillis()) * 1000000L,
          Map("tasks" -> s.taskMs.size, "failed_tasks" -> s.failed,
            "task_run_s" -> s.runMs / 1e3, "task_cpu_s" -> s.cpuNs / 1e9,
            "task_gc_s" -> s.gcMs / 1e3, "task_wait_s" -> s.waitMs / 1e3,
            "task_s" -> s.taskMs.sum / 1e3,
            "max_task_s" -> sorted.lastOption.getOrElse(0.0) / 1e3,
            "median_task_s" -> median / 1e3,
            "shuffle_write_bytes" -> s.shuffleWrite,
            "shuffle_read_bytes" -> s.shuffleRead,
            "shuffle_fetch_wait_s" -> s.fetchWaitMs / 1e3,
            "spill_bytes" -> s.spill, "scan_bytes" -> s.scanBytes,
            "scan_rows" -> s.scanRows)))
      }
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    // called on the stream's own thread, which inherited the local
    // properties of the client thread that started it
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      def p(k: String) = Option(sc.getLocalProperty(k)).map(_.toLong).getOrElse(0L)
      synchronized(streams(e.runId) = (p(SpanKey), p(TraceKey)))
    }

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val pr = e.progress
      val (parent, trace) = synchronized(streams.getOrElse(pr.runId, (0L, 0L)))
      def ms(k: String): Long = Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val startMs = java.time.Instant.parse(pr.timestamp).toEpochMilli
      val ops = pr.stateOperators.toSeq
      tracer.add(Span(tracer.newId(), parent, trace, "batch", "streaming",
        startMs * 1000000L, (startMs + ms("triggerExecution")) * 1000000L,
        Map("input_rows" -> pr.numInputRows,
          "trigger_s" -> ms("triggerExecution") / 1e3,
          "add_batch_s" -> ms("addBatch") / 1e3,
          "plan_s" -> ms("queryPlanning") / 1e3,
          "wal_s" -> ms("walCommit") / 1e3,
          "state_commit_s" -> ops.map(_.commitTimeMs).sum / 1e3,
          "state_update_s" -> ops.map(_.allUpdatesTimeMs).sum / 1e3,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_bytes" -> ops.map(_.memoryUsedBytes).sum)))
    }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(spark)
    session.streams.addListener(streaming)
  }

  /** Deliver every queued event, then stop listening. */
  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    sc.removeSparkListener(spark)
    session.streams.removeListener(streaming)
  }
}

object Listeners {
  val SpanKey = "perfbench.span"
  val TraceKey = "perfbench.trace"
}
