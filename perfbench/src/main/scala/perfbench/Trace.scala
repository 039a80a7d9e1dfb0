package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftListenerBridge, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SqlEndBridge}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced call: the layer it belongs to, its interval, the span that
  * caused it (-1 for none), the workload operation it ran in (-1 outside
  * operations), the phase (`setup`, `timed`, `check`) and the number of
  * result rows it returned (search spans only). */
final case class SpanRec(id: Long, layer: String, name: String, startMs: Double, endMs: Double,
                         parent: Long, op: Long, phase: String, results: Long)

object Intervals {
  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cs = 0.0
    var ce = Double.NegativeInfinity
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > ce) {
        if (ce > Double.NegativeInfinity) total += ce - cs
        cs = a; ce = b
      } else if (b > ce) ce = b
    }
    if (ce > Double.NegativeInfinity) total += ce - cs
    total
  }

  /** A span's self time: its length minus the part of it that its
    * children cover. Children may overlap each other (calls made from
    * different threads); covered time is counted once. */
  def selfTime(span: (Double, Double), children: Seq[(Double, Double)]): Double =
    (span._2 - span._1) - unionLength(children.map { case (a, b) =>
      (math.max(a, span._1), math.min(b, span._2)) })
}

/** Records spans around calls into graft's layers. Disabled (untraced
  * runs) it only runs the body. Enabled, each span sets the Spark local
  * property [[Tracer.Prop]] to its id for the calling thread, so every job
  * the call launches — also from threads the call starts, which inherit
  * local properties — is attributed to it; the listener bus is drained
  * before the span closes. Spans stay in memory until the run ends. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  @volatile var phase: String = "setup"
  @volatile var currentOp: Long = -1L
  /** Span that spans opened on other threads (streaming batches) nest under. */
  @volatile private var ambient: Long = -1L
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[SpanRec]()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](layer: String, name: String)(body: => T): T =
    measured(layer, name, asAmbient = false, (_: T) => 0L)(body)

  /** A span whose result size (rows returned) is recorded. */
  def spanRows[T](layer: String, name: String)(rows: T => Long)(body: => T): T =
    measured(layer, name, asAmbient = false, rows)(body)

  /** A span that spans opened on other threads while it is open nest under. */
  def ambientSpan[T](layer: String, name: String)(body: => T): T =
    measured(layer, name, asAmbient = true, (_: T) => 0L)(body)

  private def measured[T](layer: String, name: String, asAmbient: Boolean,
                          rows: T => Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      val parent = stack.headOption.getOrElse(ambient)
      val prevProp = sc.getLocalProperty(Tracer.Prop)
      val ph = phase
      val op = currentOp
      open.set(id :: stack)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      if (asAmbient) ambient = id
      val t0 = Clock.nowMs
      var n = 0L
      try {
        val r = body
        n = rows(r)
        r
      } finally {
        GraftListenerBridge.waitUntilListenerBusEmpty(sc)
        val t1 = Clock.nowMs
        if (asAmbient) ambient = -1L
        spans.add(SpanRec(id, layer, name, t0, t1, parent, op, ph, n))
        open.set(stack)
        sc.setLocalProperty(Tracer.Prop, prevProp)
      }
    }

  def all: Seq[SpanRec] = spans.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  val Prop = "perfbench.span"
}

final class JobRec(val jobId: Int, val startMs: Long, val span: Long, val execId: Long,
                   val streaming: Boolean) {
  @volatile var endMs: Long = -1L
}

final case class TaskRec(stageId: Int, launchMs: Long, runMs: Long, shuffleBytes: Long,
                         spillBytes: Long, bytesWritten: Long)

final case class QeRec(execId: Long, planningMs: Double, scanRows: Long)

/** Spark listener that keeps job, stage, task and SQL-execution records in
  * memory for attribution to spans at the end of the run. */
final class Recorder extends SparkListener with AdaptiveSparkPlanHelper {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val stageSubmit = new ConcurrentHashMap[Int, Long]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, new JobRec(e.jobId, e.time,
      prop(Tracer.Prop).map(_.toLong).getOrElse(-1L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      prop("sql.streaming.queryId").isDefined))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten))
  }

  /** Planning time and parquet rows scanned of each finished SQL
    * execution, keyed by the execution id its jobs carry. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      SqlEndBridge.queryExecution(end).foreach { qe =>
        val scanned = collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }.sum
        qes.add(QeRec(end.executionId, qe.tracker.phases.values.map(_.durationMs.toDouble).sum, scanned))
      }
    case _ =>
  }
}

/** Per-layer metrics from the spans of the timed phase. Every kind except
  * `calls` is a mean per call of the layer. */
object LayerReport {
  val Layers: Seq[String] = Seq("embedders", "vector_index.search", "vector_index.mutate",
    "fulltext_index.search", "fulltext_index.mutate", "dedup_index", "streaming",
    "dedup", "similarity", "tokenizer_train")

  val Kinds: Seq[(String, String)] = Seq("calls" -> "count", "busy_ms" -> "ms/call",
    "jobs" -> "count/call", "tasks" -> "count/call", "task_ms" -> "ms/call",
    "queue_wait_ms" -> "ms/call", "planning_ms" -> "ms/call", "driver_gap_ms" -> "ms/call",
    "shuffle_bytes" -> "B/call", "spill_bytes" -> "B/call", "bytes_written" -> "B/call")

  /** Kinds that are zero by construction for a layer, left out of the report. */
  private val Omitted: Set[String] = Set(
    "embedders.bytes_written",
    "vector_index.search.bytes_written", "fulltext_index.search.bytes_written",
    "similarity.bytes_written", "tokenizer_train.bytes_written", "dedup.bytes_written")

  val Extras: Seq[(String, String)] = Seq("model.tokens_per_s" -> "tokens/s",
    "backend.tokens_per_s" -> "tokens/s",
    "vector_index.search.rows_scanned_per_result" -> "ratio",
    "fulltext_index.search.rows_scanned_per_result" -> "ratio",
    "streaming.tasks_per_batch" -> "count/batch")

  /** Every per-layer metric name with its unit, in report order. */
  val Metrics: Seq[(String, String)] =
    (for (l <- Layers; (k, u) <- Kinds if !Omitted(s"$l.$k")) yield (s"$l.$k", u)) ++ Extras

  final case class Result(metrics: Map[String, Double], busyShare: Map[String, Double],
                          coverage: Double)

  /** `ops` holds each timed operation's (op id, start, end) in epoch ms. */
  def apply(spans: Seq[SpanRec], rec: Recorder, ops: Seq[(Long, Double, Double)]): Result = {
    val timed = spans.filter(_.phase == "timed")
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    val streamingSpans = timed.filter(_.layer == "streaming")
    // jobs launched by the streaming engine outside any call span belong
    // to the micro-batch span open when they started
    val jobs = rec.jobs.values().asScala.toSeq
    def spanOf(j: JobRec): Long =
      if (j.span >= 0) j.span
      else if (j.streaming)
        streamingSpans.find(s => j.startMs >= s.startMs - 1 && j.startMs <= s.endMs + 1)
          .map(_.id).getOrElse(-1L)
      else -1L
    val jobSpan = jobs.map(j => j.jobId -> spanOf(j)).toMap
    val jobsBySpan = jobs.groupBy(j => jobSpan(j.jobId))
    val tasksByJob = rec.tasks.asScala.toSeq.groupBy(t => rec.stageJob.getOrDefault(t.stageId, -1))
    val execSpan = jobs.filter(_.execId >= 0).groupBy(_.execId)
      .map { case (e, js) => e -> jobSpan(js.minBy(_.jobId).jobId) }
    val qesBySpan = rec.qes.asScala.toSeq.groupBy(q => execSpan.getOrElse(q.execId, -1L))

    def kids(s: SpanRec) = children.getOrElse(s.id, Nil)
    def self(s: SpanRec) = Intervals.selfTime((s.startMs, s.endMs), kids(s).map(c => (c.startMs, c.endMs)))
    def ownJobs(s: SpanRec) = jobsBySpan.getOrElse(s.id, Nil)
    def ownTasks(s: SpanRec) = ownJobs(s).flatMap(j => tasksByJob.getOrElse(j.jobId, Nil))
    def gap(s: SpanRec) = {
      val end = s.endMs
      val covered = kids(s).map(c => (c.startMs, c.endMs)) ++
        ownJobs(s).map(j => (j.startMs.toDouble, if (j.endMs < 0) end else j.endMs.toDouble))
      Intervals.selfTime((s.startMs, s.endMs), covered)
    }

    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val busy = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    Layers.foreach { l =>
      val ss = timed.filter(_.layer == l)
      val n = ss.size.toDouble
      def mean(f: SpanRec => Double) = if (n == 0) 0.0 else ss.map(f).sum / n
      busy(l) = ss.map(self).sum
      val vals = Map(
        "calls" -> n,
        "busy_ms" -> mean(self),
        "jobs" -> mean(s => ownJobs(s).size.toDouble),
        "tasks" -> mean(s => ownTasks(s).size.toDouble),
        "task_ms" -> mean(s => ownTasks(s).map(_.runMs).sum.toDouble),
        "queue_wait_ms" -> mean(s => ownTasks(s).map(t =>
          math.max(0L, t.launchMs - rec.stageSubmit.getOrDefault(t.stageId, t.launchMs))).sum.toDouble),
        "planning_ms" -> mean(s => qesBySpan.getOrElse(s.id, Nil).map(_.planningMs).sum),
        "driver_gap_ms" -> mean(gap),
        "shuffle_bytes" -> mean(s => ownTasks(s).map(_.shuffleBytes).sum.toDouble),
        "spill_bytes" -> mean(s => ownTasks(s).map(_.spillBytes).sum.toDouble),
        "bytes_written" -> mean(s => ownTasks(s).map(_.bytesWritten).sum.toDouble))
      Kinds.foreach { case (k, _) => if (!Omitted(s"$l.$k")) out(s"$l.$k") = vals(k) }
    }
    def scannedPerResult(l: String) = {
      val ss = timed.filter(_.layer == l)
      val scanned = ss.flatMap(s => qesBySpan.getOrElse(s.id, Nil)).map(_.scanRows).sum.toDouble
      val results = ss.map(_.results).sum.toDouble
      if (results == 0) 0.0 else scanned / results
    }
    out("vector_index.search.rows_scanned_per_result") = scannedPerResult("vector_index.search")
    out("fulltext_index.search.rows_scanned_per_result") = scannedPerResult("fulltext_index.search")
    // every span under a micro-batch span, at any depth
    def under(root: Long)(s: SpanRec): Boolean =
      s.id == root || (s.parent >= 0 && byId.get(s.parent).exists(under(root)))
    out("streaming.tasks_per_batch") =
      if (streamingSpans.isEmpty) 0.0
      else streamingSpans.map { b =>
        timed.filter(under(b.id)).map(s => ownTasks(s).size).sum.toDouble
      }.sum / streamingSpans.size
    // share of the operations' wall time that their top-level spans cover
    val coverage = {
      val tops = timed.filter(_.parent < 0).groupBy(_.op)
      val covered = ops.map { case (op, a, b) =>
        Intervals.unionLength(tops.getOrElse(op, Nil).map(s =>
          (math.max(a, s.startMs), math.min(b, s.endMs))))
      }.sum
      val total = ops.map { case (_, a, b) => b - a }.sum
      if (total <= 0) 0.0 else covered / total
    }
    val busyTotal = busy.values.sum
    Result(out.toMap, busy.map { case (l, b) => l -> (if (busyTotal > 0) b / busyTotal else 0.0) }.toMap,
      coverage)
  }
}
