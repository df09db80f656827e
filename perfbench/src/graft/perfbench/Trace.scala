package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `op` is the id of the workload operation the span
  * belongs to (its root span's id); `parent` is -1 for a root. Times are
  * System.nanoTime values. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    name: String, startNs: Long, endNs: Long)

/** Spans recorded around the benchmark's own calls into each layer of the
  * program, kept in memory and written out only at exit. Disabled, every
  * method just runs its body, and so does it before [[start]]: set-up and
  * warm-up are not traced. The single client thread is the only caller.
  *
  * The innermost open span's id rides the SparkContext thread-local
  * property [[Tracer.SpanProp]], so the Spark jobs a call launches are tied
  * to the span that launched them. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, Int, String, String, Long)] = Nil // id, op, layer, name, start
  private var nextId = 0
  private var spark: SparkSession = _

  private var active = false

  def attach(s: SparkSession): Unit = spark = s
  def start(): Unit = active = true

  private def setProp(v: String): Unit =
    if (spark != null) spark.sparkContext.setLocalProperty(Tracer.SpanProp, v)

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled || !active) body
    else {
      val id = nextId; nextId += 1
      val op = stack.headOption.map(_._2).getOrElse(id)
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, op, layer, name, System.nanoTime()) :: stack
      setProp(id.toString)
      try body
      finally {
        val (_, _, _, _, start) = stack.head
        stack = stack.tail
        spans += Span(id, parent, op, layer, name, start, System.nanoTime())
        setProp(stack.headOption.map(_._1.toString).orNull)
      }
    }

  /** A workload operation: the root span of one op id. */
  def op[A](name: String)(body: => A): A = span("bench", name)(body)
  def api[A](name: String)(body: => A): A = span("api", name)(body)
  def ops[A](name: String)(body: => A): A = span("ops", name)(body)
  def format[A](name: String)(body: => A): A = span("format", name)(body)

  def recorded: Seq[Span] = spans.toSeq
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Execution counters from Spark's listener bus, per job tied to the span
  * that launched it. Registered only for the traced run. */
final class ExecListener extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val schedulerWaitMs = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  // (jobId -> (span id or -1, start ms, end ms))
  val jobSpans = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long, Long)]()
  private val stageSubmitted = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(-1)
    jobSpans.put(e.jobId, (span, e.time, -1L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpans.computeIfPresent(e.jobId, (_, v) => (v._1, v._2, e.time))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmitted.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
    }
    val submitted = stageSubmitted.get((e.stageId, e.stageAttemptId))
    if (submitted != null && e.taskInfo != null)
      schedulerWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - submitted))
  }
}

/** Catalyst phase times (`QueryExecution.tracker`) and the hadro DSv2
  * custom metrics of every executed plan. Registered only for the traced
  * run. */
final class PlanListener extends QueryExecutionListener {
  private val lock = new Object
  val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  // catalyst phase intervals in epoch ms, for self-time accounting
  val phaseIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val hadro = mutable.Map.empty[String, Long].withDefaultValue(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    // a query that failed before planning has no executed plan
    val metrics = try PlanMetrics.hadro(qe.executedPlan) catch { case _: Exception => Map.empty }
    lock.synchronized {
      for (p <- Seq("analysis", "optimization", "planning"); s <- phases.get(p)) {
        phaseMs(p) += s.durationMs
        phaseIntervals += ((s.startTimeMs, s.endTimeMs))
      }
      metrics.foreach { case (k, v) => hadro(k) += v }
    }
  }
}

object PlanMetrics {
  /** Count the segments one read operation scanned (`df` has run). */
  def countSegmentsRead(rec: Recorder, df: org.apache.spark.sql.DataFrame): Unit = {
    rec.volume("read_segments") += hadro(df.queryExecution.executedPlan)
      .getOrElse("hadroSegmentsRead", 0L).toDouble
    rec.volume("read_ops") += 1
  }

  /** Sum of every `hadro*` SQL metric over the nodes of an executed plan
    * (adaptive stages, command sub-plans and subqueries included; a
    * reused exchange is counted once). */
  def hadro(plan: SparkPlan): Map[String, Long] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p.metrics.foreach { case (k, m) => if (k.startsWith("hadro")) acc(k) += m.value }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case c: CommandResultExec => Seq(c.commandPhysicalPlan)
        case _: ReusedExchangeExec => Nil
        case _ => p.children ++ p.subqueries
      }
      kids.foreach(walk)
    }
    walk(plan)
    acc.toMap
  }
}

/** Per-layer self time: a span's duration minus the part of it that its
  * children cover. Children are the nested bench spans, the Spark jobs the
  * span launched, and the Catalyst phases that ran inside it. */
object SelfTime {
  def apply(spans: Seq[Span], jobs: Seq[(Int, Long, Long)],
      phases: Seq[(Long, Long)], nanoMinusMillis: Long): Map[String, Double] = {
    def ns(ms: Long) = ms * 1000000L + nanoMinusMillis
    val byId = spans.map(s => s.id -> s).toMap
    // the innermost span containing an interval (one client thread, so
    // containment in time is unambiguous)
    val sortedSpans = spans.sortBy(s => s.endNs - s.startNs)
    def innermost(a: Long, b: Long): Int =
      sortedSpans.find(s => s.startNs <= a && b <= s.endNs).map(_.id).getOrElse(-1)
    val children = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
    def addChild(parent: Int, a: Long, b: Long): Unit =
      if (parent >= 0) children.getOrElseUpdate(parent, mutable.ArrayBuffer.empty) += ((a, b))
    spans.foreach(s => addChild(s.parent, s.startNs, s.endNs))
    val derived = mutable.ArrayBuffer.empty[(String, Long, Long)]
    jobs.foreach { case (span, startMs, endMs) =>
      if (endMs >= startMs) {
        val (a, b) = (ns(startMs), ns(endMs))
        val p = if (byId.contains(span)) span else innermost(a, b)
        addChild(p, a, b)
        derived += (("exec", a, b))
      }
    }
    phases.foreach { case (startMs, endMs) =>
      val (a, b) = (ns(startMs), ns(endMs))
      addChild(innermost(a, b), a, b)
      derived += (("catalyst", a, b))
    }
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val covered = union(children.getOrElse(s.id, Nil).toSeq
        .map { case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs)) })
      self(s.layer) += math.max(0L, s.endNs - s.startNs - covered) / 1e9
    }
    // exec and catalyst intervals have no recorded children of their own
    // (a job launched while planning is counted under both)
    derived.foreach { case (layer, a, b) => self(layer) += (b - a) / 1e9 }
    self.toMap
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
