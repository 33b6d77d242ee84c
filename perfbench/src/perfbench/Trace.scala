package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch microseconds from the monotonic clock, so harness spans and Spark's
  * epoch-millisecond event times share one axis.
  */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** An interval owned by one layer. Where intervals overlap, the deepest owns
  * the instant, so an operation's layer self times add up to its wall time.
  */
final case class Span(layer: String, startUs: Long, endUs: Long, depth: Int) {
  def us: Long = math.max(0L, endUs - startUs)
}

object Span {
  val Harness = 1   // harness spans: build, drain, params, engine, mapper
  val Phase = 10    // Catalyst phases read from QueryExecution.tracker
  val Job = 11      // Spark jobs read from the listener

  /** Self time per layer inside `root`: each elementary segment goes to the
    * deepest span covering it (the later span on a tie); uncovered time goes
    * to `root`'s own layer.
    */
  def selfTimes(root: Span, spans: Seq[Span]): Map[String, Long] = {
    val all = (root +: spans.map(s =>
      s.copy(startUs = math.max(s.startUs, root.startUs),
        endUs = math.min(s.endUs, root.endUs)))).filter(_.us > 0).toIndexedSeq
    val cuts = all.flatMap(s => Seq(s.startUs, s.endUs)).distinct.sorted
    val acc = mutable.LinkedHashMap.empty[String, Long]
    cuts.iterator.sliding(2).withPartial(false).foreach { case Seq(a, b) =>
      var owner = root
      var i = 0
      while (i < all.length) {
        val s = all(i)
        if (s.startUs <= a && s.endUs >= b && s.depth >= owner.depth) owner = s
        i += 1
      }
      acc(owner.layer) = acc.getOrElse(owner.layer, 0L) + (b - a)
    }
    acc.toMap
  }
}

/** What one traced operation cost below the harness: Spark phases and jobs
  * as spans, and execution counters summed over its jobs.
  */
final class OpEvents {
  val spans = ArrayBuffer.empty[Span]
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = counters(k) += v
}

/** Collects Spark's public observations — job, stage and task events from a
  * `SparkListener`, phase times and executed plans from a
  * `QueryExecutionListener` — into a queue that the harness drains at the
  * end of each traced operation. Installed only for traced runs.
  */
final class Collector(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Collector._

  private val queue = new ConcurrentLinkedQueue[Ev]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, (e.time, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, st) =>
      queue.add(JobEv(e.jobId, t0, e.time, st)) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      queue.add(StageEv(i.stageId, s, c, i.parentIds))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) queue.add(TaskEv(e.taskInfo.duration, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead,
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    queue.add(QeEv(Collector.phaseSpans(qe), Collector.filesRead(qe.executedPlan)))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    queue.add(QeEv(Collector.phaseSpans(qe), 0L))

  /** Drop everything observed so far (events of untraced work). */
  def reset(): Unit = { org.apache.spark.PerfbenchBus.drain(spark.sparkContext); queue.clear() }

  /** Everything observed since the last call, after the bus has delivered
    * it. The harness's own drain runs as a named SQL execution, so the
    * execution listener reports it like any other.
    */
  def take(): OpEvents = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val out = new OpEvents
    val jobs = ArrayBuffer.empty[JobEv]
    val stages = mutable.Map.empty[Int, StageEv]
    var ev = queue.poll()
    while (ev != null) {
      ev match {
        case j: JobEv => jobs += j
        case s: StageEv => stages(s.id) = s
        case t: TaskEv =>
          out.add("tasks", 1); out.add("task_ms", t.durMs.toDouble)
          out.add("cpu_ns", t.cpuNs.toDouble); out.add("gc_ms", t.gcMs.toDouble)
          out.add("input_bytes", t.inBytes.toDouble)
          out.add("shuffle_bytes", t.shuffleBytes.toDouble)
          out.add("spill_bytes", t.spillBytes.toDouble)
        case q: QeEv =>
          out.spans ++= q.phases; out.add("files_read", q.filesRead.toDouble)
      }
      ev = queue.poll()
    }
    jobs.foreach { j =>
      out.spans += Span("exec", j.startMs * 1000L, j.endMs * 1000L, Span.Job)
      out.add("jobs", 1)
      val ran = j.stages.flatMap(stages.get)
      out.add("stages", ran.size.toDouble)
      // critical path: the longest chain of stage durations along parent links
      val memo = mutable.Map.empty[Int, Long]
      def path(s: StageEv): Long = memo.getOrElseUpdate(s.id,
        (s.endMs - s.startMs) + s.parents.flatMap(stages.get).map(path).maxOption.getOrElse(0L))
      val critical = ran.map(path).maxOption.getOrElse(0L)
      out.add("sched_gap_ms", math.max(0L, (j.endMs - j.startMs) - critical).toDouble)
    }
    out
  }
}

object Collector {
  private[perfbench] sealed trait Ev
  private[perfbench] final case class JobEv(id: Int, startMs: Long, endMs: Long, stages: Seq[Int]) extends Ev
  private[perfbench] final case class StageEv(id: Int, startMs: Long, endMs: Long, parents: Seq[Int]) extends Ev
  private[perfbench] final case class TaskEv(durMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long,
                                  shuffleBytes: Long, spillBytes: Long) extends Ev
  private[perfbench] final case class QeEv(phases: Seq[Span], filesRead: Long) extends Ev

  private val phaseLayer = Map("parsing" -> "spark.parse", "analysis" -> "spark.analyze",
    "optimization" -> "spark.optimize", "planning" -> "spark.plan")

  def phaseSpans(qe: QueryExecution): Seq[Span] =
    qe.tracker.phases.toSeq.flatMap { case (name, p) =>
      phaseLayer.get(name).map(l => Span(l, p.startTimeMs * 1000L, p.endTimeMs * 1000L, Span.Phase))
    }

  /** Files the executed plan's scans read, from their `numFiles` SQL metric. */
  def filesRead(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case q: QueryStageExec => filesRead(q.plan)
    case p =>
      p.metrics.get("numFiles").filter(_ => p.nodeName.startsWith("Scan")).map(_.value).getOrElse(0L) +
        (p.children ++ p.subqueries).map(filesRead).sum
  }
}

/** One traced operation: its spans (the root first) kept in memory until
  * the end of the run, and what they add up to.
  */
final case class OpRecord(id: Int, kind: String, name: String, spans: Seq[Span],
                          selfUs: Map[String, Long], counters: Map[String, Double]) {
  def wallUs: Long = spans.head.us
  /** Wall time of the harness spans of `layer`, children included. */
  def spanUs(layer: String): Long = spans.filter(s => s.layer == layer && s.depth == Span.Harness).map(_.us).sum
}

object OpRecord {
  /** Builds the record of one traced operation from its harness spans and
    * what the collector saw. `root` covers the whole operation; its own self
    * time is reported as `other`.
    */
  def of(id: Int, kind: String, name: String, root: Span, harness: Seq[Span],
         ev: OpEvents): OpRecord = {
    val top = root.copy(layer = "other", depth = 0)
    val spans = top +: (harness ++ ev.spans)
    OpRecord(id, kind, name, spans, Span.selfTimes(top, spans.tail), ev.counters.toMap)
  }

  /** Writes every span of the run as one JSON line: operation, span id,
    * parent (the innermost shallower span containing its start, or the
    * root), layer, start and end in epoch microseconds.
    */
  def write(path: java.nio.file.Path, records: Seq[OpRecord]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try records.foreach { r =>
      r.spans.zipWithIndex.foreach { case (s, i) =>
        val parent = if (i == 0) -1 else r.spans.indices
          .filter(j => j != i && r.spans(j).depth < s.depth &&
            r.spans(j).startUs <= s.startUs && s.startUs <= r.spans(j).endUs)
          .maxByOption(j => r.spans(j).depth).getOrElse(0)
        w.write(s"""{"op":${r.id},"kind":"${r.kind}","name":"${r.name}","span":$i,"parent":$parent,""" +
          s""""layer":"${s.layer}","start_us":${s.startUs},"end_us":${s.endUs}}""")
        w.newLine()
      }
    } finally w.close()
  }
}

/** Harness-side spans of the operation in progress. */
final class SpanBuf {
  val spans = ArrayBuffer.empty[Span]
  def time[T](layer: String, depth: Int = Span.Harness)(body: => T): T = {
    val s = Clock.nowUs
    try body finally spans += Span(layer, s, Clock.nowUs, depth)
  }
}
