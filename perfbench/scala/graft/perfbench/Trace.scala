package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span of the benchmark's trace: job -> table -> phase -> Spark action.
  * Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Any] = Map.empty)

/** Spans recorded around the calls into each layer. Kept in memory and
  * written once at the end. A span's id is put in the Spark local
  * property [[Spans.Key]] for its duration, so the Spark jobs it causes
  * (also from pool threads, which inherit local properties) name it. */
final class Spans(sc: SparkContext) {
  val runId: String = java.util.UUID.randomUUID().toString
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer.empty[Span]

  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized { buf.toList }

  def span[T](name: String, kind: String, parent: Long,
              attrs: Map[String, Any] = Map.empty)(f: Long => T): T = {
    val id = newId()
    val prev = sc.getLocalProperty(Spans.Key)
    sc.setLocalProperty(Spans.Key, id.toString)
    val t0 = System.nanoTime()
    val start = Spans.nowMs()
    try f(id)
    finally {
      add(Span(id, parent, name, kind, start, start + (System.nanoTime() - t0) / 1e6, attrs))
      sc.setLocalProperty(Spans.Key, prev)
    }
  }
}

object Spans {
  val Key = "perfbench.span"
  def nowMs(): Double = System.currentTimeMillis().toDouble
}

/** Task metrics summed over the Spark work one span caused. */
final class TaskAgg {
  var jobs, stages, tasks, failures = 0L
  var runMs, cpuNs, shuffleWrite, shuffleRead, spill = 0L
  var inRows, outRows, outBytes = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Largest task time over the median task time, in the stage with the
    * most task time. */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      val med = math.max(1L, ts(ts.size / 2))
      ts.last.toDouble / med
    }
}

/** A root SQL execution: one Spark action. */
final case class Execution(id: Long, desc: String, plan: String,
                           startMs: Long, var endMs: Long = -1, var span: Long = -1)

/** Gathers jobs, stages, tasks and SQL executions from Spark's listener
  * bus, attributed to the span named by each job's local property. */
final class Collector extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val stageExec = mutable.Map.empty[Int, Long]
  private val bySpan = mutable.Map.empty[Long, TaskAgg]
  private val byExec = mutable.Map.empty[Long, TaskAgg]
  private val execs = mutable.LinkedHashMap.empty[Long, Execution]

  private def aggs(span: Long, exec: Long): Seq[TaskAgg] =
    Seq(bySpan.getOrElseUpdate(span, new TaskAgg)) ++
      (if (exec >= 0) Seq(byExec.getOrElseUpdate(exec, new TaskAgg)) else Nil)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Spans.Key).map(_.toLong).getOrElse(-1L)
    val exec = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
      .map(_.toLong).getOrElse(-1L)
    e.stageInfos.foreach { s => stageSpan(s.stageId) = span; stageExec(s.stageId) = exec }
    aggs(span, exec).foreach(_.jobs += 1)
    execs.get(exec).foreach(x => if (x.span < 0) x.span = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    aggs(stageSpan.getOrElse(id, -1L), stageExec.getOrElse(id, -1L)).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    aggs(stageSpan.getOrElse(e.stageId, -1L), stageExec.getOrElse(e.stageId, -1L)).foreach { a =>
      a.tasks += 1
      if (e.reason != Success) a.failures += 1
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.inRows += m.inputMetrics.recordsRead
        a.outRows += m.outputMetrics.recordsWritten
        a.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
        execs(s.executionId) = Execution(s.executionId, s.description,
          s.physicalPlanDescription, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach(_.endMs = s.time)
      case _ =>
    }
  }

  def spanAgg(span: Long): TaskAgg = synchronized(bySpan.getOrElse(span, new TaskAgg))
  def execAgg(exec: Long): TaskAgg = synchronized(byExec.getOrElse(exec, new TaskAgg))
  def executions: Seq[Execution] = synchronized(execs.values.toList)
}

/** One query execution seen by Spark's `QueryExecutionListener`: its
  * plan phases from `QueryPlanningTracker`, the SQL metrics of its writes
  * (files, commit time) and of its file scans (bytes). */
final case class PlanRecord(startMs: Long, analysisMs: Long, optimizationMs: Long,
                            planningMs: Long, files: Long, commitMs: Long, scanBytes: Long)

final class PlanListener extends QueryExecutionListener {
  private val buf = mutable.ArrayBuffer.empty[PlanRecord]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) System.currentTimeMillis() - durationNs / 1000000
                else ph.values.map(_.startTimeMs).min
    val plan = nodes(qe.executedPlan)
    val writes = plan.collect { case w: DataWritingCommandExec => w.cmd.metrics }
    def metric(k: String) = writes.flatMap(_.get(k)).map(_.value).sum
    val scanned = plan.collect { case f: FileSourceScanExec => f.metrics.get("filesSize") }
    val rec = PlanRecord(start, ms("analysis"), ms("optimization"), ms("planning"),
      metric("numFiles"), metric("taskCommitTime") + metric("jobCommitTime"),
      scanned.flatten.map(_.value).sum)
    synchronized { buf += rec }
  }

  /** Every node of an executed plan, through adaptive query stages and
    * eagerly executed commands. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case other => other.children.flatMap(nodes)
  })

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def within(fromMs: Double, toMs: Double): Seq[PlanRecord] =
    synchronized(buf.filter(r => r.startMs >= fromMs && r.startMs <= toMs).toList)
}

/** JSON for the benchmark's result and trace files: Scala maps, sequences
  * and options through the Jackson Scala module that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
