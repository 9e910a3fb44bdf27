package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative layer counters at one instant. Every field but the peak
  * only grows, so the work of an interval is the difference of two
  * snapshots; the peak of an interval is the later snapshot's. */
final case class Counters(values: Map[String, Double]) {
  def -(o: Counters): Counters = Counters(values.map { case (k, v) =>
    k -> (if (k == Counters.Peak) v else v - o.values.getOrElse(k, 0.0))
  })
  def apply(k: String): Double = values.getOrElse(k, 0.0)
}

object Counters {
  val Peak = "exec.peak_task_mem_mb"
}

/** One traced call into a layer: name, start and end (ms since the run
  * began), the enclosing span, the operation it belongs to, and the
  * layer counters that moved between its two boundaries. */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, op: Int, counts: Counters)

/** The traced run's instruments: a Spark listener for the scheduler and
  * executor counters, a query-execution listener for Catalyst phase
  * times and the final physical plans, Spark's codegen counters, and an
  * in-memory span stack. Nothing here is installed in an untraced run.
  */
final class Probe(spark: SparkSession)
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val t0 = System.nanoTime()
  def now: Double = (System.nanoTime() - t0) / 1e6

  private val c = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private var peakTaskMem = 0.0
  private val jobStart = mutable.HashMap.empty[Int, Long]
  /** Finished jobs as (start, end) in wall-clock ms. */
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  private def add(k: String, v: Double): Unit = synchronized { c(k) += v }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c("scheduler.jobs") += 1
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { s =>
      jobSpans += ((s, e.time)); c("scheduler.job_wall_ms") += e.time - s
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("scheduler.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("scheduler.tasks") += 1
    Option(e.taskMetrics).foreach { m =>
      c("exec.task_ms") += m.executorRunTime
      c("exec.task_cpu_ms") += m.executorCpuTime / 1e6
      c("exec.gc_ms") += m.jvmGCTime
      c("exec.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("exec.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("exec.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("io.bytes_written") += m.outputMetrics.bytesWritten
      peakTaskMem = math.max(peakTaskMem, m.peakExecutionMemory / 1048576.0)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => add("aqe.plan_updates", 1)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def phase(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    add("catalyst.analysis_ms", phase("analysis"))
    add("catalyst.optimization_ms", phase("optimization"))
    add("catalyst.planning_ms", phase("planning"))
    // a query that failed in analysis has no physical plan to count
    scala.util.Try(qe.executedPlan).foreach(joins)
  }

  /** Joins in the final adaptive plan, subqueries included. */
  private def joins(plan: SparkPlan): Unit = {
    val kinds = collectWithSubqueries(plan) {
      case _: SortMergeJoinExec => "join.sort_merge"
      case _: BroadcastHashJoinExec => "join.broadcast_hash"
      case _: ShuffledHashJoinExec => "join.shuffled_hash"
    }
    kinds.foreach(add(_, 1))
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def remove(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  /** All counters as of now, after the listener bus has delivered every
    * event posted so far. */
  def snapshot(): Counters = {
    PerfbenchBus.drain(spark.sparkContext)
    val codegen = Map(
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6)
    synchronized {
      Counters(c.toMap ++ codegen + (Counters.Peak -> peakTaskMem))
    }
  }

  /** Wall time in [from, to] (epoch ms) that no finished job covers. */
  def outsideJobsMs(from: Long, to: Long): Double = synchronized {
    val cut = jobSpans.iterator.map { case (s, e) => (s max from, e min to) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L; var reach = from
    cut.foreach { case (s, e) =>
      if (e > reach) { covered += e - (s max reach); reach = e }
    }
    (to - from - covered).toDouble
  }

  // -- spans ---------------------------------------------------------------

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = 0

  /** Run `body` inside a span named `name`, nested under the current one. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val before = snapshot(); val start = now
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      val after = snapshot()
      spans += Span(id, name, start, now, parent, op, after - before)
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Spans as JSON lines. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val counts = s.counts.values.filter(_._2 != 0).toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"$k\":${Json.num(v)}" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","start_ms":${Json.num(s.start)},""" +
        s""""end_ms":${Json.num(s.end)},"parent":${s.parent},"op":${s.op},"counts":{$counts}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
