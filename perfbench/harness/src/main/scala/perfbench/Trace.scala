package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds with nanoTime resolution, so harness
  * spans line up with the epoch-millisecond times Spark stamps on jobs,
  * stages and planning phases.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = epoch0 + (System.nanoTime() - nano0)
}

/** One recorded interval; `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      group: String, start: Long, var end: Long = 0L)

/** In-memory span recorder. Spans nest by call: op/key rep → build →
  * action; jobs, stages and planning phases come from the listeners and
  * are attached to these spans afterwards (by job group and time). When
  * off, `span` only runs its body.
  */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def span[T](name: String, layer: String, group: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, layer, group, Clock.now())
      spans += s
      stack = s :: stack
      try body finally { s.end = Clock.now(); stack = stack.tail }
    }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
    "group" -> s.group, "start_ns" -> s.start, "end_ns" -> s.end))
}

/** Job, stage and task facts from Spark's listener bus, keyed so the
  * analysis can tie each job to its op (job group) and each stage to its
  * job.
  */
final class ExecListener extends SparkListener {
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var input = 0L; var output = 0L
    var submitMs = 0L; var doneMs = 0L
  }
  val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = mutable.Map("job" -> e.jobId, "group" -> group,
      "start_ms" -> e.time, "end_ms" -> e.time, "stages" -> e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_("end_ms") = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
    a.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
    a.doneMs = e.stageInfo.completionTime.getOrElse(0L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1; a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead; a.output += m.outputMetrics.bytesWritten
    }
  }

  def toJson: (Seq[Map[String, Any]], Seq[Map[String, Any]]) = (
    jobs.values.toSeq.map(_.toMap),
    stages.toSeq.map { case (id, a) => Map[String, Any](
      "stage" -> id, "job" -> stageJob.getOrElse(id, -1), "submit_ms" -> a.submitMs,
      "done_ms" -> a.doneMs, "tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
      "gc_ms" -> a.gcMs, "shuffle_read" -> a.shuffleRead, "shuffle_write" -> a.shuffleWrite,
      "spill" -> a.spill, "input" -> a.input, "output" -> a.output) })
}

/** Catalyst phase times (QueryPlanningTracker) and file-scan facts of
  * every executed query.
  */
final class PlanListener extends QueryExecutionListener {
  val events = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    events += PlanListener.describe(funcName, qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    events += PlanListener.describe(funcName, qe, 0L)
}

object PlanListener {
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  def describePhases(funcName: String, qe: QueryExecution): Map[String, Any] =
    Map("func" -> funcName, "qe" -> qe.id, "phases" -> qe.tracker.phases.map { case (k, v) =>
      k -> Map("start_ms" -> v.startTimeMs, "end_ms" -> v.endTimeMs) },
      "files" -> 0L, "file_bytes" -> 0L)

  def describe(funcName: String, qe: QueryExecution, durationNs: Long): Map[String, Any] = {
    val sc = scans(qe.executedPlan)
    def metric(name: String) = sc.flatMap(_.metrics.get(name)).map(_.value).sum
    describePhases(funcName, qe) ++ Map("duration_ns" -> durationNs,
      "files" -> metric("numFiles"), "file_bytes" -> metric("filesSize"))
  }
}

/** Codegen compile counter (Spark's CodegenMetrics source). Compile
  * times are whole milliseconds as Spark records them; their sum is exact
  * while the JVM has compiled no more than the histogram's reservoir
  * holds (1028 classes), which the result records.
  */
object Codegen {
  def snapshot(): (Long, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum)
  }
}

/** Listeners installed for the traced segment only. */
final class Tracing(spark: SparkSession) {
  val exec = new ExecListener
  val plans = new PlanListener
  private var codegen0 = (0L, 0L)
  private var codegen1 = (0L, 0L)

  def start(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plans)
    codegen0 = Codegen.snapshot()
  }

  def stop(): Unit = {
    codegen1 = Codegen.snapshot()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plans)
  }

  def toJson: Map[String, Any] = {
    val (jobs, stages) = exec.toJson
    Map("jobs" -> jobs, "stages" -> stages, "queries" -> plans.events.toSeq,
      "codegen_compiles" -> (codegen1._1 - codegen0._1),
      "codegen_ms" -> (codegen1._2 - codegen0._2),
      "codegen_exact" -> (codegen1._1 <= 1028))
  }
}
