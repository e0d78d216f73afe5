package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener side of the traced run: Spark job intervals (with the job group
  * the harness set for the op that caused them), per-job task totals, and
  * the Catalyst phase intervals of every executed plan. Attached only for
  * traced passes; the untraced runs never register it. Events are kept in
  * memory and handed out as JSON once the listener bus has drained.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private final class Job(val id: Int, val group: String, val start: Long) {
    var end = -1L
    var stages, tasks = 0
    var runMs, cpuNs, shuffleWrite, shuffleRead, spill, input, peakMem = 0L
  }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  private var fallbackOps = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, group, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (id <- stageJob.get(e.stageId); j <- jobs.get(id) if m != null) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.input += m.inputMetrics.bytesRead
      j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) => phases += ((name, p.startTimeMs, p.endTimeMs)) }
    if (qe.executedPlan.exists(_.isInstanceOf[V2TableWriteExec]))
      fallbackOps += Tracer.fallbackOps(qe.executedPlan)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Everything recorded since the last call, as JSON, with the pass's JVM
    * garbage-collection time (in local mode the executors are this JVM);
    * clears the buffers.
    */
  def drain(jvmGcMs: Long): String = synchronized {
    val js = jobs.values.map { j =>
      s"""{"id":${j.id},"group":${Json.str(j.group)},"start":${j.start},"end":${j.end},""" +
        s""""stages":${j.stages},"tasks":${j.tasks},"run_ms":${j.runMs},"cpu_ns":${j.cpuNs},""" +
        s""""shuffle_write":${j.shuffleWrite},"shuffle_read":${j.shuffleRead},""" +
        s""""spill":${j.spill},"input":${j.input},"peak_mem":${j.peakMem}}"""
    }.mkString("[", ",", "]")
    val ps = phases.map { case (n, s, e) => s"""{"phase":${Json.str(n)},"start":$s,"end":$e}""" }
      .mkString("[", ",", "]")
    val out = s"""{"jobs":$js,"phases":$ps,"codegen_fallback_ops":$fallbackOps,"jvm_gc_ms":$jvmGcMs}"""
    jobs.clear(); stageJob.clear(); phases.clear(); fallbackOps = 0
    out
  }
}

object Tracer {
  /** Operators that run outside whole-stage codegen in a final (post-AQE)
    * physical plan. Exchanges, query stages, AQE reads, reuse markers and the
    * write node are plumbing, not row operators, and are not counted.
    */
  def fallbackOps(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => fallbackOps(a.executedPlan)
    case s: QueryStageExec => fallbackOps(s.plan)
    case w: WholeStageCodegenExec =>
      w.child.collect { case i: InputAdapter => i.child }.map(fallbackOps).sum
    case p @ (_: Exchange | _: ReusedExchangeExec | _: AQEShuffleReadExec | _: V2TableWriteExec) =>
      p.children.map(fallbackOps).sum
    case p => 1 + p.children.map(fallbackOps).sum
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
