package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark: an op, or a call into a layer
  * inside it. Wall-clock milliseconds so listener events (which carry
  * epoch-ms times) can be attributed to it. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    op: Int, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Spans are always kept (they are the op timings); the Spark listeners
  * exist only in traced mode. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def all: Seq[Span] = buf.toSeq
  def clear(): Unit = buf.clear()

  def time[T](name: String, layer: String, parent: Int, op: Int)(
      f: Int => T): (T, Span) = {
    val id = buf.size
    buf += Span(id, name, layer, parent, op, System.currentTimeMillis().toDouble, Double.NaN)
    val t0 = System.nanoTime()
    val r = try f(id) finally {
      val s = buf(id)
      buf(id) = s.copy(endMs = s.startMs + (System.nanoTime() - t0) / 1e6)
    }
    (r, buf(id))
  }
}

/** Traced-mode collector: job, stage and task events from the scheduler,
  * Catalyst phase times from a QueryExecutionListener. Events are kept
  * raw and attributed to spans by time after the run. */
final class Tracer(spark: SparkSession) {
  final case class Job(id: Int, startMs: Long, desc: String, stages: Seq[Int],
      var endMs: Long = -1L)
  final class Stage {
    var submitMs = -1L; var doneMs = -1L; var tasks = 0; var failedTasks = 0
    var retried = false; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var queueMs = 0L; var maxTaskMs = 0L; var shWrite = 0L; var shRead = 0L
    var fetchWaitMs = 0L; var inBytes = 0L; var outBytes = 0L; var spill = 0L
  }
  final case class Planning(endMs: Long, analysis: Long, optimization: Long,
      planning: Long, exchanges: Int)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Stage]()
  private val plannings = new ConcurrentLinkedQueue[Planning]()
  private def stage(id: Int, attempt: Int): Stage =
    stages.computeIfAbsent((id, attempt), _ => new Stage)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val d = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, e.time, d, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      s.retried = e.stageInfo.attemptNumber() > 0
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.doneMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId, e.stageAttemptId)
      val i = e.taskInfo
      s.tasks += 1
      if (i.failed || i.killed) s.failedTasks += 1
      if (s.submitMs > 0) s.queueMs += math.max(0L, i.launchTime - s.submitMs)
      s.maxTaskMs = math.max(s.maxTaskMs, i.finishTime - i.launchTime)
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime; s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.inBytes += m.inputMetrics.bytesRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val end = ph.values.map(_.endTimeMs).foldLeft(System.currentTimeMillis())(math.min)
      val ex = try PlanWalk.collectWithSubqueries(qe.executedPlan) {
        case e: ShuffleExchangeLike => e
      }.size catch { case _: Throwable => 0 }
      plannings.add(Planning(end, d("analysis"), d("optimization"),
        d("planning"), ex))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Layer metrics for the jobs and plannings that started inside any of
    * `spans`; `cores` turns in-job wall into available task time. */
  def metrics(spans: Seq[Span], cores: Int): Map[String, Double] = {
    def inside(t: Double) = spans.exists(s => t >= s.startMs && t <= s.endMs)
    val js = jobs.values.asScala.filter(j => inside(j.startMs.toDouble)).toSeq
    val ids = js.flatMap(_.stages).toSet
    val ss = stages.asScala.toSeq.collect { case ((id, _), s) if ids(id) => s }
    val ps = plannings.asScala.filter(p => inside(p.endMs.toDouble)).toSeq
    // union of job intervals, clipped to the spans they started in
    val inJob = spans.map { sp =>
      val iv = js.filter(j => j.startMs >= sp.startMs && j.startMs <= sp.endMs)
        .map(j => (j.startMs.toDouble,
          math.min(if (j.endMs < 0) sp.endMs else j.endMs.toDouble, sp.endMs)))
        .sortBy(_._1)
      var covered = 0.0; var curS = -1.0; var curE = -1.0
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      covered
    }.sum
    val wall = spans.map(_.ms).sum
    val stageWall = ss.map(s => math.max(1L, s.doneMs - s.submitMs).toDouble).sum
    val runMs = ss.map(_.runMs).sum.toDouble
    val labels = js.filter(_.desc.nonEmpty).groupBy(j => Tracer.labelPrefix(j.desc))
      .toSeq.flatMap { case (p, g) =>
        Seq(s"label.$p.jobs" -> g.size.toDouble,
          s"label.$p.ms" -> g.map(j => math.max(0L, j.endMs - j.startMs)).sum.toDouble)
      }
    Map(
      "catalyst.analysis_ms" -> ps.map(_.analysis).sum.toDouble,
      "catalyst.optimization_ms" -> ps.map(_.optimization).sum.toDouble,
      "catalyst.planning_ms" -> ps.map(_.planning).sum.toDouble,
      "catalyst.executions" -> ps.size.toDouble,
      "sched.jobs" -> js.size.toDouble,
      "sched.stages" -> ss.size.toDouble,
      "sched.tasks" -> ss.map(_.tasks).sum.toDouble,
      "sched.tasks_per_stage" ->
        (if (ss.isEmpty) 0.0 else ss.map(_.tasks).sum.toDouble / ss.size),
      "sched.in_job_ms" -> inJob,
      "sched.outside_job_ms" -> math.max(0.0, wall - inJob),
      "sched.queue_ms" -> ss.map(_.queueMs).sum.toDouble,
      "exec.cpu_ms" -> ss.map(_.cpuNs).sum / 1e6,
      "exec.run_ms" -> runMs,
      "exec.gc_ms" -> ss.map(_.gcMs).sum.toDouble,
      "exec.busy_frac" -> (if (inJob <= 0) 0.0 else runMs / (inJob * cores)),
      "exec.max_task_share" ->
        (if (stageWall <= 0) 0.0 else ss.map(_.maxTaskMs).sum / stageWall),
      "shuffle.exchanges" -> ps.map(_.exchanges).sum.toDouble,
      "shuffle.write_bytes" -> ss.map(_.shWrite).sum.toDouble,
      "shuffle.read_bytes" -> ss.map(_.shRead).sum.toDouble,
      "shuffle.fetch_wait_ms" -> ss.map(_.fetchWaitMs).sum.toDouble,
      "io.input_bytes" -> ss.map(_.inBytes).sum.toDouble,
      "io.output_bytes" -> ss.map(_.outBytes).sum.toDouble,
      "mem.spill_bytes" -> ss.map(_.spill).sum.toDouble,
      "fail.tasks" -> ss.map(_.failedTasks).sum.toDouble,
      "fail.stages_retried" -> ss.count(_.retried).toDouble) ++ labels
  }
}

object Tracer {
  /** The phase family of a `spark.job.description` set through
    * `ops.withDesc` ("lbl-apply: retract DML" -> "lbl-apply"). */
  def labelPrefix(desc: String): String = {
    val p = desc.takeWhile(c => c != ':' && c != ' ').trim
    if (p.isEmpty) "other" else p.replaceAll("[^A-Za-z0-9_.-]", "_").take(40)
  }
}
