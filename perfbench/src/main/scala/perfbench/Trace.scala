package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed client operation: a word-count job, a registry row, an
  * index serve or write. Times are System.nanoTime; `Clock` maps them
  * onto the epoch milliseconds Spark's listener events carry.
  */
final class Op(val id: Int, val kind: String) {
  var startNs = 0L
  var buildEndNs = 0L
  var endNs = 0L
  /** CPU time of the whole JVM while the op ran (single client only) */
  var cpuNs = 0L
  var ok = true
  var error = ""
  /** job group the operation's jobs run under (word-count jobs only);
    * otherwise jobs are tied to the operation by its time window */
  var group: Option[String] = None
  /** the DataFrame whose action was timed, for plan phases and SQL
    * metrics; dropped once the layers are read */
  var df: Option[DataFrame] = None
  var rows = 0L
  var traced = false
  /** (cycle, runs of the kind before it in the cycle) of a single
    * client's operation; (-1, -1) for word-count jobs */
  var slot = (-1, -1)
  /** tracing was switched on or off while the op ran: neither traced
    * nor a clean untraced baseline */
  var mixed = false
  val extra = mutable.LinkedHashMap[String, Double]()
  def wallS: Double = (endNs - startNs) / 1e9
  def buildS: Double = (buildEndNs - startNs) / 1e9
}

object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
}

private final class JobEv(val id: Int, val startMs: Long, val group: String,
                          val stageIds: Seq[Int]) {
  @volatile var endMs = -1L
  @volatile var ok = true
  def resultStage: Int = if (stageIds.isEmpty) -1 else stageIds.max
}

private final class StageEv(val id: Int, val attempt: Int) {
  @volatile var submitMs = -1L
  @volatile var doneMs = -1L
  @volatile var failed = false
}

private final case class TaskEv(stage: Int, attempt: Int, launchMs: Long,
    failed: Boolean, runMs: Long, cpuNs: Long, gcMs: Long, deserMs: Long,
    inBytes: Long, inRecs: Long, shRead: Long, shRecs: Long,
    fetchWaitMs: Long, shWrite: Long, spillMem: Long, spillDisk: Long)

/** The benchmark's SparkListener. It records jobs, stages, tasks and
  * SQL executions while `enabled`; `layers` then splits one operation
  * into the engine's layers from what it saw. Registered only in
  * traced runs.
  */
final class Tracer extends SparkListener {
  @volatile var enabled = false
  private val jobs = new ConcurrentHashMap[Int, JobEv]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageEv]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val execs = new ConcurrentHashMap[Long, Array[Long]]()
  private val allJobIds = new ConcurrentLinkedQueue[Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    allJobIds.add(e.jobId)
    if (enabled) {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, new JobEv(e.jobId, e.time, g, e.stageIds))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.ok = e.jobResult == JobSucceeded
      j.endMs = e.time
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (enabled) {
      val s = new StageEv(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stages.put((s.id, s.attempt), s)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get((e.stageInfo.stageId, e.stageInfo.attemptNumber())))
      .foreach { s =>
        s.failed = e.stageInfo.failureReason.isDefined
        s.doneMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stages.containsKey((e.stageId, e.stageAttemptId))) {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m == null)
        tasks.add(TaskEv(e.stageId, e.stageAttemptId, i.launchTime, i.failed,
          0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
      else {
        val r = m.shuffleReadMetrics
        tasks.add(TaskEv(e.stageId, e.stageAttemptId, i.launchTime,
          i.failed || i.killed, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, m.executorDeserializeTime,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          r.localBytesRead + r.remoteBytesRead, r.recordsRead,
          r.fetchWaitTime, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled, m.diskBytesSpilled))
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if enabled &&
        s.rootExecutionId.forall(_ == s.executionId) =>
      execs.put(s.executionId, Array(s.time, -1L))
    case s: SparkListenerSQLExecutionEnd =>
      Option(execs.get(s.executionId)).foreach(_(1) = s.time)
    case _ =>
  }

  /** Every job id Spark handed out since registration, in order. */
  def seenJobIds: Seq[Int] = allJobIds.asScala.map(_.intValue).toSeq

  /** Jobs of `op` that started but whose end the listener has not seen. */
  def openJobs(op: Op): Seq[Int] = jobsOf(op).filter(_.endMs < 0).map(_.id)

  private def jobsOf(op: Op): Seq[JobEv] = {
    val all = jobs.values.asScala.toSeq
    op.group match {
      case Some(g) => all.filter(_.group == g)
      case None =>
        val (a, b) = (Clock.ms(op.startNs) - 1, Clock.ms(op.endNs) + 1)
        all.filter(j => j.startMs >= a && j.startMs <= b)
    }
  }

  /** Union length and summed length (ms) of intervals, clipped to [a, b]. */
  private def union(iv: Seq[(Double, Double)], a: Double, b: Double)
      : (Double, Double) = {
    val c = iv.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0; var curS = 0.0; var curE = Double.NegativeInfinity
    c.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    (total, c.map { case (s, e) => e - s }.sum)
  }

  /** Split `op` into its layers. Returns the per-layer metrics and the
    * span tree (operation → build / plan.* / exec → jobs).
    */
  def layers(op: Op, cores: Int): (Map[String, Double], Map[String, Any]) = {
    val opA = Clock.ms(op.startNs)
    val opB = Clock.ms(op.endNs)
    val buildB = Clock.ms(op.buildEndNs)
    val wallMs = opB - opA
    val js = jobsOf(op).sortBy(_.id)
    val jobIv = js.map(j => (j.startMs.toDouble,
      (if (j.endMs < 0) opB else j.endMs.toDouble)))
    val (jobUnion, jobSum) = union(jobIv, opA, opB)
    val stageIds = js.flatMap(_.stageIds).toSet
    val resultStages = js.map(_.resultStage).toSet
    val st = stages.values.asScala.toSeq.filter(s => stageIds.contains(s.id))
    val stKey = st.map(s => (s.id, s.attempt)).toSet
    val ts = tasks.asScala.toSeq.filter(t => stKey.contains((t.stage, t.attempt)))
    val submit = st.map(s => (s.id, s.attempt) -> s.submitMs).toMap
    def stageTime(pred: StageEv => Boolean): Double =
      st.filter(s => pred(s) && s.doneMs >= 0)
        .map(s => (s.doneMs - s.submitMs) / 1e3).sum

    // plan phases and SQL execution window of the timed action
    val phases: Map[String, (Double, Double)] = op.df.map { d =>
      d.queryExecution.tracker.phases.map { case (k, p) =>
        k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    }.getOrElse(Map.empty)
    def phaseS(k: String): Double =
      phases.get(k).map { case (a, b) => (b - a) / 1e3 }.getOrElse(0.0)
    val analysisInBuild = phases.get("analysis")
      .filter { case (a, _) => a >= opA - 1 && a <= buildB + 1 }
      .map { case (a, b) => (b - a) / 1e3 }.getOrElse(0.0)
    val planS = phaseS("analysis") + phaseS("optimization") + phaseS("planning")
    val execIv = execs.values.asScala.toSeq
      .filter(x => x(0) >= buildB - 1 && x(0) <= opB + 1)
      .map(x => (x(0).toDouble, (if (x(1) < 0) opB else x(1).toDouble)))
    // planning may run inside the SQL execution's window (adaptive
    // plans are prepared after it opens): count that time once, as plan
    val inExec = for {
      (a, b) <- execIv
      (pa, pb) <- phases.values.toSeq
      if math.min(b, pb) > math.max(a, pa)
    } yield (math.max(a, pa), math.min(b, pb))
    // with a DataFrame, exec is its SQL execution windows; without one (a
    // job API call, an index write), the union of the operation's Spark
    // job intervals, and driver the time after the hand-off with none of
    // them running: before the first, between them, after the last (for
    // a job, its queue and poll lag). Both come from the listener's
    // timestamps, so jobs overhanging the operation's window — taken for
    // another operation's, or still running after it returned — show as
    // residual.
    val (execS, driverS) = op.df match {
      case Some(_) =>
        ((union(execIv, buildB, opB)._1 - union(inExec, buildB, opB)._1) / 1e3, 0.0)
      case None if jobIv.isEmpty => (0.0, (opB - buildB) / 1e3)
      case None =>
        val first = jobIv.map(_._1).min
        val last = jobIv.map(_._2).max
        val u = union(jobIv, Double.NegativeInfinity, Double.PositiveInfinity)._1
        (u / 1e3, (math.max(0.0, first - buildB) + (last - first - u) +
          math.max(0.0, opB - last)) / 1e3)
    }
    val buildS = (buildB - opA) / 1e3 - analysisInBuild
    val residual = wallMs / 1e3 - (buildS + planS + execS + driverS)

    val (top, joinMax) = op.df.map(d => sqlMetrics(d.queryExecution.executedPlan))
      .getOrElse((Seq.empty[(String, Double)], 0L))
    val firstJob = js.map(_.startMs).reduceOption(_ min _)
    val lastEnd = js.map(_.endMs).filter(_ >= 0).reduceOption(_ max _)
    val runS = ts.map(_.runMs).sum / 1e3
    val m = mutable.LinkedHashMap[String, Double](
      "jobs.submit_ms" -> (buildB - opA),
      "jobs.queue_s" -> firstJob.map(f => math.max(0.0, f - opA) / 1e3).getOrElse(0.0),
      "jobs.done_lag_ms" -> lastEnd.map(e => math.max(0.0, opB - e)).getOrElse(0.0),
      "stage.map_s" -> stageTime(s => !resultStages.contains(s.id)),
      "stage.result_s" -> stageTime(s => resultStages.contains(s.id)),
      "op.build_s" -> buildS,
      "plan.analysis_s" -> phaseS("analysis"),
      "plan.optimization_s" -> phaseS("optimization"),
      "plan.planning_s" -> phaseS("planning"),
      "op.exec_s" -> execS,
      "op.driver_s" -> driverS,
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.job_union_s" -> jobUnion / 1e3,
      "spark.driver_gap_s" -> (wallMs - jobUnion) / 1e3,
      "spark.job_overlap_s" -> (jobSum - jobUnion) / 1e3,
      "sched.task_wait_s" -> Stats.mean(ts.map(t =>
        math.max(0L, t.launchMs - submit.getOrElse((t.stage, t.attempt), t.launchMs)) / 1e3)),
      "spark.slot_util" -> (if (wallMs > 0) runS * 1e3 / (cores * wallMs) else 0.0),
      "exec.run_s" -> runS,
      "exec.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "exec.deser_s" -> ts.map(_.deserMs).sum / 1e3,
      "sql.top1_s" -> top.lift(0).map(_._2).getOrElse(0.0),
      "sql.top2_s" -> top.lift(1).map(_._2).getOrElse(0.0),
      "sql.top3_s" -> top.lift(2).map(_._2).getOrElse(0.0),
      "join.rows_max" -> joinMax.toDouble,
      "result.rows" -> op.rows.toDouble,
      "join.useful_ratio" -> (if (joinMax > 0) op.rows.toDouble / joinMax else 0.0),
      "shuffle.write_bytes" -> ts.map(_.shWrite).sum.toDouble,
      "shuffle.read_bytes" -> ts.map(_.shRead).sum.toDouble,
      "shuffle.records" -> ts.map(_.shRecs).sum.toDouble,
      "shuffle.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
      "spill.mem_bytes" -> ts.map(_.spillMem).sum.toDouble,
      "spill.disk_bytes" -> ts.map(_.spillDisk).sum.toDouble,
      "input.bytes" -> ts.map(_.inBytes).sum.toDouble,
      "input.records" -> ts.map(_.inRecs).sum.toDouble,
      "scan.splits" -> ts.count(_.inBytes > 0).toDouble,
      "spark.tasks_failed" -> ts.count(_.failed).toDouble,
      "spark.stages_retried" -> st.count(s => s.attempt > 0 || s.failed).toDouble,
      "spark.jobs_failed" -> js.count(j => !j.ok).toDouble,
      "reconcile.residual_s" -> residual)
    op.extra.foreach { case (k, v) => m(k) = v }

    def jobSpan(j: JobEv) = Map(
      "job" -> j.id, "start_s" -> (j.startMs - opA) / 1e3,
      "dur_s" -> ((if (j.endMs < 0) opB else j.endMs.toDouble) - j.startMs) / 1e3,
      "stages" -> j.stageIds.size, "ok" -> j.ok)
    val (buildJobs, execJobs) = js.partition(_.startMs < buildB)
    def unionIn(xs: Seq[JobEv], a: Double, b: Double) =
      union(xs.map(j => (j.startMs.toDouble,
        (if (j.endMs < 0) opB else j.endMs.toDouble))), a, b)._1 / 1e3
    val span = Map(
      "op" -> op.kind, "id" -> op.id, "wall_s" -> wallMs / 1e3,
      "self_s" -> residual,
      "children" -> Seq(
        Map("span" -> "build", "dur_s" -> buildS,
          "self_s" -> (buildS - unionIn(buildJobs, opA, buildB)),
          "jobs" -> buildJobs.map(jobSpan)),
        Map("span" -> "plan.analysis", "dur_s" -> phaseS("analysis")),
        Map("span" -> "plan.optimization", "dur_s" -> phaseS("optimization")),
        Map("span" -> "plan.planning", "dur_s" -> phaseS("planning")),
        Map("span" -> "exec", "dur_s" -> execS,
          "self_s" -> (execS - unionIn(execJobs, buildB, opB)),
          "jobs" -> execJobs.map(jobSpan)),
        Map("span" -> "driver", "dur_s" -> driverS)),
      "sql_top" -> top.map { case (n, s) => Map("node" -> n, "s" -> s) })
    (m.toMap, span)
  }

  /** The three heaviest physical operators by SQL timing metric, and
    * the largest join output, from the executed (final adaptive) plan.
    */
  private def sqlMetrics(plan: SparkPlan): (Seq[(String, Double)], Long) = {
    val nodes = PlanWalk.collectWithSubqueries(plan) { case p => p }
    val timed = nodes.map { p =>
      val s = p.metrics.values.map { m =>
        m.metricType match {
          case "timing" => m.value / 1e3
          case "nsTiming" => m.value / 1e9
          case _ => 0.0
        }
      }.sum
      (p.nodeName, s)
    }.filter(_._2 > 0).sortBy(-_._2).take(3)
    val joinMax = nodes.collect { case j: BaseJoinExec =>
      j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.foldLeft(0L)(_ max _)
    (timed, joinMax)
  }
}

private object PlanWalk extends AdaptiveSparkPlanHelper
