package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer observer for traced passes, built only on Spark's public
  * listener interfaces: a `SparkListener` for job, stage and task
  * metrics and the SQL execution start/end events, and a
  * `QueryExecutionListener` for the Catalyst phases (`qe.tracker`) and
  * the `graft.plans` rule timings.
  *
  * The harness tags every job with a local property naming the query
  * and its step (`build` = the construction call, `action` = the noop
  * write), so counters are attributed by tag, never by guesswork about
  * time windows. Listener events arrive asynchronously, so [[query]]
  * drains the listener bus before it reads anything.
  */
final class Recorder(spark: SparkSession, spans: Spans)
    extends SparkListener with QueryExecutionListener {
  import Recorder._

  private final class Job(val tag: String, val start: Long, val stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  private final class Stage {
    @volatile var submit: Long = -1L
    @volatile var complete: Long = -1L
    val c = new Array[Long](Counters.length)
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  // SQL execution id -> (start, end) in epoch ms; end is -1 while running
  private val executions = new ConcurrentHashMap[Long, (Long, Long)]()
  // cached RDD blocks stored since the last query was attributed: block
  // name -> bytes (memory + disk), their total, and the peak of the total
  private val blocks = scala.collection.mutable.HashMap.empty[String, Long]
  private var stored = 0L
  private var storedPeak = 0L
  private val qes = new ConcurrentLinkedQueue[Qe]()
  private val sc = spark.sparkContext

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    jobs.clear(); stages.clear(); executions.clear(); qes.clear(); takeStoredPeak()
  }

  /** Waits until the listener bus has delivered every posted event.
    * `listenerBus` is private[spark] in Scala but public in bytecode. */
  private def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  private def stage(id: Int): Stage = stages.computeIfAbsent(id, _ => new Stage)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executions.put(s.executionId, (s.time, -1L))
    case x: SparkListenerSQLExecutionEnd =>
      executions.computeIfPresent(x.executionId, (_, v) => (v._1, x.time))
    case _ =>
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      val size = b.memSize + b.diskSize
      stored += size - blocks.getOrElse(b.blockId.name, 0L)
      if (size > 0) blocks(b.blockId.name) = size else blocks.remove(b.blockId.name)
      storedPeak = storedPeak.max(stored)
    }
  }

  /** The peak, then forget every block, so blocks a query leaves behind
    * do not count against the next one. */
  private def takeStoredPeak(): Long = synchronized {
    val peak = storedPeak
    blocks.clear(); stored = 0L; storedPeak = 0L
    peak
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).map(_.getProperty(TagKey)).orNull
    jobs.put(e.jobId, new Job(tag, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId)
    if (s.submit < 0) s.submit = e.stageInfo.submissionTime.getOrElse(-1L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    if (s.submit < 0) s.submit = e.stageInfo.submissionTime.getOrElse(-1L)
    s.complete = e.stageInfo.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = stage(e.stageId).c
    val sr = m.shuffleReadMetrics
    val v = Array(1L, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.diskBytesSpilled, m.shuffleWriteMetrics.bytesWritten,
      sr.localBytesRead + sr.remoteBytesRead, sr.localBlocksFetched + sr.remoteBlocksFetched,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
    c.synchronized { var i = 0; while (i < v.length) { c(i) += v(i); i += 1 } }
  }

  private def record(qe: QueryExecution): Unit = {
    val graftRules = qe.tracker.rules.filter(_._1.startsWith("graft.plans"))
    val scans = try qe.optimizedPlan.collectWithSubqueries {
      case r: LogicalRelation => r
      case r: DataSourceV2ScanRelation => r
    }.size catch { case _: Throwable => 0 }
    qes.add(Qe(qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) },
      graftRules.values.map(_.totalTimeNs).sum, graftRules.values.map(_.numInvocations.toLong).sum,
      graftRules.values.map(_.numEffectiveInvocations.toLong).sum, scans))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Attributes everything recorded for one query execution, adds its
    * spans under `passSpan`, and returns its layer record as JSON.
    * `q0`..`q2` are the harness's nanoTime marks: query start, end of the
    * construction call, end of the action. */
  def query(tag: String, passSpan: Int, q0: Long, q1: Long, q2: Long): String = {
    drain()
    val storedMb = takeStoredPeak() / 1048576.0
    val (b0, b1, b2) = (spans.epochMs(q0), spans.epochMs(q1), spans.epochMs(q2))
    def jobsTagged(step: String) = {
      val js = jobs.asScala.filter(_._2.tag == s"$tag/$step").toSeq.sortBy(_._1)
      js.foreach(j => jobs.remove(j._1))
      js.map(_._2)
    }
    val buildJobs = jobsTagged("build")
    val actionJobs = jobsTagged("action")
    def stagesOf(js: Seq[Job]) = js.flatMap(_.stages).distinct.sorted
      .flatMap(id => Option(stages.remove(id)).map(id -> _)).filter(_._2.submit >= 0)
    val buildStages = stagesOf(buildJobs)
    val actionStages = stagesOf(actionJobs)
    def sum(ss: Seq[(Int, Stage)], i: Int): Long = ss.map(_._2.c(i)).sum

    // Catalyst phases of the QueryExecutions that started inside the
    // action (the noop write); the construction call's own analysis is
    // part of tables.build.
    val all = Iterator.continually(qes.poll()).takeWhile(_ != null).toSeq
    val actionQes = all.filter(_.phases.values.exists { case (s, _) => s >= b1 - 1 && s <= b2 + 1 })
    def phase(p: String): Seq[(Long, Long)] = actionQes.flatMap(_.phases.get(p))
    def phaseMs(p: String): Double = phase(p).map { case (s, e) => (e - s).toDouble }.sum

    // The action after planning, in three spans bounded by independent
    // events: prep (end of planning -> first job start: plan description,
    // AQE set-up, code generation), exec (first job start -> last job end)
    // and commit (last job end -> end of the SQL execution: the write
    // commit and the wrap-up). Whatever falls outside them, such as the
    // writer's set-up before analysis or work after the execution ends,
    // stays unattributed and shows in the layer-sum check.
    val planned = actionQes.flatMap(q => q.phases.get("planning").orElse(q.phases.get("optimization")))
      .map(_._2).maxOption
    val sqlEnd = executions.asScala.values.filter { case (s, e) => s >= b1 - 1 && s <= b2 + 1 && e >= 0 }
      .map(_._2).maxOption
    executions.asScala.filter(_._2._1 <= b2 + 1).keys.foreach(executions.remove)
    val ended = actionJobs.filter(_.end >= 0)
    val execSpan = if (ended.isEmpty) None
      else Some((actionJobs.map(_.start).min, ended.map(_.end).max))
    val prep = for (p <- planned; (s, _) <- execSpan) yield (p, s.max(p))
    val commit = for (e <- sqlEnd; from <- execSpan.map(_._2).orElse(planned)) yield (from, e.max(from))
    def len(span: Option[(Long, Long)]): Double = span.map { case (s, e) => (e - s).toDouble }.getOrElse(0.0)
    val execMs = len(execSpan)
    // driver time inside the exec span with no stage of this query running
    val busy = actionStages.map(_._2).filter(_.complete >= 0).map(s => (s.submit, s.complete)).sortBy(_._1)
    val covered = busy.foldLeft((0L, Long.MinValue)) { case ((acc, hi), (s, e)) =>
      if (e <= hi) (acc, hi) else (acc + e - math.max(s, hi), e)
    }._1
    val gapMs = (execMs - covered).max(0.0)

    val qSpan = spans.openMs("query", passSpan, b0)
    spans.addMs("tables.build", qSpan, b0, b1)
    val aSpan = spans.addMs("action", qSpan, b1, b2)
    Seq("analysis" -> "plans.analysis", "optimization" -> "plans.optimizer",
      "planning" -> "plans.planning").foreach { case (p, n) =>
      phase(p).foreach { case (s, e) => spans.addMs(n, aSpan, s.toDouble, e.toDouble) }
    }
    prep.foreach { case (s, e) => spans.addMs("exec.prep", aSpan, s.toDouble, e.toDouble) }
    execSpan.foreach { case (s, e) =>
      val x = spans.addMs("exec", aSpan, s.toDouble, e.toDouble)
      actionStages.foreach { case (_, st) =>
        if (st.complete >= 0) spans.addMs("stage", x, st.submit.toDouble, st.complete.toDouble)
      }
    }
    commit.foreach { case (s, e) => spans.addMs("exec.commit", aSpan, s.toDouble, e.toDouble) }
    spans.close(qSpan, q2)

    val both = buildStages ++ actionStages
    val mb = 1048576.0
    Json.obj(
      "build_jobs" -> buildJobs.size,
      "build_job_ms" -> buildJobs.filter(_.end >= 0).map(j => j.end - j.start).sum.toDouble,
      "scans" -> actionQes.map(_.scans).sum,
      "analysis_ms" -> phaseMs("analysis"),
      "optimizer_ms" -> phaseMs("optimization"),
      "planning_ms" -> phaseMs("planning"),
      "graft_rule_ms" -> actionQes.map(_.ruleNs).sum / 1e6,
      "graft_rule_calls" -> actionQes.map(_.ruleCalls).sum,
      "graft_rule_effective" -> actionQes.map(_.ruleEffective).sum,
      "prep_ms" -> len(prep),
      "exec_ms" -> execMs,
      "commit_ms" -> len(commit),
      "exec_jobs" -> actionJobs.size,
      "stages" -> actionStages.size,
      "tasks" -> sum(actionStages, 0),
      "task_run_ms" -> sum(actionStages, 1).toDouble,
      "task_cpu_ms" -> sum(actionStages, 2) / 1e6,
      "gc_ms" -> sum(actionStages, 3).toDouble,
      "driver_gap_ms" -> gapMs,
      "spill_mb" -> sum(both, 4) / mb,
      "shuffle_write_mb" -> sum(both, 5) / mb,
      "shuffle_read_mb" -> sum(both, 6) / mb,
      "shuffle_blocks" -> sum(both, 7),
      "input_mb" -> sum(both, 8) / mb,
      "input_rows" -> sum(both, 9),
      "output_mb" -> sum(both, 10) / mb,
      "output_rows" -> sum(both, 11),
      "cache_stored_mb" -> storedMb)
  }
}

object Recorder {
  private final case class Qe(phases: Map[String, (Long, Long)], ruleNs: Long,
                              ruleCalls: Long, ruleEffective: Long, scans: Int)

  /** Local property carrying "pass/index/step" on every job the harness starts. */
  val TagKey = "perfbench.tag"
  private val Counters = Seq("tasks", "run_ms", "cpu_ns", "gc_ms", "spill", "shuffle_write",
    "shuffle_read", "shuffle_blocks", "input_bytes", "input_rows", "output_bytes", "output_rows")
}
