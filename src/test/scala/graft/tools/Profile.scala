package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.PropertyNamingStrategies
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftSession, RunStep, SparkEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Whole-registry runtime profile. Each query runs through [[RunStep]]:
  * one untimed noop-sink warm-up, then one recorded noop-sink run, whose
  * record holds its Spark jobs and task ends, a per-stage table (the gap
  * is the time since the previous stage, or the action, ended), the
  * formatted initial plan and the final adaptive plan, the plan-shape
  * facts read from that final plan (query stages, subqueries and cached
  * plans included), `qe.observedMetrics`, and the task-thread frames
  * sampled every 20 ms. Writes one JSON object keyed by query name and
  * prints the range-exchange counts over the suite.
  *
  * sbt 'Test/runMain graft.tools.Profile <sfDir> <out.json>'
  * (SPARK_GRAFT_ONLY: regex over query names, as in Bench and Verify)
  */
final class Profile(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Profile._

  private val jobs = new AtomicInteger
  private val tasks = new AtomicInteger
  private val stages = new ConcurrentLinkedQueue[StageInfo]()
  private val last = new AtomicReference[QueryExecution]
  private val frames = new ConcurrentHashMap[String, AtomicLong]()
  @volatile private var sampling = false
  @volatile private var open = true
  private val sampler = new Thread(() => while (open) { if (sampling) sample(); Thread.sleep(20) })
  sampler.setDaemon(true); sampler.start()
  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = last.set(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Counts, per RUNNABLE task thread, its deepest graft, codegen,
    * Catalyst/execution, unsafe, collection or parquet frame. */
  private def sample(): Unit = Thread.getAllStackTraces.forEach { (t, st) =>
    if (t.getName.contains("Executor task launch") && t.getState == Thread.State.RUNNABLE && st.nonEmpty) {
      val f = st.find(f => Interesting.findPrefixOf(f.getClassName).isDefined).getOrElse(st(0))
      val key = f.getClassName.replaceAll("^org\\.apache\\.spark\\.", "o.a.s.") + "." + f.getMethodName
      frames.computeIfAbsent(key, _ => new AtomicLong).incrementAndGet()
    }
  }

  /** The query's record, or `Failed` with the recorded run's error. */
  def query(sfDir: String, name: String): Result = {
    val fn = SparkEntry.queries(name)
    RunStep(spark, sfDir, name) {
      try noop(fn(spark, sfDir)) catch { case _: Throwable => () }
      try {
        val df = fn(spark, sfDir)
        val initial = df.queryExecution.explainString(FormattedMode)
        RunStep.drain(spark)
        jobs.set(0); tasks.set(0); stages.clear(); last.set(null); frames.clear()
        val t0 = System.currentTimeMillis()
        sampling = true
        try noop(df) finally sampling = false
        val wall = System.currentTimeMillis() - t0
        RunStep.drain(spark)
        record(t0, wall, initial, last.get)
      } catch { case e: Throwable => Failed(String.valueOf(e.getMessage).take(500)) }
    }
  }

  private def record(t0: Long, wall: Long, initial: String, qe: QueryExecution): Record = {
    var ended = t0
    val stageRows = stages.asScala.toSeq.sortBy(s => (s.submissionTime.getOrElse(0L), s.stageId)).map { s =>
      val (sub, m) = (s.submissionTime.getOrElse(ended), s.taskMetrics)
      val done = s.completionTime.getOrElse(sub)
      val row = Stage(s.stageId, s.name.split("\n")(0).take(90), done - sub, (sub - ended).max(0L),
        m.executorRunTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled, m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, s.numTasks)
      ended = ended.max(done)
      row
    }
    val plan = nodes(qe.executedPlan)
    Record(wall, jobs.get, tasks.get, stageRows,
      plan.collect { case ShuffleExchangeExec(RangePartitioning(_, n), _, origin, _) => s"$origin:$n" },
      plan.collect { case e: ShuffleExchangeExec if isInputSpread(e, spark.sparkContext.defaultParallelism) =>
        e.child.collectFirst { case f: FileSourceScanExec => f.relation.location.rootPaths.head.getName }
          .getOrElse("?") + s":${e.numPartitions}" },
      plan.collect { case j if j.nodeName.contains("Join") => j.nodeName },
      plan.collect { case b: BroadcastExchangeExec =>
        def v(k: String) = b.metrics(k).value
        Broadcast(v("collectTime"), v("buildTime"), v("broadcastTime"), v("dataSize"))
      },
      qe.observedMetrics.map { case (k, row) =>
        k -> ListMap(row.schema.fieldNames.toSeq.zip(row.toSeq.map {
          case n: java.lang.Number => n
          case x => String.valueOf(x)
        }): _*)
      },
      frames.asScala.toSeq.map { case (k, n) => (n.get, k) }.sortBy(-_._1).take(25),
      initial, qe.explainString(SimpleMode))
  }

  def close(): Unit = {
    open = false
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Profile extends AdaptiveSparkPlanHelper {
  final case class Stage(id: Int, name: String, wallMs: Long, gapMs: Long, taskMs: Long, gcMs: Long,
                         shuffleReadBytes: Long, shuffleWriteBytes: Long, spillMemoryBytes: Long,
                         spillDiskBytes: Long, inputBytes: Long, inputRecords: Long, tasks: Int)
  final case class Broadcast(collectMs: Long, buildMs: Long, broadcastMs: Long, dataSizeBytes: Long)
  sealed trait Result
  final case class Record(wallMs: Long, jobs: Int, tasks: Int, stages: Seq[Stage], ranges: Seq[String],
                          spreads: Seq[String], joins: Seq[String], broadcasts: Seq[Broadcast],
                          observed: Map[String, ListMap[String, Any]], frames: Seq[(Long, String)],
                          planInitial: String, planFinal: String) extends Result
  final case class Failed(error: String) extends Result

  private val Interesting =
    "graft\\.|.*GeneratedClass|org\\.apache\\.(parquet|spark\\.(sql\\.catalyst|sql\\.execution|unsafe|util\\.collection))".r

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Every node of the plan, with subqueries, query stages and the
    * plans of cached relations. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) {
    case s: InMemoryTableScanExec => s +: nodes(s.relation.cachedPlan)
    case n => Seq(n)
  }.flatten

  /** The input spread Tables adds when the file layout cannot feed the
    * session's parallelism: a round-robin exchange directly over a bare
    * file scan (possibly codegen-wrapped), at most that wide (equal in
    * practice; narrower only for a table with fewer bytes than cores),
    * so a repartition-after-read of any other width is not one (ADVICE
    * r16). A keyed exchange, or a round-robin above real compute, is
    * not one either. On a layout with >= cores input splits no spread
    * is planned at all. */
  def isInputSpread(e: ShuffleExchangeExec, parallelism: Int): Boolean =
    e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] &&
      e.outputPartitioning.numPartitions <= parallelism && e.child.collect { case n => n }.forall {
        case _: FileSourceScanExec | _: InputAdapter | _: WholeStageCodegenExec | _: ColumnarToRowExec => true
        case _ => false
      }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, out) = args
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val spark = GraftSession.build("graft-profile")
    val profile = new Profile(spark)
    val records = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.findFirstIn(n).isDefined))
      .map { name =>
        val r = profile.query(sfDir, name)
        println(s"[profile] $name " + (r match { case r: Record =>
          s"wall_ms=${r.wallMs} jobs=${r.jobs} stages=${r.stages.size} ranges=${r.ranges.mkString(",")}"
          case f => f }))
        name -> r
      }
    profile.close()
    JsonMapper.builder().addModule(DefaultScalaModule)
      .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE).build()
      .writerWithDefaultPrettyPrinter().writeValue(new java.io.File(out), ListMap(records: _*))
    val ok = records.collect { case (_, r: Record) => r }
    val sort = "ENSURE_REQUIREMENTS:"
    def count(p: String => Boolean) = ok.count(_.ranges.exists(p))
    println(s"[profile] queries=${records.size} sortRange=${count(_.startsWith(sort))} " +
      s"onePartition=${count(_ == sort + "1")} morePartitions=${count(r => r.startsWith(sort) && r != sort + "1")} " +
      s"userRange=${count(_.startsWith("REPARTITION_BY"))} errors=${records.size - ok.size} " +
      s"jobs=${ok.map(_.jobs).sum} wrote $out")
    spark.stop()
  }
}
