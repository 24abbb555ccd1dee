package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import graft.{Fixtures, GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Executed-plan audit of range exchanges: runs each query once through
  * the noop sink and records, from the final adaptive plan (query
  * stages, subqueries and cached plans included), every range
  * exchange as `<origin>:<partitions>`, plus the Spark jobs the action
  * ran. Writes one JSON object keyed by query name and prints how many
  * queries plan a sort (ENSURE_REQUIREMENTS) range exchange, how many
  * of those plan one partition, how many keep more, and how many plan
  * a user range exchange.
  *
  * sbt 'Test/runMain graft.tools.SortAudit <sfDir> <out.json> [nameRegex]'
  */
object SortAudit extends AdaptiveSparkPlanHelper {
  private def ranges(p: SparkPlan): Seq[String] = collectWithSubqueries(p) {
    case ShuffleExchangeExec(RangePartitioning(_, n), _, origin, _) => Seq(s"$origin:$n")
    case s: InMemoryTableScanExec => ranges(s.relation.cachedPlan)
  }.flatten

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val only = args.lift(2).map(_.r)
    val spark = GraftSession.build("sort-audit")
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    def drain(): Unit = bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    val jobs = new AtomicInteger
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    })
    val last = new AtomicReference[QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = last.set(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.findFirstIn(n).isDefined))
    val rows = names.map { name =>
      val rec = try {
        Fixtures.prepare.get(name).foreach(_(spark, dir))
        val df = SparkEntry.queries(name)(spark, dir)
        drain(); jobs.set(0); last.set(null)
        df.write.format("noop").mode("overwrite").save()
        drain()
        val rs = ranges(last.get.executedPlan)
        s"""{"ranges": [${rs.map(r => s""""$r"""").mkString(", ")}], "jobs": ${jobs.get}}"""
      } catch { case e: Throwable =>
        s"""{"error": "${String.valueOf(e.getMessage).take(200).replaceAll("[\"\\\\\n]", " ")}"}"""
      }
      spark.catalog.clearCache()
      try Fixtures.cleanup.get(name).foreach(_(spark, dir)) catch { case _: Throwable => () }
      println(s"[sortaudit] $name $rec")
      name -> rec
    }
    val json = rows.map { case (n, r) => s""" "$n": $r""" }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(args(1)), json.getBytes("UTF-8"))
    def count(p: String => Boolean) = rows.count { case (_, r) => p(r) }
    val sort = "\"ENSURE_REQUIREMENTS:"
    println(s"[sortaudit] queries=${rows.size} sortRange=${count(_.contains(sort))} " +
      s"onePartition=${count(_.contains(sort + "1\""))} " +
      s"morePartitions=${count(r => s"""${sort}([2-9]|\\d\\d)""".r.findFirstIn(r).isDefined)} " +
      s"userRange=${count(_.contains("\"REPARTITION_BY"))} errors=${count(_.contains("\"error\""))}")
    spark.stop()
  }
}
