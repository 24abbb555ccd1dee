package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, one context): the
  * `GraftSession` configuration at a fixed 4 cores, so the specs run
  * under the settings Bench, Verify and the benchmark use. */
object SparkSpec {
  lazy val session: SparkSession = GraftSession.build("graft-test", "local[4]", 4)

  val sf0001 = "/root/testdata/sf0.001"

  private val exitDeletes = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  // Plain file deletion: by exit time Spark and Hadoop's FileSystem
  // cache may already be shut down. The fixtures' per-JVM paths go too
  // (PlanAuditSpec drops them mid-run; later specs may rebuild some).
  sys.addShutdownHook {
    val fixtures = SparkEntry.tmpPaths.values.flatten.toSet.filter(_.perJvm)
      .map(p => new java.io.File(p(sf0001)))
    (exitDeletes.toArray(Array.empty[java.io.File]) ++ fixtures)
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  /** Runs `body` with the given session confs set, then puts back each
    * key's previous value (and unsets only keys that had none), so a
    * spec neither leaks a conf nor resets one the session was built
    * with to Spark's default. */
  def withConf[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> session.conf.getOption(k) }
    confs.foreach { case (k, v) => session.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => session.conf.set(k, v)
      case (k, None) => session.conf.unset(k)
    }
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = SparkSpec.sf0001

  /** A fresh directory under /tmp, deleted with everything in it when
    * the test JVM exits. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    SparkSpec.exitDeletes.add(d)
    d.toString
  }

  /** The `Dataset.observe` metrics row `name` of the last action `body`
    * runs, read after [[RunStep.drain]] has delivered its events. */
  def observed(name: String)(body: => Unit): org.apache.spark.sql.Row = {
    val seen = new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.Row]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.observedMetrics.get(name).foreach(seen.set)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; RunStep.drain(spark) } finally spark.listenerManager.unregister(listener)
    Option(seen.get).getOrElse(fail(s"no $name metric observed"))
  }

  /** Spark jobs started while `body` runs, counted after
    * [[RunStep.drain]] (which PlanAuditSpec pins). */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    RunStep.drain(spark)
    sc.addSparkListener(listener)
    try { val r = body; RunStep.drain(spark); (r, jobs.get()) }
    finally sc.removeSparkListener(listener)
  }
}
