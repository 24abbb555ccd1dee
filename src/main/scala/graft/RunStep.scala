package graft

import org.apache.spark.sql.SparkSession

/** The one per-query step every loop over the registry runs: an untimed
  * [[Fixtures.prepare]], the caller's body, the blocking cache sweep,
  * then [[Fixtures.cleanup]]. A failed prepare or cleanup is printed
  * with the query's name and the loop goes on to the next query; the
  * body's own failure propagates, after the sweep and the cleanup.
  *
  * Bench, the scale sweep and the profile run through it. Verify uses
  * only [[sweep]] and [[drain]]: its queries build their fixtures on
  * first use, and the DuckDB oracle reads one of them after it exits.
  */
class RunStep private[graft] (prepare: Map[String, Fixtures.Hook],
                              cleanup: Map[String, Fixtures.Hook]) {

  def apply[T](spark: SparkSession, sfDir: String, name: String)(body: => T): T =
    around(spark, sfDir, name)(body)(identity)

  /** As [[apply]], with `afterSweep` run on the body's result between
    * the sweep and the cleanup (Bench plans its join signatures there). */
  def around[A, B](spark: SparkSession, sfDir: String, name: String)(body: => A)(
      afterSweep: A => B): B = {
    hook(prepare, "prepare", spark, sfDir, name)
    try afterSweep(try body finally RunStep.sweep(spark))
    finally hook(cleanup, "cleanup", spark, sfDir, name)
  }

  private def hook(hooks: Map[String, Fixtures.Hook], what: String,
                   spark: SparkSession, sfDir: String, name: String): Unit =
    try hooks.get(name).foreach(_(spark, sfDir))
    catch { case e: Throwable =>
      Console.err.println(s"[run] $name fixture $what failed ($sfDir): $e")
    }
}

object RunStep extends RunStep(Fixtures.prepare, Fixtures.cleanup) {

  /** Drops every cached plan and blocks until every persisted RDD is
    * unpersisted (`clearCache` alone leaves raw RDD persists), so no
    * query's storage blocks compete with the next query for memory and
    * no asynchronous reclaim runs into its timings. */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Blocks until the listener bus has delivered every event posted so
    * far, so task, stage and job counters read after an action are that
    * action's. The bus is private[spark] in Scala but public in
    * bytecode; a rename in a Spark upgrade throws here. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
