package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Spill certification knob (the Impala spilling-operator parity
    // story): a deliberately small unified memory pool (with
    // SPARK_DRIVER_MEM bounding the local-mode heap) forces the heavy
    // tail's hash aggregates / sorts / joins through their spill paths;
    // correctness must be IDENTICAL. Set as a `spark.*` system
    // property, which the session's SparkConf loads.
    sys.env.get("SPARK_GRAFT_MEMORY_FRACTION")
      .foreach(f => System.setProperty("spark.memory.fraction", f))
    val spark = GraftSession.build("graft-verify")
    // Per-query spill evidence for the certification artifact: task
    // metrics summed across the query's jobs — a cert run where
    // nothing spilled would not be exercising the spill paths.
    val memSpilled = new java.util.concurrent.atomic.AtomicLong
    val diskSpilled = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) {
            memSpilled.addAndGet(m.memoryBytesSpilled)
            diskSpilled.addAndGet(m.diskBytesSpilled)
          }
        }
      })
    // Task-end events arrive ASYNCHRONOUSLY on the listener bus, so
    // spill deltas sampled right after a query's action could
    // misattribute bytes to the next query: drain the bus before each
    // sample (ADVICE r14).
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY: regex filter for local iteration (same knob as
    // Bench); the driver runs unfiltered.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      RunStep.drain(spark) // flush the PREVIOUS query's stragglers first
      val (m0, d0) = (memSpilled.get(), diskSpilled.get())
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      RunStep.drain(spark) // ...and THIS query's, before sampling
      val (dm, dd) = (memSpilled.get() - m0, diskSpilled.get() - d0)
      if (dm > 0 || dd > 0)
        System.err.println(s"[verify] spill $name mem=$dm disk=$dd")
      RunStep.sweep(spark) // same cache hygiene as Bench
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Leave no per-JVM copies behind; the static paths stay, because
    // the DuckDB oracle reads them after this process exits.
    SparkEntry.tmpPaths.values.flatten.toSet.filter(_.perJvm).foreach(_.drop(spark, sfDir))
    spark.stop()
  }
}
