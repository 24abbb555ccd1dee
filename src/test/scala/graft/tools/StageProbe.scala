package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.collection.mutable

/** Dev profiler for the optimization rounds: run one named query N
  * times through the noop sink and print per-stage wall / task-time /
  * GC / shuffle / spill totals, so a 32-core anti-scaling query can be
  * attributed to a STAGE instead of guessed at (guide §7.1 without the
  * UI — the bench runs with spark.ui.enabled=false).
  *
  * sbt 'Test/runMain graft.tools.StageProbe <sfDir> <cpus> <iters> <name>'
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cpus = args(1).toInt
    val iters = args(2).toInt
    val name = args(3)
    val spark = GraftSession.build("stage-probe", s"local[$cpus]", cpus)
    final case class Row(var wall: Long = 0L, var taskMs: Long = 0L,
                         var gcMs: Long = 0L, var shRead: Long = 0L,
                         var shWrite: Long = 0L, var spill: Long = 0L,
                         var tasks: Int = 0, var runs: Int = 0)
    val agg = mutable.LinkedHashMap[String, Row]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val key = si.name.split("\n")(0).take(90)
        val r = agg.getOrElseUpdate(key, Row())
        r.wall += si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        val m = si.taskMetrics
        r.taskMs += m.executorRunTime; r.gcMs += m.jvmGCTime
        r.shRead += m.shuffleReadMetrics.totalBytesRead
        r.shWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled
        r.tasks += si.numTasks; r.runs += 1
      }
    })
    val fn = SparkEntry.queries(name)
    try graft.Fixtures.prepare.get(name).foreach(_(spark, dir)) catch { case _: Throwable => () }
    fn(spark, dir).write.format("noop").mode("overwrite").save() // warm-up, uncounted
    agg.clear()
    // Poor-man's sampling profiler over task threads (guide §7.3 —
    // executor thread dumps without the UI): every 20 ms, count the
    // deepest graft/spark frame of each RUNNABLE task thread.
    val frames = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        Thread.getAllStackTraces.forEach { (t, st) =>
          if (t.getName.contains("Executor task launch") && t.getState == Thread.State.RUNNABLE && st.nonEmpty) {
            val interesting = st.find { f =>
              val c = f.getClassName
              c.startsWith("graft.") || c.contains("GeneratedClass") ||
                c.startsWith("org.apache.spark.sql.catalyst") ||
                c.startsWith("org.apache.spark.sql.execution") ||
                c.startsWith("org.apache.spark.unsafe") ||
                c.startsWith("org.apache.spark.util.collection") ||
                c.startsWith("org.apache.parquet")
            }.getOrElse(st(0))
            val key = interesting.getClassName.replaceAll("^org\\.apache\\.spark\\.", "o.a.s.") + "." + interesting.getMethodName
            frames.computeIfAbsent(key, _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
          }
        }
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true); sampler.start()
    val t0 = System.nanoTime()
    (1 to iters).foreach { _ =>
      fn(spark, dir).write.format("noop").mode("overwrite").save()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    sampling = false
    println("== top sampled task-thread frames ==")
    import scala.jdk.CollectionConverters._
    frames.asScala.toSeq.sortBy(-_._2.get).take(25).foreach { case (k, v) =>
      println(f"${v.get}%6d  $k")
    }
    println(f"== $name cpus=$cpus iters=$iters total=${wall}%.2fs (${wall / iters}%.2fs/iter) ==")
    println(f"${"stage"}%-90s ${"wall_ms"}%8s ${"task_ms"}%9s ${"gc_ms"}%7s ${"shR_kB"}%8s ${"shW_kB"}%8s ${"spill_kB"}%8s ${"tasks"}%6s ${"runs"}%5s")
    agg.toSeq.sortBy(-_._2.wall).foreach { case (k, r) =>
      println(f"$k%-90s ${r.wall}%8d ${r.taskMs}%9d ${r.gcMs}%7d ${r.shRead / 1024}%8d ${r.shWrite / 1024}%8d ${r.spill / 1024}%8d ${r.tasks}%6d ${r.runs}%5d")
    }
    spark.stop()
  }
}
