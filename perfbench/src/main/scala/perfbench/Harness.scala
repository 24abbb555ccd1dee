package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Fixtures, GraftSession, SparkEntry}

/** The benchmark's JVM side. It drives graft only through public calls:
  * `GraftSession.build`, `SparkEntry.entry` / `SparkEntry.queries`,
  * `Fixtures.prepare` / `Fixtures.cleanup` and `df.write.format("noop")`.
  *
  * One run is: set-up ([[SetUps]] times, median reported) -> one untimed
  * validation pass that writes every result for the oracle check and
  * samples the heap -> [[MinPasses]] or more timed passes over the
  * workload's query list, closed loop with one client, each pass in a
  * seed-permuted order, with the reference work (see [[reference]]) timed
  * before each query -> fixture clean-up. Raw timings go to `result.json`
  * in the output directory; run.py turns them into metrics. With
  * `--trace 1` an untimed warm-up pass comes first, then the timed passes
  * run in untraced/traced blocks ordered ABBA, so both kinds get the same
  * warmth, and the traced ones record spans and listener counters (see
  * [[Recorder]]).
  */
object Harness {
  /** Set-ups per run: the first in a cold JVM, the others warm. */
  val SetUps = 3

  /** Timed passes per run at least. The JVM still warms up during the
    * first, so every run gets the same mix of warmth; with three, the
    * median pass is never the first, and at `--seconds 10` both workloads
    * run exactly three on the host described in README.md. */
  val MinPasses = 3

  final case class Args(queries: Seq[String], seed: Long, seconds: Double,
                        trace: Boolean, data: String, cores: Int, out: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("queries").split(",").toSeq.filter(_.nonEmpty), m("seed").toLong,
      m("seconds").toDouble, m("trace") == "1", m("data"), m("cores").toInt, m("out"))
  }

  /** Traced passes in ABBA blocks: untraced, traced, traced, untraced. */
  def traced(pass: Int): Boolean = pass % 4 == 1 || pass % 4 == 2

  /** Query order of one pass: a permutation fixed by (seed, pass). */
  def order(queries: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  /** Fixed work that runs no graft and no Spark SQL code: one RDD job of
    * one sort per core, then a single-threaded sort and hash-map loop on
    * the driver. It runs right before each query, outside the query's
    * latency, so its wall time samples how fast the shared host runs this
    * JVM while the workload runs; run.py scales the latencies by it. */
  private def reference(sc: SparkContext, cores: Int): Double = {
    def sortedHead(seed: Int, n: Int): Long = {
      val r = new scala.util.Random(seed)
      val xs = Array.fill(n)(r.nextLong())
      java.util.Arrays.sort(xs)
      xs(0)
    }
    val t0 = System.nanoTime()
    sc.parallelize(0 until cores, cores).map(sortedHead(_, 30000)).reduce(_ min _)
    val counts = new java.util.HashMap[String, java.lang.Long]()
    val r = new scala.util.Random(cores)
    var i = 0
    while (i < 40000) {
      counts.merge("k" + r.nextInt(5000), 1L, (x: java.lang.Long, y: java.lang.Long) => x + y)
      i += 1
    }
    sink = sortedHead(cores, 100000) + counts.size
    ms(t0, System.nanoTime())
  }
  @volatile private var sink = 0L

  /** Heap occupancy after a forced full collection, summed over the heap
    * pools. The pause between two collections lets Spark's ContextCleaner
    * release the blocks whose handles the first collection freed. */
  private def postGcHeapMb(): Double = {
    System.gc()
    Thread.sleep(50)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spans = new Spans
    val registry = SparkEntry.queries
    val prepares = a.queries.flatMap(q => Fixtures.prepare.get(q).map(q -> _))
    val cleanups = a.queries.flatMap(q => Fixtures.cleanup.get(q))
    val out = new StringBuilder("{")
    def field(k: String, v: String): Unit =
      out ++= (if (out.length > 1) "," else "") ++= Json.str(k) ++= ":" ++= v
    // wall time of each step of the run, for the record only
    val steps = Seq.newBuilder[(String, Any)]
    var stepStart = System.nanoTime()
    def step(name: String): Unit = {
      val now = System.nanoTime(); steps += name -> ms(stepStart, now); stepStart = now
    }

    def cleanupAll(spark: SparkSession, parent: Int): Double = {
      val c0 = System.nanoTime()
      cleanups.foreach(h => h(spark, a.data))
      val c1 = System.nanoTime()
      spans.add("fixtures.cleanup", parent, c0, c1)
      ms(c0, c1)
    }

    // ---- set-up, repeated: every set-up but the last is torn down again
    var spark: SparkSession = null
    val setups = (0 until SetUps).map { k =>
      val s0 = System.nanoTime()
      val root = spans.open("setup", -1, s0)
      spark = GraftSession.build("perfbench", s"local[${a.cores}]", a.cores)
      val s1 = System.nanoTime()
      SparkEntry.entry(spark).count()
      val s2 = System.nanoTime()
      val perQuery = prepares.map { case (q, h) =>
        val h0 = System.nanoTime(); h(spark, a.data); q -> ms(h0, System.nanoTime())
      }
      val s3 = System.nanoTime()
      spans.add("session.build", root, s0, s1)
      spans.add("session.warmup", root, s1, s2)
      spans.add("fixtures.prepare", root, s2, s3)
      spans.close(root, s3)
      val cleanup =
        if (k < SetUps - 1) { val c = cleanupAll(spark, root); spark.stop(); c } else Double.NaN
      Json.obj("build_ms" -> ms(s0, s1), "warmup_ms" -> ms(s1, s2),
        "prepare_ms" -> ms(s2, s3), "cleanup_ms" -> cleanup,
        "prepare_ms_by_query" -> Json.Raw(Json.obj(perQuery: _*)))
    }
    field("setups", setups.mkString("[", ",", "]"))
    step("setup")
    val sc = spark.sparkContext

    def hygiene(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    def build(name: String): DataFrame = registry.get(name) match {
      case Some(fn) => fn(spark, a.data)
      case None => throw new NoSuchElementException(s"query $name is not in SparkEntry.queries")
    }

    // ---- validation pass: untimed. A full GC after each query, before its
    // caches are released, gives the peak heap the workload holds.
    val checkDir = Files.createDirectories(Paths.get(a.out, "check"))
    var heapPeak = 0.0
    val validation = a.queries.map { q =>
      val err = try {
        build(q).write.mode("overwrite").parquet(checkDir.resolve(q).toString); null
      } catch { case e: Throwable => String.valueOf(e.getMessage).take(300) }
      val heap = postGcHeapMb()
      heapPeak = heapPeak.max(heap)
      hygiene()
      Json.obj("name" -> q, "error" -> err, "heap_mb" -> heap)
    }
    field("validation", validation.mkString("[", ",", "]"))
    Files.writeString(checkDir.resolve("oracle_sql.json"), Json.obj(
      SparkEntry.oracleSql.toSeq.filter { case (k, _) => a.queries.contains(k) }: _*))
    // run.py compares the written results against the oracle while the
    // fixtures they may read are still on disk, then says go on.
    step("validation")
    println(s"PERFBENCH_CHECK $checkDir")
    System.out.flush()
    scala.io.StdIn.readLine()
    step("check")

    // ---- passes
    val recorder = if (a.trace) Some(new Recorder(spark, spans)) else None
    def runPass(pass: Int, tracing: Boolean): (Double, Seq[String]) = {
      val rec = recorder.filter(_ => tracing)
      rec.foreach(_.attach())
      val names = order(a.queries, a.seed, pass)
      val p0 = System.nanoTime()
      val passSpan = if (tracing) spans.open("pass", -1, p0) else -1
      val results = names.zipWithIndex.map { case (q, i) =>
        val tag = s"$pass/$i"
        val ref = reference(sc, a.cores)
        val q0 = System.nanoTime()
        var q1 = q0
        val err = try {
          sc.setLocalProperty(Recorder.TagKey, s"$tag/build")
          val df = build(q)
          q1 = System.nanoTime()
          sc.setLocalProperty(Recorder.TagKey, s"$tag/action")
          df.write.format("noop").mode("overwrite").save()
          null
        } catch { case e: Throwable => String.valueOf(e.getMessage).take(300) }
        val q2 = System.nanoTime()
        sc.setLocalProperty(Recorder.TagKey, null)
        if (q1 == q0) q1 = q2
        val layers = rec.map(_.query(tag, passSpan, q0, q1, q2)).getOrElse("null")
        hygiene()
        Json.obj("name" -> q, "build_ms" -> ms(q0, q1), "action_ms" -> ms(q1, q2),
          "ref_ms" -> ref, "error" -> err, "layers" -> Json.Raw(layers))
      }
      val p1 = System.nanoTime()
      if (tracing) spans.close(passSpan, p1)
      rec.foreach(_.detach())
      (ms(p0, p1), results)
    }
    // the reference work is timed in every pass, so its code is compiled first
    (0 until 20).foreach(_ => reference(sc, a.cores))
    // Untraced runs need no warm-up pass: the first timed pass is the
    // slowest, and a median over three or more passes leaves it out. A
    // traced run compares its first (untraced) pass with traced ones, so
    // it warms up first.
    if (a.trace) runPass(-1, tracing = false)
    step("warmup")

    val passes = Seq.newBuilder[String]
    var pass = 0
    var lastPassMs = 0.0
    val t0 = System.nanoTime()
    // At least MinPasses; then start another pass while that ends the run
    // nearer to --seconds than stopping now would. A traced run ends on a
    // whole ABBA block.
    def more: Boolean =
      pass < MinPasses || ms(t0, System.nanoTime()) + lastPassMs / 2 < a.seconds * 1000 ||
        (a.trace && pass % 4 != 0)
    while (more) {
      val tracing = a.trace && traced(pass)
      val (wall, results) = runPass(pass, tracing)
      lastPassMs = wall
      passes += Json.obj("traced" -> tracing, "wall_ms" -> wall,
        "queries" -> Json.Raw(results.mkString("[", ",", "]")))
      pass += 1
    }
    step("timed")
    field("passes", passes.result().mkString("[", ",", "]"))
    field("heap_peak_mb", heapPeak.toString)
    field("cleanup_ms", cleanupAll(spark, -1).toString)
    step("cleanup")
    field("step_ms", Json.obj(steps.result(): _*))
    field("cores", a.cores.toString)
    field("seed", a.seed.toString)
    out ++= "}"
    Files.writeString(Paths.get(a.out, "result.json"), out.toString)
    if (a.trace) Files.writeString(Paths.get(a.out, "spans.json"), spans.json)
    spark.stop()
  }
}
