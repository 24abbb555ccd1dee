package graft

import org.apache.spark.sql.SparkSession

/** The only session configuration graft runs under. `Bench`, `Verify`,
  * the specs, the dev tools and the benchmark harness all build their
  * session here, and the session build is the only place graft's SQL
  * functions, the `JaccardPrefilter` rule and the `AsOfJoinStrategy`
  * get installed (through `GraftExtensions`). A session graft did not
  * build calls [[graft.plans.GraftFunctions.register]] once instead.
  *
  * AQE (runtime join re-planning, skew splitting, partition coalescing
  * — the Spark analogue of the reference engine's runtime filters and
  * scheduler) runs on Spark's own defaults, which enable all three.
  * Under it `SmallSort` plans a global ORDER BY whose input is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` as one range
  * partition, so the sort runs no sampling job; it is installed only
  * here, not by `GraftFunctions.register`.
  */
object GraftSession {
  /** Local core count: `SPARK_GRAFT_CPUS`, else every available core. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def build(appName: String = "graft",
            master: String = s"local[$cpus]",
            shufflePartitions: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // NOTE (measured): size-driven coalescing
      // (coalescePartitions.parallelismFirst=false) was tried against
      // the 32-core anti-scaling family and REJECTED — an 18-query
      // mixed sweep at cpus=32 ran 35.8 s vs 29.8 s with the default:
      // collapsing a small exchange to 1-2 partitions serializes every
      // stage whose post-shuffle work EXPANDS the data (pair_expand
      // explodes, multi-join probes: q09 4.1 s vs 1.6 s). The
      // parallelism-first default is kept deliberately.
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // ContextCleaner reclaims broadcast blocks and SHUFFLE FILES only
      // when driver GC collects their references — on a 128 GiB heap GC
      // is rare and the default periodicGC.interval (30 min) is longer
      // than a whole bench run, so hundreds of queries' shuffle state
      // piled up on /tmp disk (sustained slowdowns late in the run). A
      // 1-minute forced GC keeps the cleaner draining throughout.
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
