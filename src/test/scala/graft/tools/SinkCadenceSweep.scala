package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only commit-cadence sweep for the OTHER two lakehouse sinks
  * (r15 verdict #4) — the S20g cadence device applied to the Iceberg
  * append sink (T18) and the Hive ACID insert-only sink (T33): N
  * sequential micro-batches through the sinks' real idempotent commit
  * steps, measuring per-batch wall AND the driver-side metadata work
  * of the replay-watermark selection as the snapshot log / delta count
  * grows.
  *
  *  - T33 (Hive ACID): `lastCommittedBatchId` walks deltas NEWEST-FIRST
  *    and stops at the first sidecar carrying the query id, so the
  *    per-batch selection examines O(deltas since this query's last
  *    commit) — here exactly 1 per batch, pinned via the
  *    `lastBatchIdDeltasScanned` seam, FLAT as the table accumulates
  *    deltas.
  *  - T18 (Iceberg): the replay watermark is `lastSummaryLongForId`,
  *    which reads exactly TWO files per batch (version-hint + the
  *    CURRENT metadata version) regardless of history depth; the
  *    metadata body grows with the snapshot list (the v1-spec format
  *    keeps all snapshots in one file), so the sweep records per-batch
  *    wall halves to show the growth stays in the noise at
  *    production-relevant snapshot counts.
  *
  * Writes sink_cadence_sweep.json. NOT part of the shipped library.
  *
  * Usage: Test/runMain graft.tools.SinkCadenceSweep
  * Env: SPARK_GRAFT_CPUS (default: every core).
  */
object SinkCadenceSweep {
  import graft.sources.{HiveAcid, HiveAcidSink}
  import graft.streaming.Streams

  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build("sink-cadence-sweep")
    import spark.implicits._

    val kBatches = 40
    def mkBatch(b: Int) =
      (0 until 200).map(i => (b * 1000L + i, s"doc $b-$i")).toDF("id", "text")

    // ---- T33: Hive ACID insert-only sink cadence ----
    val acidDir = "/tmp/graft_sink_cadence_acid"
    val afs = new org.apache.hadoop.fs.Path(acidDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    afs.delete(new org.apache.hadoop.fs.Path(acidDir), true)
    val acid = (0 until kBatches).map { b =>
      val t0 = System.nanoTime()
      Streams.hiveAcidCommitBatch(mkBatch(b), b.toLong, acidDir)
      val w = (System.nanoTime() - t0) / 1e9
      val scanned = HiveAcidSink.lastBatchIdDeltasScanned.getOrElse(-1)
      (w, scanned)
    }
    // selection work per batch: batch 0 sees an empty table (0 deltas);
    // every later batch stops at the NEWEST delta — its own previous
    // commit — after examining exactly 1, however many accumulated
    require(acid.head._2 == 0, s"batch 0 scanned ${acid.head._2} deltas")
    require(acid.tail.forall(_._2 == 1),
      s"T33 selection must examine exactly the newest delta per batch, " +
        s"got ${acid.map(_._2).mkString(",")}")
    val acidRows = HiveAcid.readInsertOnly(spark, acidDir,
      HiveAcid.ValidWriteIds(kBatches.toLong)).count()
    require(acidRows == kBatches * 200L, s"acid rows drifted: $acidRows")
    val acidW = acid.map(_._1)
    val aFirst = acidW.slice(1, kBatches / 2).sum / (kBatches / 2 - 1)
    val aSecond = acidW.drop(kBatches / 2).sum / (kBatches - kBatches / 2)
    println(f"[cadence] T33 acid: first-half avg $aFirst%.3f s, " +
      f"second-half $aSecond%.3f s, deltas-scanned flat at 1")
    require(aSecond <= aFirst * 1.5,
      f"T33 per-batch cost TRENDS UP: $aFirst%.3f -> $aSecond%.3f")

    // ---- T18: Iceberg append sink cadence ----
    val iceDir = "/tmp/graft_sink_cadence_ice"
    val ifs = new org.apache.hadoop.fs.Path(iceDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ifs.delete(new org.apache.hadoop.fs.Path(iceDir), true)
    val ice = (0 until kBatches).map { b =>
      val t0 = System.nanoTime()
      Streams.icebergCommitBatch(mkBatch(b), b.toLong, iceDir, "id", 2)
      (System.nanoTime() - t0) / 1e9
    }
    val iceRows = spark.read.format("graft.sources.IcebergSource")
      .load(iceDir).count()
    require(iceRows == kBatches * 200L, s"iceberg rows drifted: $iceRows")
    val iFirst = ice.slice(1, kBatches / 2).sum / (kBatches / 2 - 1)
    val iSecond = ice.drop(kBatches / 2).sum / (kBatches - kBatches / 2)
    println(f"[cadence] T18 iceberg: first-half avg $iFirst%.3f s, " +
      f"second-half $iSecond%.3f s over $kBatches snapshots")
    require(iSecond <= iFirst * 1.5,
      f"T18 per-batch cost TRENDS UP: $iFirst%.3f -> $iSecond%.3f")

    val body =
      s"""{"what":"commit-cadence sweep for the Iceberg (T18) and Hive ACID (T33) streaming sinks (r15 verdict #4): $kBatches sequential micro-batches through the real idempotent commit steps; per-batch wall must stay FLAT as the snapshot log / delta count grows, and the replay-watermark selection must be bounded by new-instant count — T33's newest-first delta walk examines EXACTLY 1 delta per batch (the lastBatchIdDeltasScanned seam, pinned 1,1,...,1 here and by StreamingSpec), T18 reads exactly version-hint + the current metadata version per batch (all-snapshots-in-one-file is the v1 metadata format; growth stays in the noise at this depth)","batches":$kBatches,"rows_per_batch":200,"acid_walls_s":${acidW.map(fmt).mkString("[", ",", "]")},"acid_deltas_scanned":${acid.map(_._2).mkString("[", ",", "]")},"acid_first_half_avg_s":${fmt(aFirst)},"acid_second_half_avg_s":${fmt(aSecond)},"iceberg_walls_s":${ice.map(fmt).mkString("[", ",", "]")},"iceberg_first_half_avg_s":${fmt(iFirst)},"iceberg_second_half_avg_s":${fmt(iSecond)}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("sink_cadence_sweep.json"), body.getBytes("UTF-8"))
    println("[cadence] -> sink_cadence_sweep.json")
    spark.stop()
  }
}
