package graft.tools

import org.apache.hadoop.fs.Path

/** Dev-only scale sweep for the SOURCE families (round-10 verdict #6):
  * proves the driver-side metadata work of the new table-layout readers
  * stays metadata-bounded as the layouts grow —
  *
  *  - S18: `HiveAcid.resolve` over 100→800 delta directories
  *    (selection is name-level + one commit-signature listing per
  *    candidate superseder; expect ~linear in dir count, ms-scale);
  *  - T27: a 60-write backlog drained at maxWriteIdsPerTrigger=10 —
  *    per-trigger wall time must stay flat across the catch-up (the
  *    listing is re-done per trigger; rows per batch are bounded);
  *  - S19: `MixedFormat.read` spec-prune over 64 partitions — pruned
  *    reads list/plan only the kept partitions, so planning time for
  *    1-of-64 must not scale with the partition count.
  *
  * Writes sources_sweep.json (repo root). NOT part of the shipped
  * library. Usage: Test/runMain graft.tools.SourcesSweep [outFile]
  */
object SourcesSweep {

  private def ms[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("sources_sweep.json")
    val spark = graft.GraftSession.build("sources-sweep")
    val conf = spark.sparkContext.hadoopConfiguration
    val sb = new StringBuilder("{\n")

    // ---- S18: resolve() over growing delta counts -------------------
    // Directory SELECTION consults names + commit signatures only, so
    // the fixture needs dirs with one marker file each — no row data.
    val scales = Seq(100, 400, 800)
    val s18 = scales.map { n =>
      val root = java.nio.file.Files.createTempDirectory(s"graft_sweep_acid_$n").toString
      val fs = new Path(root).getFileSystem(conf)
      // a base, a compacted delta (commit-gated: one extra listing),
      // and n plain single-write deltas, each with one data file
      def mk(dir: String): Unit = {
        fs.mkdirs(new Path(s"$root/$dir"))
        fs.create(new Path(s"$root/$dir/bucket_00000"), true).close()
      }
      mk("base_0000010")
      mk(f"delta_${11}%07d_${20}%07d_v0000999")
      (21 until (21 + n)).foreach(i => mk(f"delta_$i%07d_$i%07d"))
      val ids = graft.sources.HiveAcid.ValidWriteIds(
        highWatermark = 21L + n, aborted = Set(15L))
      // warm-up then min-of-3 (fs caches settle on the first pass)
      graft.sources.HiveAcid.resolve(spark, root, ids)
      val t = (1 to 3).map(_ => ms(
        graft.sources.HiveAcid.resolve(spark, root, ids))._2).min
      val st = graft.sources.HiveAcid.resolve(spark, root, ids)
      require(st.deltas.size == n + 1, s"expected ${n + 1} deltas, got ${st.deltas.size}")
      n -> t
    }
    val alpha = math.log(s18.last._2 / s18.head._2) /
      math.log(scales.last.toDouble / scales.head)
    sb.append("  \"s18_resolve_ms\": {")
    sb.append(s18.map { case (n, t) => f""""$n": $t%.1f""" }.mkString(", "))
    sb.append(f""", "alpha": $alpha%.2f},%n""")

    // ---- T27: bounded catch-up drain over a 60-write backlog --------
    val t27root = java.nio.file.Files.createTempDirectory("graft_sweep_t27").toString
    val tbl = s"$t27root/tbl"
    val one = spark.range(1).selectExpr("id AS doc_id", "'x' AS text")
    one.coalesce(1).write.parquet(s"$tbl/base_0000001")
    val fs = new Path(tbl).getFileSystem(conf)
    val baseFile = fs.listStatus(new Path(s"$tbl/base_0000001"))
      .map(_.getPath).filter(_.getName.startsWith("part-")).head
    (2 to 61).foreach { i =>
      val d = f"$tbl/delta_$i%07d_$i%07d"
      fs.mkdirs(new Path(d))
      org.apache.hadoop.fs.FileUtil.copy(fs, baseFile, fs,
        new Path(d, "bucket_00000"), false, conf)
    }
    val batchMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val batchRows = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft.sources.HiveAcidStreamSource")
      .option("maxWriteIdsPerTrigger", "10").load(tbl)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val (n, t) = ms(df.count())
        batchMs.synchronized { batchMs += t; batchRows += n }; ()
      }.option("checkpointLocation", s"$t27root/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    require(batchRows.count(_ > 0) >= 6,
      s"expected >= 6 bounded catch-up batches, got $batchRows")
    require(batchRows.max <= 11, s"a batch exceeded the admission bound: $batchRows")
    sb.append("  \"t27_drain\": {\"batches\": " + batchRows.count(_ > 0) +
      ", \"max_rows_per_batch\": " + batchRows.max +
      f""", "first_batch_ms": ${batchMs.head}%.0f, "median_batch_ms": ${
        batchMs.sorted.apply(batchMs.size / 2)}%.0f, "last_batch_ms": ${batchMs.last}%.0f},%n""")

    // ---- S19: 64-partition mixed table, pruned-read planning --------
    import org.apache.spark.sql.functions.col
    val s19root = java.nio.file.Files.createTempDirectory("graft_sweep_s19").toString + "/tbl"
    val df64 = spark.range(6400).selectExpr("id", "CAST(id % 64 AS STRING) AS pv")
    val (_, writeMs) = ms(graft.sources.MixedFormat.write(
      df64, s19root, "pv", Seq("parquet", "sequencefile")))
    val (full, fullMs) = ms {
      val d = graft.sources.MixedFormat.read(spark, s19root)
      (d, d.count())
    }
    require(full._2 == 6400L)
    val (pruned, prunedMs) = ms {
      val d = graft.sources.MixedFormat.read(spark, s19root, partitions = Seq("7"))
      (d, d.count())
    }
    require(pruned._2 == 100L)
    sb.append(f"""  "s19_mixed64": {"write_ms": $writeMs%.0f, "full_read_ms": $fullMs%.0f, "pruned_1of64_ms": $prunedMs%.0f},%n""")

    // ---- S20: Hudi RO planning over growing partition counts --------
    // r12: the single-relation read must keep the driver plan O(1) in
    // partition count (one basePath-anchored scan node) and the
    // name-level selection ~linear in dirs. Fixture: one tiny parquet
    // base file copied per partition, 3 instants per file group so
    // supersession does real work.
    val s20 = Seq(16, 64, 256).map { nParts =>
      val r = java.nio.file.Files.createTempDirectory(s"graft_sweep_hudi_$nParts").toString
      val hfs = new Path(r).getFileSystem(conf)
      hfs.mkdirs(new Path(s"$r/.hoodie"))
      hfs.create(new Path(s"$r/.hoodie/hoodie.properties"), true).close()
      val insts = Seq("20240101000000000", "20240102000000000", "20240103000000000")
      insts.foreach(i => hfs.create(new Path(s"$r/.hoodie/$i.commit"), true).close())
      (0 until nParts).foreach { p =>
        val pd = s"$r/p=$p"
        hfs.mkdirs(new Path(pd))
        hfs.create(new Path(s"$pd/.hoodie_partition_metadata"), true).close()
        insts.foreach { i =>
          org.apache.hadoop.fs.FileUtil.copy(fs, baseFile, hfs,
            new Path(s"$pd/fg0_0-0-0_$i.parquet"), false, conf)
        }
      }
      graft.sources.HudiRO.read(spark, r) // warm fs caches
      val (df, t) = ms(graft.sources.HudiRO.read(spark, r))
      val scans = df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      require(scans.size == 1, s"expected 1 scan relation at $nParts partitions")
      require(df.count() == nParts.toLong) // latest instant only, 1 row/file
      val (_, tp) = ms(graft.sources.HudiRO.read(spark, r, partitions = Seq("7")))
      (nParts, t, tp)
    }
    val s20Alpha = math.log(s20.last._2 / s20.head._2) /
      math.log(s20.last._1.toDouble / s20.head._1)
    sb.append("  \"s20_hudi_plan_ms\": {")
    sb.append(s20.map { case (n, t, _) => f""""$n": $t%.1f""" }.mkString(", "))
    sb.append(f""", "pruned_1of256_ms": ${s20.last._3}%.1f, "alpha": $s20Alpha%.2f},%n""")

    // ---- T29: bounded catch-up drain over a 30-commit Hudi backlog --
    val t29root = java.nio.file.Files.createTempDirectory("graft_sweep_t29").toString
    val htbl = s"$t29root/tbl"
    val hfs = new Path(htbl).getFileSystem(conf)
    hfs.mkdirs(new Path(s"$htbl/.hoodie"))
    hfs.create(new Path(s"$htbl/.hoodie/hoodie.properties"), true).close()
    (1 to 30).foreach { i =>
      val inst = f"202401${i}%02d000000000"
      org.apache.hadoop.fs.FileUtil.copy(fs, baseFile, hfs,
        new Path(s"$htbl/fg${i}_0-0-0_$inst.parquet"), false, conf)
      hfs.create(new Path(s"$htbl/.hoodie/$inst.commit"), true).close()
    }
    val hBatchRows = scala.collection.mutable.ArrayBuffer.empty[Long]
    val hq = spark.readStream.format("graft.sources.HudiStreamSource")
      .option("maxCommitsPerTrigger", "10").load(htbl)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count()
        hBatchRows.synchronized { hBatchRows += n }; ()
      }.option("checkpointLocation", s"$t29root/ckpt").start()
    try hq.processAllAvailable() finally hq.stop()
    require(hBatchRows.count(_ > 0) >= 3,
      s"expected >= 3 bounded catch-up batches, got $hBatchRows")
    require(hBatchRows.max <= 10, s"a batch exceeded the admission bound: $hBatchRows")
    sb.append("  \"t29_drain\": {\"batches\": " + hBatchRows.count(_ > 0) +
      ", \"max_rows_per_batch\": " + hBatchRows.max + "},\n")

    // ---- S20d: Hudi WRITER commit over growing partition counts -----
    // One insert commit, fixed 20k rows, P partitions (one file group
    // each): the data write is ONE distributed job regardless of P;
    // driver-side work is P renames + markers (name-level). Expect at
    // most ~linear in P — a super-linear alpha would mean per-group
    // driver work is touching data, which the design forbids.
    val s20d = Seq(16, 64, 128).map { p =>
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_sweep_hudisink_$p").toString + "/tbl"
      val df = spark.range(0, 20000, 1, 8).selectExpr(
        "id AS k", s"CAST(id % $p AS STRING) AS pt", "id * 1.5 AS v")
      val (_, t) = ms(graft.sources.HudiSink.insert(
        df, root, "k", Some("pt"), "20240101000000001"))
      require(graft.sources.HudiRO.read(spark, root).count() == 20000L,
        s"writer sweep: bad row count at $p partitions")
      p -> t
    }
    val s20dAlpha = math.log(s20d.last._2 / s20d.head._2) /
      math.log(s20d.last._1.toDouble / s20d.head._1)
    sb.append("  \"s20d_write_commit_ms\": {")
    sb.append(s20d.map { case (n, t) => f""""$n": $t%.1f""" }.mkString(", "))
    sb.append(f""", "alpha": $s20dAlpha%.2f}%n""")

    sb.append("}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(sb.toString)
    spark.stop()
  }
}
