package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hudi copy-on-write table WRITER (S20d) — the write half of the S20
  * family, built from the same public layout [[HudiRO]] reads (the
  * reference's Hudi surface is read-only — HudiUtil.java:26-38 — so
  * this is beyond-reference the way the whole streaming family is:
  * graft already writes Iceberg tables and tails Hive ACID/Hudi ones;
  * this closes the loop so a Hudi table can be CREATED, UPSERTED,
  * DELETED FROM, then read back by [[HudiRO]] and tailed by the T29/
  * T29b stream — all against the one public contract).
  *
  * Layout written (exactly what HudiRO.read expects):
  * {{{
  *   table_dir/
  *     .hoodie/
  *       hoodie.properties
  *       <instant>.commit.requested      (then)
  *       <instant>.inflight              (then data files, then)
  *       <instant>.commit                (JSON body, tmp+rename atomic)
  *     <col>=<value>/
  *       .hoodie_partition_metadata
  *       <fileId>_0-0-0_<instant>.parquet
  * }}}
  *
  * Semantics (public COW contract):
  *  - INSERT: new file group(s) per partition, stamped this instant.
  *  - UPSERT: records join existing groups BY KEY (the simple global
  *    index read from the base files' own `_hoodie_record_key` — no
  *    side state); each touched group is rewritten WHOLE as a new base
  *    file with the SAME fileId and the new instant. Carried-over rows
  *    KEEP their original `_hoodie_commit_time`/seqno (the public meta
  *    contract T29b's CDC drain depends on: filtering a rewrite to
  *    `_hoodie_commit_time == instant` yields exactly the changed
  *    rows); updated/inserted rows are stamped with the new instant.
  *  - DELETE: the touched groups rewritten without the deleted keys; a
  *    group whose rows are all deleted gets an EMPTY base file (the
  *    COW shape — leaving no new slice would resurrect the old one).
  *
  * Meta columns: all five public `_hoodie_*` columns lead the schema,
  * like real base files. The partition FIELD itself is not duplicated
  * into the data files (the [[HudiRO]] read contract rematerializes it
  * from the `col=value` dir); `_hoodie_partition_path` carries the raw
  * `col=value` string (dir names on disk are Hive-escaped; the meta
  * string keeps the raw value — no reader consults it for pruning).
  *
  * Scale design: ONE distributed job per commit writes every touched
  * file group (repartition on the group key + partitionBy routing, so
  * each group lands as exactly one file); the upsert index probe is an
  * equi-join of the batch against the snapshot's key column (never a
  * driver-side key set), PRUNED to the base files whose
  * `_hoodie_record_key` min/max intersects the batch's key range (the
  * public Hudi bloom-index idea — the S16h bounds-skipping device), so
  * per-commit upsert cost scales with the files that can hold a batch
  * key, not with table size. The ranges come from the COMMIT BODIES:
  * every file this sink writes records its key min/max in its
  * writeStat (one footer probe at write time — ranges are immutable
  * per base file), so a future locator reads them from the timeline it
  * already parses and footer-probes ONLY foreign-writer files — a
  * long-running CDC stream's per-batch metadata cost is O(new commits
  * to parse), never O(snapshot footers to re-open). Driver-side work
  * is NAME-level and bounded by
  * the touched-file-group count — the same metadata-scale class as the
  * timeline listing itself: the group list collect, the per-group
  * renames, the commit JSON. Record→group routing for inserts is a
  * hash with a records-per-group target, the file-sizing knob.
  *
  * Concurrency contract: SINGLE WRITER per table. Instant allocation
  * ([[nextInstant]]) is list-then-write with no lock — two concurrent
  * writers could allocate the same instant; a create-exclusive
  * `.hoodie/.lock` (owner metadata in the body, held across PLANNING +
  * commit for rewrites/clustering — so a rewrite commits against the
  * snapshot it planned from, never a stale one (no lost updates
  * between serialized distinct-instant writers) —
  * released on success or in-process failure) turns a lost race into a
  * clean up-front refusal naming the holder, and the commit path still
  * fails fast if the allocated instant's `.requested` or completed
  * marker already exists (create-exclusive, the HiveAcidSink
  * dest-exists discipline) — never two interleaved commits under one
  * instant, even if a crashed JVM's stale lock was manually cleared.
  */
object HudiSink {

  val MetaCols: Seq[String] = Seq("_hoodie_commit_time", "_hoodie_commit_seqno",
    "_hoodie_record_key", "_hoodie_partition_path", "_hoodie_file_name")

  private def hfs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The writer's create-exclusive: [[graft.Fs.createExclusive]]. */
  private[graft] def createExclusive(fs: org.apache.hadoop.fs.FileSystem, p: Path): Boolean =
    graft.Fs.createExclusive(fs, p)

  /** Create the table skeleton; no-op when the timeline already
    * exists. */
  def createTable(spark: SparkSession, tableDir: String,
                  tableName: String = "graft"): Unit =
    if (!HudiRO.timeline(spark, tableDir).isTable) {
      val fs = hfs(spark, tableDir)
      fs.mkdirs(new Path(s"$tableDir/.hoodie"))
      graft.Fs.writeAtomic(fs, new Path(s"$tableDir/.hoodie/hoodie.properties"),
        s"hoodie.table.name=$tableName\nhoodie.table.type=COPY_ON_WRITE\n")
    }

  /** Next instant time: max over every timeline file's digit prefix,
    * plus one — fixed-width digit strings, lexicographic = numeric
    * order (the public instant contract). */
  def nextInstant(spark: SparkSession, tableDir: String): String =
    HudiRO.timeline(spark, tableDir).nextInstant

  /** INSERT `batch` as new file group(s), one commit. */
  def insert(batch: DataFrame, tableDir: String, keyCol: String,
             partitionCol: Option[String], instant: String,
             recordsPerGroup: Long = 0L,
             extraMetadata: Map[String, String] = Map.empty): Unit = {
    val spark = batch.sparkSession
    // an append to an existing table must keep its partitioning — a
    // silent column switch would split one logical table across two
    // incompatible layouts
    if (HudiRO.timeline(spark, tableDir).isTable) {
      val layout = HudiRO.layout(spark, tableDir)
      val existing = layout.partitionCol
      require(existing.isEmpty || existing == partitionCol,
        s"insert: $tableDir is partitioned by ${existing.get}, not " +
          s"${partitionCol.getOrElse("(unpartitioned)")}")
      // the reverse switch is just as fatal: partition dirs added to a
      // table with root-level base files would SHADOW the root data
      // (the reader lists partition dirs and ignores the root)
      val hasRootData = layout.root.exists(s => HudiRO.parseFile(s.getPath.getName).isDefined)
      require(!(hasRootData && partitionCol.nonEmpty),
        s"insert: $tableDir is an unpartitioned table (base files at the " +
          s"root); a partitioned append would shadow its data")
    } else createTable(spark, tableDir)
    val userCols = batch.columns.filterNot(partitionCol.contains).toSeq
    val tagged = withNewMeta(
      tagGroups(batch, keyCol, partitionCol, instant, recordsPerGroup),
      keyCol, partitionCol, instant, userCols)
    withWriterLock(spark, tableDir, instant, "INSERT") {
      commitWrite(spark, tableDir, partitionCol, instant, tagged, "INSERT", extraMetadata)
    }
  }

  /** UPSERT `batch` by `keyCol`: updates rewrite their existing file
    * group (located through the snapshot's own `_hoodie_record_key` —
    * an equi-join, the simple global index), new keys open new
    * group(s) per partition. One commit. A key's partition is sticky:
    * updates route to the group that holds the key, whatever partition
    * value the batch row carries (the public key+partition-stable
    * upsert contract). */
  def upsert(batch: DataFrame, tableDir: String, keyCol: String,
             partitionCol: Option[String], instant: String,
             recordsPerGroup: Long = 0L,
             extraMetadata: Map[String, String] = Map.empty): Unit =
    rewrite(batch, tableDir, keyCol, instant, recordsPerGroup,
      "UPSERT", extraMetadata, deleteKeys = false)

  /** DELETE by key: `keys` is a one-column frame of record keys; the
    * touched groups rewrite without them (empty groups get an empty
    * base file so the old slice cannot resurrect). One commit. */
  def delete(keys: DataFrame, tableDir: String, keyCol: String,
             instant: String,
             extraMetadata: Map[String, String] = Map.empty): Unit =
    rewrite(keys, tableDir, keyCol, instant,
      recordsPerGroup = 0L, "DELETE", extraMetadata, deleteKeys = true)

  // ---- internals ----------------------------------------------------

  /** `__part` ("v"-prefixed raw partition value — never empty, so the
    * intermediate partitionBy never falls into the Hive default-
    * partition name) and `__fg` (fileId) routing columns. */
  private def tagGroups(batch: DataFrame, keyCol: String,
                        partitionCol: Option[String], instant: String,
                        recordsPerGroup: Long): DataFrame = {
    val part = partitionCol.map(pc => concat(lit("v"), col(pc).cast("string")))
      .getOrElse(lit("v"))
    val base = batch.withColumn("__part", part)
    if (recordsPerGroup <= 0L)
      base.withColumn("__fg", lit(s"n$instant"))
    else {
      // bounded: one count per partition VALUE (the partition domain),
      // to size the per-partition group count — the file-sizing knob
      val spark = batch.sparkSession
      val counts = base.groupBy("__part").count().collect()
        .map(r => r.getString(0) -> math.max(1L,
          (r.getLong(1) + recordsPerGroup - 1) / recordsPerGroup)).toMap
      val nGroups = typedlit(counts)
      base.withColumn("__fg", concat(lit(s"n$instant-"),
        pmod(xxhash64(col(keyCol).cast("string")),
          element_at(nGroups, col("__part")))))
    }
  }

  /** Stamp the five `_hoodie_*` meta columns for rows written BY this
    * commit (seqno = row ordinal within the group, ordered by key). */
  private def withNewMeta(tagged: DataFrame, keyCol: String,
                          partitionCol: Option[String], instant: String,
                          userCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy("__part", "__fg")
      .orderBy(col(keyCol).cast("string"))
    val partPath: Column = partitionCol
      .map(pc => concat(lit(pc + "="), col("__part").substr(lit(2), lit(1 << 30))))
      .getOrElse(lit(""))
    tagged.select(Seq(
      lit(instant).as("_hoodie_commit_time"),
      concat(lit(instant + "_"), col("__fg"), lit("_"),
        row_number().over(w).cast("string")).as("_hoodie_commit_seqno"),
      col(keyCol).cast("string").as("_hoodie_record_key"),
      partPath.as("_hoodie_partition_path"),
      concat(col("__fg"), lit(s"_0-0-0_$instant.parquet")).as("_hoodie_file_name")) ++
      userCols.map(col) ++ Seq(col("__part"), col("__fg")): _*)
  }

  /** Parquet-footer key range of `_hoodie_record_key` for one base
    * file, for locator pruning. Footer-only metadata work — no data
    * pages are read. */
  private[graft] sealed trait KeyRange
  private[graft] case object RangeUnknown extends KeyRange // stats absent: must read
  private[graft] case object FileEmpty extends KeyRange // zero rows: never read
  private[graft] final case class Range(min: Array[Byte], max: Array[Byte])
      extends KeyRange

  /** Unsigned-lexicographic byte compare — parquet's BINARY stats
    * order, and Spark's own UTF8String/string min-max order, so the
    * two sides of the prune test agree for every key alphabet (Java
    * String compareTo would diverge on supplementary characters). */
  private[graft] def cmpU(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Read one base file's `_hoodie_record_key` min/max from its
    * parquet footer. Conservative: any row group missing the column or
    * its statistics makes the whole file [[RangeUnknown]] (it stays a
    * locator candidate). Parquet's own stats truncation is safe here —
    * a truncated max is rounded UP by the writer, so it remains a
    * valid upper bound. */
  private[graft] def keyRangeOf(conf: org.apache.hadoop.conf.Configuration,
                                path: String): KeyRange = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(path), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      if (blocks.forall(_.getRowCount == 0L)) return FileEmpty
      val ranges = blocks.filter(_.getRowCount > 0L).map { b =>
        b.getColumns.asScala
          .find(_.getPath.toDotString == "_hoodie_record_key")
          .flatMap { c =>
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue) None
            else (st.genericGetMin, st.genericGetMax) match {
              case (mn: org.apache.parquet.io.api.Binary,
                    mx: org.apache.parquet.io.api.Binary) =>
                Some((mn.getBytes, mx.getBytes))
              case _ => None
            }
          }
      }
      if (ranges.exists(_.isEmpty)) RangeUnknown
      else {
        val rs = ranges.flatten
        Range(rs.map(_._1).reduce((a, b) => if (cmpU(a, b) <= 0) a else b),
              rs.map(_._2).reduce((a, b) => if (cmpU(a, b) >= 0) a else b))
      }
    } finally reader.close()
  }

  private[graft] def toHex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString

  private[graft] def fromHex(s: String): Array[Byte] = {
    // strict: odd-length/garbage hex (a foreign writer's colliding
    // field) must throw, never silently parse to a WRONG range — a
    // wrong range could prune a file that holds a live key.
    // Integer.parseInt(_, 16) accepts leading '+'/'-', so an
    // even-length value like "-1ab0" would otherwise parse silently to
    // wrong bytes: validate the characters first (ADVICE r15)
    require(s.length % 2 == 0, s"odd-length hex: $s")
    require(s.forall(c => (c >= '0' && c <= '9') ||
      (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')),
      s"non-hex characters: $s")
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  }

  /** Footer-probe results for FOREIGN-writer base files (no recorded
    * range in any commit body), keyed by (path, length, mtime) — base
    * files are immutable, so the probe result is too (r15 verdict #1:
    * a CDC stream upserting into a table REAL Hudi wrote must pay
    * O(new files) footer probes per batch, not O(snapshot) — the same
    * cost class S20g removed for sink-written tables). Same per-entry
    * LRU discipline as the commit-body cache of [[HudiRO]]: never
    * clear-all, and a stale entry cannot be served because the key
    * carries length + mtime. */
  private val probeCache = graft.Lru[(String, Long, Long), KeyRange](65536)

  /** The base files whose key range intersects `[bmin, bmax]` (both
    * UTF-8 string bounds from the batch) — the upsert/delete locator's
    * scan set. Ranges come from `recorded` (the timeline's writeStats,
    * [[HudiRO.Timeline.keyRanges]]) when this sink wrote the file; only files
    * a FOREIGN writer produced (no recorded range) fall back to a
    * parquet-footer probe — CACHED per (path, length, mtime) in
    * [[probeCache]], so even a 100k-file table real Hudi wrote pays
    * the probes ONCE per JVM, then O(new files) per batch (r15 verdict
    * #1). Fallback probes are driver-side metadata
    * work on a parallel stream (the footer path touches no shared
    * state; ParquetFileReader is one instance per file), keeping probe
    * latency at files/parallelism — but for a sink-written table the
    * probe count is ZERO, which the S20g spec pins. Returns
    * (candidates, footer probes performed — cache hits don't count). */
  private[graft] def pruneByKeyRange(spark: SparkSession, tableDir: String,
                                     files: Seq[String],
                                     bmin: String, bmax: String,
                                     recorded: Map[String, KeyRange]): (Seq[String], Int) = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = hfs(spark, tableDir)
    val lo = bmin.getBytes("UTF-8")
    val hi = bmax.getBytes("UTF-8")
    // (length, mtime) for the fallback files — the probe-cache key —
    // gathered with ONE listStatus per parent dir, not one RPC per
    // file (the fallback set is usually empty: sink-written tables
    // record every range)
    val statusOf: Map[String, (Long, Long)] = {
      val fallback = files.filterNot(f =>
        recorded.contains(f.stripPrefix(tableDir).stripPrefix("/")))
      fallback.groupBy(f => new Path(f).getParent).iterator.flatMap {
        case (d, fl) =>
          val byName = fs.listStatus(d).iterator.filter(_.isFile)
            .map(s => s.getPath.getName ->
              (s.getLen, s.getModificationTime)).toMap
          fl.iterator.flatMap(f => byName.get(new Path(f).getName).map(f -> _))
      }.toMap
    }
    val probes = new java.util.concurrent.atomic.AtomicInteger
    val kept = files.asJava.parallelStream().filter { f =>
      val rel = f.stripPrefix(tableDir).stripPrefix("/")
      val kr = recorded.getOrElse(rel, {
        val (len, mtime) = statusOf.getOrElse(f, {
          val st = fs.getFileStatus(new Path(f))
          (st.getLen, st.getModificationTime)
        })
        val ck = (f, len, mtime)
        val hit = probeCache.get(ck)
        if (hit != null) hit
        else {
          probes.incrementAndGet()
          val r = keyRangeOf(conf, f)
          probeCache.put(ck, r)
          r
        }
      })
      kr match {
        case FileEmpty      => false
        case RangeUnknown   => true
        case Range(mn, mx)  => cmpU(mx, lo) >= 0 && cmpU(mn, hi) <= 0
      }
    }.collect(java.util.stream.Collectors.toList[String]).asScala.toSeq
    (kept, probes.get)
  }

  /** Test seam: (locator candidate files, total snapshot files) of the
    * most recent [[rewrite]] on this JVM — the S16h-style file-count
    * assert for the key-range prune. */
  @volatile private[graft] var lastRewriteScan: Option[(Int, Int)] = None

  /** Test seam: parquet-footer probes the most recent [[rewrite]]'s
    * prune performed — 0 for a table this sink wrote (ranges come from
    * the timeline), >0 only for foreign/older-writer files. */
  @volatile private[graft] var lastRewriteFooterProbes: Option[Int] = None

  /** The file-group id of each row, from its `_hoodie_file_name`. */
  private def fileIdOf: Column = regexp_extract(col("_hoodie_file_name"), HudiRO.BaseFileName, 1)

  /** The shared UPSERT/DELETE group rewrite. The writer lock is taken
    * HERE, before the snapshot read — not at commit time — so the
    * snapshot the rewrite plans against is the snapshot it commits
    * against (two serialized distinct-instant upserts can never both
    * succeed with the second planning from a stale snapshot). */
  private def rewrite(batch: DataFrame, tableDir: String, keyCol: String,
                      instant: String, recordsPerGroup: Long, op: String,
                      extraMetadata: Map[String, String],
                      deleteKeys: Boolean): Unit = {
    val spark = batch.sparkSession
    withLockedSnapshot(spark, tableDir, instant, op) { snap =>
      // the table's own partition column (from the dir layout), which may
      // differ from / confirm the caller's: data files never carry it
      val tablePart = snap.layout.partitionCol
      val snapFiles = snap.visibleFiles
      require(snapFiles.nonEmpty,
        s"$op: no completed Hudi base files under $tableDir")
      // data-file schema from one footer (the partition column is never
      // in the files; the rewrite only carries data fields + meta)
      val dataSchema = spark.read.parquet(snapFiles.head).schema
      require(dataSchema.fieldNames.contains("_hoodie_record_key"),
        s"$op: $tableDir base files carry no _hoodie_record_key meta column — " +
          "only tables written with Hudi meta columns support keyed rewrites")
      val curUserCols = dataSchema.fieldNames.filterNot(MetaCols.contains)
        .filterNot(tablePart.contains).toSeq
      // one tiny agg: batch emptiness, null keys, key uniqueness (the
      // upsert contract — two rows under one _hoodie_record_key would
      // silently both land in the rewritten group), and the key range
      // for the footer prune
      val bstat = batch.agg(
        count(lit(1)), count(col(keyCol).cast("string")),
        countDistinct(col(keyCol).cast("string")),
        min(col(keyCol).cast("string")), max(col(keyCol).cast("string"))).head()
      val (nAll, nKeys, nDistinct) = (bstat.getLong(0), bstat.getLong(1), bstat.getLong(2))
      require(nAll == nKeys, s"$op: batch carries ${nAll - nKeys} null keys")
      require(deleteKeys || nKeys == nDistinct,
        s"$op: batch carries duplicate keys (${nKeys - nDistinct} extra rows) — " +
          "collapse to one row per key first (last-wins is the CALLER's " +
          "ordering decision; see Streams.hudiUpsertBatch)")
      // the locator scan set: only files whose key range can hold a
      // batch key (empty batch → nothing can match → no files); ranges
      // come from the timeline's recorded writeStats, footer probes only
      // for foreign files (r14 verdict #1)
      val (candidates, probes) =
        if (nAll == 0L) (Nil, 0)
        else pruneByKeyRange(spark, tableDir, snapFiles,
          bstat.getString(3), bstat.getString(4), snap.timeline.keyRanges)
      lastRewriteScan = Some((candidates.length, snapFiles.length))
      lastRewriteFooterProbes = Some(probes)
      val partTag = tablePart.map(pc => concat(lit("v"), col(pc).cast("string")))
        .getOrElse(lit("v"))
      // curTagged is the PRUNED slice: every existing batch key lives in
      // a candidate file (a pruned file's key range excludes the whole
      // batch range), so the affected probe, locator and survivors are
      // all complete over it
      val curSlice =
        if (candidates.nonEmpty) HudiRO.readFiles(spark, tableDir, candidates)
        else HudiRO.readFiles(spark, tableDir, snapFiles.take(1)).where(lit(false))
      val curTagged = curSlice
        .withColumn("__part", partTag)
        .withColumn("__fg", fileIdOf)
      val batchKeys = batch.select(col(keyCol).cast("string").as("__bk")).distinct()
      // groups holding any batch key — the rewrite set (bounded collect:
      // file-group count is metadata-scale, like the timeline itself)
      val affected = curTagged
        .join(batchKeys, col("_hoodie_record_key") === col("__bk"))
        .select("__part", "__fg").distinct()
      val affSet = affected.collect().map(r => (r.getString(0), r.getString(1))).toSet
      require(!deleteKeys || affSet.nonEmpty || nAll == 0L,
        s"delete: no batch key exists in $tableDir")
      // survivors: rows of touched groups whose key is NOT in the batch —
      // they carry their ORIGINAL meta columns, re-homed into the new
      // base file name (the carried-row contract T29b's CDC filter needs)
      val inAffected = affected.hint("broadcast")
      val survivors = curTagged.join(inAffected, Seq("__part", "__fg"))
        .join(batchKeys, col("_hoodie_record_key") === col("__bk"), "left_anti")
        .select(Seq(col("_hoodie_commit_time"), col("_hoodie_commit_seqno"),
          col("_hoodie_record_key"), col("_hoodie_partition_path"),
          concat(col("__fg"), lit(s"_0-0-0_$instant.parquet")).as("_hoodie_file_name")) ++
          curUserCols.map(col) ++ Seq(col("__part"), col("__fg")): _*)
      val written =
        if (deleteKeys) survivors
        else {
          // updates keep their existing group (key → group equi-join);
          // brand-new keys open new group(s) in their own partition
          val locator = curTagged
            .select(col("_hoodie_record_key").as("__bk"), col("__part").as("__lp"),
              col("__fg").as("__lf")).distinct()
          val keyedBatch = batch.withColumn("__bk", col(keyCol).cast("string"))
          val updates = keyedBatch.join(locator, Seq("__bk"))
            .withColumn("__part", col("__lp")).withColumn("__fg", col("__lf"))
            .drop("__bk", "__lp", "__lf")
          // new keys route by the TABLE's own partition column (derived
          // from the layout) — the caller's hint cannot diverge from it
          val inserts = tagGroups(
            keyedBatch.join(locator.select("__bk"), Seq("__bk"), "left_anti")
              .drop("__bk"),
            keyCol, tablePart, instant, recordsPerGroup)
          val newMeta = withNewMeta(
            updates.select((curUserCols.map(col) ++ Seq(col("__part"), col("__fg"))): _*)
              .unionByName(inserts.select(
                (curUserCols.map(col) ++ Seq(col("__part"), col("__fg"))): _*)),
            keyCol, partitionCol = tablePart, instant = instant,
            userCols = curUserCols)
          survivors.unionByName(newMeta)
        }
      commitWrite(spark, tableDir, tablePart, instant, written, op,
        extraMetadata, expectGroups = affSet)
    }
  }

  /** CLUSTERING maintenance commit (r13 — the writer-side twin of the
    * S20b READ support): per partition, every current file group
    * rewrites into ONE clustered group, and a completed
    * `.replacecommit` names the old groups in its body's
    * `partitionToReplaceFileIds` — exactly what S20's reader parses,
    * what a T29 stream fails fast on mid-flight, and what a fresh T29
    * snapshot-as-of serves through. Records are CARRIED VERBATIM
    * (original meta columns; only `_hoodie_file_name` changes):
    * clustering is layout work, not data change — the visible
    * slice before and after is row-identical, which the oracle pins. */
  def cluster(spark: SparkSession, tableDir: String, instant: String,
              extraMetadata: Map[String, String] = Map.empty): Unit =
    withLockedSnapshot(spark, tableDir, instant, "CLUSTER") { snap =>
      val files = snap.visibleFiles
      require(files.nonEmpty, s"no completed Hudi base files under $tableDir")
      val cur = HudiRO.readFiles(spark, tableDir, files)
      val tablePart = snap.layout.partitionCol
      val curUserCols = cur.columns.filterNot(MetaCols.contains)
        .filterNot(tablePart.contains).toSeq
      val partTag = tablePart.map(pc => concat(lit("v"), col(pc).cast("string")))
        .getOrElse(lit("v"))
      val curTagged = cur.withColumn("__part", partTag).withColumn("__fg", fileIdOf)
      // the replaced-group inventory (bounded: file-group count)
      val replaced = curTagged.select("__part", "__fg").distinct().collect()
        .map(r => (r.getString(0).stripPrefix("v"), r.getString(1)))
        .groupBy(_._1).map { case (p, fgs) =>
          relPart(tablePart, p) -> fgs.map(_._2).toSet
        }
      val newFg = s"c$instant"
      val written = curTagged
        .withColumn("__fg", lit(newFg))
        .withColumn("_hoodie_file_name", lit(s"${newFg}_0-0-0_$instant.parquet"))
        .select(MetaCols.map(col) ++ curUserCols.map(col) ++
          Seq(col("__part"), col("__fg")): _*)
      commitWrite(spark, tableDir, tablePart, instant, written, "CLUSTER",
        extraMetadata, expectGroups = Set.empty,
        markerSuffix = ".replacecommit", replaced = replaced)
    }

  /** Lock LEASE TTL (r15 verdict #6): a live holder heartbeats the
    * lock's mtime every ttl/3; a lock whose mtime is older than this
    * is presumed abandoned (crashed JVM) and may be TAKEN OVER. Must
    * exceed any real heartbeat gap — the default gives a live writer
    * ~3 missed heartbeats of slack. Test seam: specs shrink it. */
  @volatile private[graft] var lockTtlMs: Long = 10 * 60 * 1000L

  /** Runs `body` under the writer lock on the table as read there
    * ([[HudiRO.snapshot]]: the timeline and the table directory listed
    * once each), so [[rewrite]] and [[cluster]] plan against the
    * snapshot they commit against. The table must exist: the lock
    * lives in its `.hoodie`. */
  private def withLockedSnapshot[T](spark: SparkSession, tableDir: String,
                                    instant: String, op: String)(body: HudiRO.Snapshot => T): T = {
    require(HudiRO.timeline(spark, tableDir).isTable,
      s"$op: no Hudi table at $tableDir (no .hoodie timeline)")
    withWriterLock(spark, tableDir, instant, op)(body(HudiRO.snapshot(spark, tableDir)))
  }

  /** Acquire the table's create-exclusive writer LOCK (owner metadata
    * in the body; the table's `.hoodie` must exist), run `body`,
    * release. Released on success AND on
    * in-process failure (a failed commit must not wedge the table).
    * [[rewrite]] and [[cluster]] hold it across PLANNING +
    * COMMIT, so the snapshot a rewrite reads is the snapshot it
    * commits against: a second writer — even with a DISTINCT instant —
    * refuses up front instead of committing from a stale snapshot (a
    * lost update; ADVICE r15).
    *
    * Stale-lock recovery (r15 verdict #6): while held, a daemon thread
    * refreshes the lock's mtime every [[lockTtlMs]]/3 (the heartbeat);
    * a contender finding a lock whose mtime is older than the TTL
    * presumes the holder dead and takes over — it RENAMES the stale
    * lock to a tombstone (rename succeeds for exactly ONE taker),
    * verifies it renamed the incarnation it observed (a fresh lock
    * re-created in the race window is renamed BACK and the takeover
    * abandoned), then competes through the normal create-exclusive
    * path. Manual `delete <lock>` stays the documented fallback. The
    * `.requested`/completed marker guards in [[commitWrite]]
    * remain the fencing backstop: even if a presumed-dead holder was
    * actually alive, two commits can never interleave under one
    * instant. */
  private def withWriterLock[T](spark: SparkSession, tableDir: String,
                                instant: String, op: String)(body: => T): T = {
    val fs = hfs(spark, tableDir)
    val lock = new Path(s"$tableDir/.hoodie/.lock")
    val owner = java.lang.management.ManagementFactory.getRuntimeMXBean.getName
    // create-exclusive FIRST (the race decider); the body write is a
    // separate failure domain — an I/O error there must clean up the
    // just-created lock and surface as itself, never masquerade as
    // "locked by another writer"
    var created = graft.Fs.createExclusive(fs, lock)
    if (!created) {
      // dead-holder takeover: only when the observed incarnation's
      // mtime is past the lease TTL
      val st = try Some(fs.getFileStatus(lock)) catch { case _: Exception => None }
      val staleMtime = st.map(_.getModificationTime)
        .filter(System.currentTimeMillis() - _ > lockTtlMs)
      staleMtime.foreach { mt =>
        val tomb = new Path(s"$tableDir/.hoodie/.lock.expired.$mt")
        val renamed = try fs.rename(lock, tomb) catch { case _: Exception => false }
        if (renamed) {
          val tombMt = try fs.getFileStatus(tomb).getModificationTime
                       catch { case _: Exception => -1L }
          if (tombMt == mt || tombMt == -1L) {
            // we renamed the stale incarnation we observed — clear it
            try fs.delete(tomb, false) catch { case _: Exception => () }
          } else {
            // race: another taker already recycled the lock and we
            // renamed the FRESH one — put it back, abandon takeover
            try fs.rename(tomb, lock) catch { case _: Exception => () }
          }
        }
        created = graft.Fs.createExclusive(fs, lock)
      }
    }
    if (!created) {
      val held = try {
        val len = fs.getFileStatus(lock).getLen.toInt
        val in = fs.open(lock)
        try {
          val b = new Array[Byte](len); in.readFully(b); new String(b, "UTF-8")
        } finally in.close()
      } catch { case _: Exception => "(unreadable)" }
      throw new IllegalStateException(
        s"$tableDir is locked by another writer: $held — HudiSink is " +
          "single-writer per table; a dead holder's lock expires after " +
          s"${lockTtlMs / 1000}s without a heartbeat, or delete $lock " +
          "to recover immediately")
    }
    // heartbeat: keep a LIVE holder's lease fresh for long commits so
    // a contender never presumes it dead
    val hb = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(math.max(lockTtlMs / 3, 50L))
          fs.setTimes(lock, System.currentTimeMillis(), -1L)
        }
      } catch { case _: Throwable => () } // incl. interrupt on release
    }, s"graft-hudi-lock-heartbeat-$instant")
    hb.setDaemon(true)
    try {
      val out = fs.create(lock, /* overwrite = */ true)
      try out.write(s"""{"owner":"$owner","instant":"$instant","op":"$op"}"""
        .getBytes("UTF-8")) finally out.close()
      hb.start()
      body
    } finally {
      hb.interrupt()
      fs.delete(lock, false)
    }
  }

  /** One distributed write job for every (partition, fileId) group,
    * then name-level placement and the atomic commit marker. The
    * caller holds the writer lock ([[withWriterLock]]): insert around
    * this step alone, rewrite and cluster around their snapshot
    * planning too. */
  private def commitWrite(spark: SparkSession, tableDir: String,
                          partitionCol: Option[String], instant: String,
                          tagged: DataFrame, op: String,
                          extraMetadata: Map[String, String],
                          expectGroups: Set[(String, String)] = Set.empty,
                          markerSuffix: String = ".commit",
                          replaced: Map[String, Set[String]] = Map.empty): Unit = {
    val fs = hfs(spark, tableDir)
    // single-writer guard (see object scaladoc): a concurrent writer
    // that allocated the same instant loses the exclusive create of the
    // .requested marker, or trips on an already-completed marker —
    // never silently interleaves two commits under one instant
    require(!fs.exists(new Path(s"$tableDir/.hoodie/$instant$markerSuffix")),
      s"instant $instant already completed in $tableDir — concurrent writer? " +
        "(HudiSink is single-writer per table)")
    val requested = new Path(s"$tableDir/.hoodie/$instant$markerSuffix.requested")
    if (!graft.Fs.createExclusive(fs, requested))
      throw new IllegalStateException(
        s"instant $instant already requested in $tableDir — concurrent " +
          "writer? (HudiSink is single-writer per table)")
    graft.Fs.touch(spark, s"$tableDir/.hoodie/$instant.inflight")
    val tmp = s"$tableDir/.hoodie/.temp_$instant"
    // each (partition, group) is one shuffle partition → exactly one
    // parquet file per group; partitionBy peels the routing columns off
    tagged.repartition(col("__part"), col("__fg"))
      .write.mode("overwrite").partitionBy("__part", "__fg").parquet(tmp)
    val stats = scala.collection.mutable.ListBuffer.empty[(String, String, String)]
    val seen = scala.collection.mutable.HashSet.empty[(String, String)]
    fs.listStatus(new Path(tmp)).filter(_.isDirectory).foreach { pd =>
      val rawPart = ExternalCatalogUtils.unescapePathName(
        pd.getPath.getName.stripPrefix("__part=")).stripPrefix("v")
      fs.listStatus(pd.getPath).filter(_.isDirectory).foreach { fd =>
        val fg = ExternalCatalogUtils.unescapePathName(
          fd.getPath.getName.stripPrefix("__fg="))
        val parts = fs.listStatus(fd.getPath).map(_.getPath)
          .filter(_.getName.startsWith("part-"))
        require(parts.length == 1,
          s"group ($rawPart, $fg) wrote ${parts.length} files — routing bug")
        val destDir = placeDir(spark, tableDir, partitionCol, rawPart)
        val name = s"${fg}_0-0-0_$instant.parquet"
        require(fs.rename(parts.head, new Path(s"$destDir/$name")),
          s"rename failed: ${parts.head} -> $destDir/$name")
        stats += ((relPart(partitionCol, rawPart), fg, name))
        seen += ((s"v$rawPart", fg))
      }
    }
    fs.delete(new Path(tmp), true)
    // a fully-deleted group writes an EMPTY base file (no new slice
    // would leave the old one visible); bounded by emptied-group count
    (expectGroups -- seen).foreach { case (vPart, fg) =>
      val rawPart = vPart.stripPrefix("v")
      val destDir = placeDir(spark, tableDir, partitionCol, rawPart)
      val name = s"${fg}_0-0-0_$instant.parquet"
      graft.Fs.writeSingleFile(
        tagged.limit(0).drop("__part", "__fg"), s"$destDir/$name")
      stats += ((relPart(partitionCol, rawPart), fg, name))
    }
    // Record each written file's `_hoodie_record_key` min/max into the
    // commit body (r14 verdict #1): ONE footer probe per file written
    // by THIS commit (parallel, bounded by touched-group count — the
    // probe reads back exactly the stats the prune would otherwise
    // re-derive per future commit), so the locator never re-opens old
    // footers: key ranges are immutable per base file.
    val keyStats = {
      import scala.jdk.CollectionConverters._
      val conf = spark.sparkContext.hadoopConfiguration
      stats.toList.asJava.parallelStream()
        .map[(String, KeyRange)] { t: (String, String, String) =>
          val (p, _, name) = t
          val rel = if (p.isEmpty) name else s"$p/$name"
          rel -> keyRangeOf(conf, s"$tableDir/$rel")
        }
        .collect(java.util.stream.Collectors.toList[(String, KeyRange)])
        .asScala.toMap
    }
    commitMarker(spark, tableDir, instant, op, stats.toList, extraMetadata,
      markerSuffix, replaced, keyStats)
  }

  private def relPart(partitionCol: Option[String], rawPart: String): String =
    partitionCol.map(pc =>
      s"$pc=${ExternalCatalogUtils.escapePathName(rawPart)}").getOrElse("")

  private def placeDir(spark: SparkSession, tableDir: String,
                       partitionCol: Option[String], rawPart: String): String = {
    val fs = hfs(spark, tableDir)
    val destDir = partitionCol match {
      case Some(pc) => s"$tableDir/$pc=${ExternalCatalogUtils.escapePathName(rawPart)}"
      case None     => tableDir
    }
    fs.mkdirs(new Path(destDir))
    val marker = new Path(s"$destDir/.hoodie_partition_metadata")
    if (!fs.exists(marker)) graft.Fs.touch(spark, marker.toString)
    destDir
  }

  /** The completed-commit marker, body in the public
    * HoodieCommitMetadata JSON vocabulary (partitionToWriteStats +
    * operationType + extraMetadata), written atomically LAST. Each
    * writeStat additionally records the file's `_hoodie_record_key`
    * min/max (`minKeyHex`/`maxKeyHex` — hex because a parquet-truncated
    * bound rounded up need not be valid UTF-8, and the prune compares
    * BYTES) or `emptyFile` for an emptied group's zero-row base file;
    * [[HudiRO.Timeline.keyRanges]] reads these back so the upsert locator never
    * re-probes footers for sink-written files. */
  private def commitMarker(spark: SparkSession, tableDir: String,
                           instant: String, op: String,
                           stats: List[(String, String, String)],
                           extraMetadata: Map[String, String],
                           markerSuffix: String = ".commit",
                           replaced: Map[String, Set[String]] = Map.empty,
                           keyStats: Map[String, KeyRange] = Map.empty): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    val p2ws = root.putObject("partitionToWriteStats")
    stats.groupBy(_._1).foreach { case (part, fs0) =>
      val arr = p2ws.putArray(part)
      fs0.foreach { case (p, fg, name) =>
        val st = arr.addObject()
        st.put("fileId", fg)
        val rel = if (p.isEmpty) name else s"$p/$name"
        st.put("path", rel)
        keyStats.get(rel) match {
          case Some(Range(mn, mx)) =>
            st.put("minKeyHex", toHex(mn)); st.put("maxKeyHex", toHex(mx))
          case Some(FileEmpty) => st.put("emptyFile", true)
          case _ => () // RangeUnknown/unprobed: reader falls back to a footer probe
        }
      }
    }
    root.put("operationType", op)
    if (replaced.nonEmpty) {
      val rep = root.putObject("partitionToReplaceFileIds")
      replaced.foreach { case (part, fgs) =>
        val arr = rep.putArray(part)
        fgs.toSeq.sorted.foreach(arr.add)
      }
    }
    val em = root.putObject("extraMetadata")
    extraMetadata.foreach { case (k, v) => em.put(k, v) }
    graft.Fs.writeAtomic(hfs(spark, tableDir), new Path(s"$tableDir/.hoodie/$instant$markerSuffix"),
      root.toString)
  }

  /** Test seam: commit bodies the most recent [[lastCommittedBatchId]]
    * walk examined before stopping — the T31 cadence pin: O(commits newer
    * than this query's last commit), not O(timeline lifetime). */
  @volatile private[graft] var lastBatchIdCommitsScanned: Option[Int] = None

  /** NEWEST streaming-batch id recorded in a completed commit's
    * extraMetadata for `queryId` (the T18 exactly-once device: the
    * table IS the commit log — no side state). Scans the timeline
    * NEWEST-FIRST and stops at the first commit carrying the query id:
    * batch ids are monotone in commit order (a stream commits its
    * batches in sequence), so the newest one is the replay watermark —
    * and the per-micro-batch cost is O(commits since this query's last
    * commit), not O(timeline lifetime), which over a long-running
    * stream would have been quadratic. */
  private[graft] def lastCommittedBatchId(spark: SparkSession, tableDir: String,
                                          queryId: String): Option[Long] = {
    // a nonexistent table has no commits: nothing examined
    val tl = HudiRO.timeline(spark, tableDir)
    var scanned = 0
    val res = tl.commits.reverseIterator.map { s => scanned += 1; tl.body(s).batch }
      .collectFirst { case Some((q, b)) if q == queryId => b }
    lastBatchIdCommitsScanned = Some(scanned)
    res
  }
}
