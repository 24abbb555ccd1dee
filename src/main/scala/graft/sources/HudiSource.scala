package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Hudi copy-on-write table reads (read-optimized view), built from the
  * PUBLIC Hudi table layout — the third lakehouse format family the
  * reference reads (after Iceberg S16* and Hive ACID S18*).
  *
  * Reference behavior (semantics only, no code shared):
  * apache-impala-4.1.0 `fe/src/main/java/org/apache/impala/util/
  * HudiUtil.java:26-38` — "return a list of file status contains only
  * the latest version parquet files" per file group, delegated to
  * Hudi's own `HoodieROTablePathFilter`; format registration at
  * `catalog/HdfsFileFormat.java:80` (HUDI_PARQUET). This source
  * re-expresses what that filter does from the public layout spec:
  *
  * {{{
  *   table_dir/
  *     .hoodie/
  *       20240101093000000.commit            -- COMPLETED instant
  *       20240102110000000.inflight          -- in-progress (invisible)
  *       20240102110000000.commit.requested
  *       hoodie.properties
  *     status=F/                              -- hive-style partition dir
  *       .hoodie_partition_metadata
  *       <fileId>_<writeToken>_<instantTime>.parquet
  * }}}
  *
  * Read-optimized COW semantics: a data file belongs to a FILE GROUP
  * (the fileId prefix of its name); every commit that updates a group
  * rewrites it WHOLE as a new base file stamped with the commit's
  * instant time. The visible snapshot keeps, per (partition, fileId),
  * only the file whose instant is (a) COMPLETED in the timeline (a
  * `<instant>.commit` marker exists — an inflight writer's file is
  * invisible) and (b) maximal among those. Instants are fixed-width
  * digit strings ordered lexicographically (the public timeline
  * ordering).
  *
  * Scale design: exactly the S19 discipline — the `.hoodie` timeline
  * and per-partition file listings are driver-side NAME-level work,
  * bounded by commit cadence and file-group count (the same
  * metadata-scale sweep `HoodieROTablePathFilter` does); partition
  * PRUNING cuts dirs before any listing; the selected files feed ONE
  * distributed parquet scan with full pushdown. No per-row driver
  * work.
  *
  * Fixture note: real Hudi files carry `_hoodie_*` meta columns as
  * ordinary leading columns; the reference reads them as table columns
  * and so would this parquet scan — the fixtures omit them because the
  * RO selection logic never consults them (it is purely name-level). */
object HudiRO {
  import HudiSink.{FileEmpty, KeyRange, Range}

  /** `<fileId>_<writeToken>_<instantTime>.parquet` (public Hudi
    * FSUtils base-file naming; fileId may itself contain '_' so the
    * token+instant match anchors at the END). Group 1 is the fileId,
    * group 3 the instant. */
  private[graft] val BaseFileName = """(.+)_([0-9]+-[0-9]+-[0-9]+)_([0-9]+)\.parquet"""
  private val FilePat = BaseFileName.r

  private[graft] final case class BaseFile(fileId: String, instant: String,
                                           name: String)

  private[graft] def parseFile(name: String): Option[BaseFile] = name match {
    case FilePat(fid, _, instant) => Some(BaseFile(fid, instant, name))
    case _ => None
  }

  private def hfs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** What a completed commit's JSON body records: the file groups a
    * clustering replacecommit replaced (`partitionToReplaceFileIds`, by
    * relative partition path), each written file's `_hoodie_record_key`
    * range (`minKeyHex`/`maxKeyHex`/`emptyFile` on its writeStat, by
    * table-relative path; [[HudiSink]] records them) and the streaming
    * (query id, batch id) of its `extraMetadata`. */
  private[graft] final case class CommitBody(replaced: Map[String, Set[String]],
                                             ranges: Map[String, KeyRange],
                                             batch: Option[(String, Long)])

  /** Parsed commit bodies per immutable file (path, length, mtime):
    * completed commits are written once through a rename and never
    * modified, so a stale entry cannot be served, and a long-lived
    * reader, stream or sink parses only the commits new since its last
    * look. Per-entry LRU, never clear-all: a timeline past the bound
    * keeps its working set. A refusal is never cached: the file could
    * be fixed in place, and refusing is already the slow path. */
  private val bodies = graft.Lru[(String, Long, Long), CommitBody](65536)

  /** The one reader of commit bodies. An empty or foreign `.commit`
    * body records nothing (the hand-touched fixture markers are empty
    * files). A `.replacecommit` body the parser does not recognize is a
    * LOUD refusal: the replaced file groups are only named there, and
    * reading on would silently duplicate replaced rows (the
    * Iceberg-v2-deletes discipline). */
  private def parseBody(fs: FileSystem, tableDir: String, s: FileStatus): CommitBody = {
    val where = s"$tableDir/.hoodie/${s.getPath.getName}"
    val replace = s.getPath.getName.endsWith(".replacecommit")
    val in = fs.open(s.getPath)
    val bytes = try in.readAllBytes() finally in.close()
    val node = try Option(IcebergMeta.mapper.readTree(bytes)) catch {
      case e: Exception if replace => throw new IllegalArgumentException(
        s"$where: clustering replacecommit body is not JSON — refusing to read " +
          s"(the replaced file groups are only named there); cause: ${e.getMessage}")
      case _: Exception => None
    }
    def field(n: Option[JsonNode], name: String) = n.flatMap(x => Option(x.get(name)))
    val replaced = if (!replace) Map.empty[String, Set[String]] else {
      val ptr = field(node, "partitionToReplaceFileIds").filter(_.isObject)
      require(ptr.nonEmpty, s"$where: replacecommit body carries no " +
        "partitionToReplaceFileIds object — unrecognized shape, refusing to read " +
        "(reading on would duplicate replaced rows)")
      ptr.get.fields().asScala.map { e =>
        require(e.getValue.isArray, s"$where: partitionToReplaceFileIds['${e.getKey}'] " +
          "is not an array — unrecognized shape, refusing to read")
        e.getKey -> e.getValue.elements().asScala.map { v =>
          require(v.isTextual, s"$where: non-string fileId in " +
            s"partitionToReplaceFileIds['${e.getKey}'] — refusing to read")
          v.asText()
        }.toSet
      }.toMap
    }
    val ranges = for {
      p2ws <- field(node, "partitionToWriteStats").filter(_.isObject).toSeq
      stats <- p2ws.elements().asScala if stats.isArray
      st <- stats.elements().asScala
      path <- Option(st.get("path")).filter(_.isTextual)
      kr <- Option(st.get("emptyFile")).filter(_.asBoolean(false)).map(_ => FileEmpty)
        .orElse(for {
          mn <- Option(st.get("minKeyHex")).filter(_.isTextual)
          mx <- Option(st.get("maxKeyHex")).filter(_.isTextual)
          // malformed hex from a foreign writer's colliding field name
          // must not crash the prune: the file falls back to a footer
          // probe like any other stats-less file
          r <- scala.util.Try(Range(HudiSink.fromHex(mn.asText), HudiSink.fromHex(mx.asText))).toOption
        } yield r)
    } yield path.asText -> kr
    val em = field(node, "extraMetadata")
    val batch = for {
      q <- field(em, "streaming-query-id")
      b <- field(em, "streaming-batch-id").flatMap(_.asText.toLongOption)
    } yield (q.asText, b)
    CommitBody(replaced, ranges.toMap, batch)
  }

  /** One listing of `<table>/.hoodie`: every fact the readers and
    * writers take from the timeline. `isTable` is false when the
    * directory is missing. Instants are fixed-width digit strings,
    * lexicographic = commit order (the public instant contract). Only
    * `<instant>.commit` and `<instant>.replacecommit` complete an
    * instant: an `.inflight`, a `.requested` or a MOR `.deltacommit`
    * without its completion marker is a writer mid-flight (or a log
    * the read-optimized view never reads), and its files stay
    * invisible. A completed replacecommit (clustering) BOTH completes
    * its own new base files and kills the file groups its body names
    * (reference parity: HoodieROTablePathFilter handles clustered
    * tables, HudiUtil.java:26-38). */
  private[graft] final class Timeline(fs: FileSystem, tableDir: String,
                                      val isTable: Boolean, entries: Seq[FileStatus]) {
    private def instantOf(s: FileStatus) = s.getPath.getName.takeWhile(_.isDigit)
    private def marked(suffix: String) =
      entries.filter(_.getPath.getName.endsWith(suffix)).sortBy(_.getPath.getName)
    /** Completed `.commit` markers, oldest first. */
    val commits: Seq[FileStatus] = marked(".commit")
    private val replacecommits = marked(".replacecommit")
    /** Completed instants (commits AND replacecommits), in commit order. */
    val completedInstants: Seq[String] = (commits ++ replacecommits).map(instantOf).sorted
    val completed: Set[String] = completedInstants.toSet
    def replacecommitsIn(from: String, to: String): Seq[String] =
      replacecommits.map(instantOf).filter(i => i > from && i <= to)

    /** The timeline AS OF `max` (inclusive); files without a digit
      * prefix (hoodie.properties) pass through. */
    def asOf(max: String): Timeline = new Timeline(fs, tableDir, isTable, entries.filter { s =>
      val i = instantOf(s); i.isEmpty || i <= max
    })

    /** Max over every timeline file's digit prefix (any state), plus one. */
    def nextInstant: String = {
      val max = entries.map(instantOf).filter(_.nonEmpty).maxOption
      f"${max.getOrElse("20240101000000000").toLong + 1}%017d"
    }

    def body(s: FileStatus): CommitBody = {
      val key = (s.getPath.toString, s.getLen, s.getModificationTime)
      val hit = bodies.get(key)
      if (hit != null) hit
      else {
        // parse outside the map lock; a racing duplicate parse of an
        // immutable file yields the same value
        val parsed = parseBody(fs, tableDir, s)
        bodies.put(key, parsed)
        parsed
      }
    }

    /** Replaced file groups per relative partition path ("" for an
      * unpartitioned table). */
    lazy val replaced: Map[String, Set[String]] =
      replacecommits.flatMap(body(_).replaced).groupMapReduce(_._1)(_._2)(_ ++ _)
    def dead(partitionDir: String): Set[String] = replaced.getOrElse(partitionDir, Set.empty)

    /** The `_hoodie_record_key` range of every file a completed commit
      * recorded, by table-relative path: the upsert locator prunes by
      * these instead of re-opening snapshot footers (the public Hudi
      * bloom-index idea; ranges are immutable per base file). Files of
      * commits that record none fall back to footer probes. File names
      * carry their instant: no cross-commit collisions. */
    def keyRanges: Map[String, KeyRange] =
      (commits ++ replacecommits).flatMap(body(_).ranges).toMap
  }

  /** Lists `<tableDir>/.hoodie` once. */
  private[graft] def timeline(spark: SparkSession, tableDir: String): Timeline = {
    val fs = hfs(spark, tableDir)
    val entries = try Some(fs.listStatus(new Path(tableDir, ".hoodie")).toSeq)
      catch { case _: java.io.FileNotFoundException => None }
    new Timeline(fs, tableDir, entries.isDefined, entries.getOrElse(Nil))
  }

  /** One listing of the table directory: the Hive-style partition dirs
    * (`col=value`) carrying the `.hoodie_partition_metadata` marker,
    * and the files at the root. An UNPARTITIONED table keeps its files
    * at the root (`dirs` is the single "" partition). */
  private[graft] final case class Layout(dirs: Seq[String], root: Seq[FileStatus]) {
    def partitionCol: Option[String] = HudiRO.partitionCol(dirs)
  }

  private[graft] def layout(spark: SparkSession, tableDir: String): Layout = {
    val fs = hfs(spark, tableDir)
    val all = fs.listStatus(new Path(tableDir)).toSeq
    val dirs = all.filter(s => s.isDirectory && !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName)
      .filter(d => fs.exists(new Path(s"$tableDir/$d/.hoodie_partition_metadata")))
    Layout(if (dirs.nonEmpty) dirs.sorted else Seq(""), all.filter(_.isFile))
  }

  /** The partition column named by the first `col=value` segment of
    * `relPaths` (partition dirs or table-relative file paths). */
  private[graft] def partitionCol(relPaths: Seq[String]): Option[String] =
    relPaths.find(_.contains("=")).map(_.split("=", 2)(0))

  /** A partition dir's raw value: its `col=value` segment Hive-UNESCAPED
    * (a value with space/':'/'%' escapes in the path). */
  private[graft] def partitionValue(dir: String): Option[String] =
    if (!dir.contains("=")) None
    else Some(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(dir.split("=", 2)(1)))

  /** One partition dir's base files; `path` is its absolute dir. */
  private[graft] final case class Slice(dir: String, path: String, files: Seq[BaseFile]) {
    def file(b: BaseFile): String = s"$path/${b.name}"
  }

  /** A table as of one read: its timeline, its layout and the base files
    * of the partition dirs kept by `keep`, each listed once (the root's
    * files come from the layout's own listing). */
  private[graft] final case class Snapshot(timeline: Timeline, layout: Layout,
                                           slices: Seq[Slice]) {
    /** The read-optimized view, per slice: the latest completed base
      * file of each live file group. */
    def visible: Seq[(Slice, BaseFile)] = slices.flatMap(s =>
      latest(s.files, timeline.completed, timeline.dead(s.dir)).map(s -> _))
    def visibleFiles: Seq[String] = visible.map { case (s, b) => s.file(b) }
  }

  private[graft] def snapshot(spark: SparkSession, tableDir: String,
                              keep: String => Boolean = _ => true,
                              tl: Option[Timeline] = None): Snapshot = {
    val t = tl.getOrElse(timeline(spark, tableDir))
    require(t.isTable, s"$tableDir is not a Hudi table (no .hoodie timeline)")
    val lay = layout(spark, tableDir)
    val fs = hfs(spark, tableDir)
    val slices = lay.dirs.filter(keep).map { d =>
      val path = if (d.isEmpty) tableDir else s"$tableDir/$d"
      val files = if (d.isEmpty) lay.root else fs.listStatus(new Path(path)).toSeq.filter(_.isFile)
      Slice(d, path, files.flatMap(f => parseFile(f.getPath.getName)))
    }
    Snapshot(t, lay, slices)
  }

  /** Latest completed base file per file group among `files`, minus
    * `dead` file groups (clustering-replaced) — the
    * HoodieROTablePathFilter decision, name-level. */
  private def latest(files: Seq[BaseFile], completed: Set[String],
                     dead: Set[String]): Seq[BaseFile] =
    files.filter(b => completed(b.instant) && !dead(b.fileId))
      .groupBy(_.fileId)
      .values.map(_.maxBy(_.instant)).toSeq // lexicographic = timeline order
      .sortBy(_.name)

  private[graft] def selectLatest(names: Seq[String], completed: Set[String],
                                  dead: Set[String] = Set.empty): Seq[String] =
    latest(names.flatMap(parseFile), completed, dead).map(_.name)

  /** Read the read-optimized view. `partitions` non-empty prunes to
    * those partition VALUES on the driver before any file listing (the
    * S19 pruning shape); dir segments Hive-UNESCAPE before the pruning
    * comparison (the user supplies the raw value, the reference
    * unescapes the same way).
    *
    * Scale design: ALL selected files feed ONE parquet relation
    * (`basePath`-anchored), so a 1000-partition table plans a single
    * scan node — not a 1000-relation union (driver plan-size cost
    * nothing bounds for Hudi, unlike S19's spec-bounded list). Spark's
    * own partition discovery rematerializes the partition column from
    * the `col=value` dir names (unescaping them); type inference is
    * pinned OFF for the discovery so the column is deterministically a
    * string (a "01" partition must not round-trip as int 1). */
  def read(spark: SparkSession, tableDir: String,
           partitions: Seq[String] = Nil): DataFrame = {
    val files = snapshotFiles(spark, tableDir, partitions)
    require(files.nonEmpty, s"no completed Hudi base files under $tableDir")
    readFiles(spark, tableDir, files)
  }

  /** The visible snapshot's base-file paths (the same name-level
    * selection [[read]] scans). */
  private[graft] def snapshotFiles(spark: SparkSession, tableDir: String,
                                   partitions: Seq[String] = Nil): Seq[String] = {
    val want = partitions.toSet
    val snap = snapshot(spark, tableDir,
      keep = d => want.isEmpty || partitionValue(d).exists(want))
    require(snap.slices.nonEmpty, s"no Hudi partitions selected under $tableDir")
    // an all-inflight/replaced partition is a valid empty slice
    snap.visibleFiles
  }

  /** ONE parquet relation over an explicit base-file subset (paths from
    * [[snapshotFiles]]); partitioned tables rematerialize the partition
    * column from the `col=value` path segment, pinned to STRING. */
  private[graft] def readFiles(spark: SparkSession, tableDir: String,
                               files: Seq[String]): DataFrame = {
    require(files.nonEmpty, s"no Hudi base files to read under $tableDir")
    partitionCol(files.map(_.stripPrefix(tableDir).stripPrefix("/"))) match {
      case None => spark.read.parquet(files: _*)
      case Some(pcol) =>
        // Pin the partition column to STRING via an explicit user schema
        // (data fields from the first selected file's footer + the
        // partition column appended, the discovery order) instead of
        // toggling the session-global type-inference conf — a concurrent
        // query on the same SparkSession must never observe a flipped
        // conf, and two overlapping reads could restore a stale value.
        val data = spark.read.parquet(files.head).schema
        val full = org.apache.spark.sql.types.StructType(
          data.fields :+ org.apache.spark.sql.types.StructField(
            pcol, org.apache.spark.sql.types.StringType))
        spark.read.schema(full).option("basePath", tableDir).parquet(files: _*)
    }
  }
}

/** Oracle-checked Hudi coverage: a COW layout built from the flat
  * `orders` parquet — two completed commits (the second REWRITES file
  * group fg0, dropping its odd keys: the copy-on-write delete) and one
  * INFLIGHT commit whose file must stay invisible. DuckDB recomputes
  * the visible slice from flat parquet; a hash match certifies latest-
  * version-per-file-group selection, inflight exclusion, and the
  * partition-column rematerialization.
  *
  * Per o_orderstatus partition:
  *   fg0 @ c1 (commit): o_orderkey % 4 IN (0, 1)
  *   fg1 @ c1 (commit): o_orderkey % 4 = 2
  *   fg0 @ c2 (commit): o_orderkey % 4 = 0      -- supersedes fg0@c1
  *   fg2 @ c3 (INFLIGHT): o_orderkey % 4 = 3    -- invisible
  *   → visible: o_orderkey % 4 IN (0, 2)
  */
object HudiQueries extends graft.QueryModule {
  import graft.{Fixture, Fs}
  import graft.operators.Exact

  private val C1 = "20240101000000000"
  private val C2 = "20240102000000000"
  private val C3 = "20240103000000000"
  private val C4 = "20240104000000000"

  /** Lays out a hand-built table at `root`: `.hoodie/hoodie.properties`
    * and one partition dir per o_orderstatus value, whose base files
    * `files(partitionDir, m4)` writes — `m4(r)` is the partition's
    * orders with o_orderkey % 4 in `r`. Returns the status values. */
  private def layOut(spark: SparkSession, dir: String, root: String)(
      files: (String, Seq[Long] => DataFrame) => Unit): Seq[String] = {
    val orders = graft.Tables(spark, dir).orders
    val statuses = orders.select("o_orderstatus").distinct()
      .collect().map(_.getString(0)).sorted.toSeq // bounded domain (3 values)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$root/.hoodie"))
    Fs.touch(spark, s"$root/.hoodie/hoodie.properties")
    statuses.foreach { st =>
      val pdir = s"$root/o_orderstatus=$st"
      fs.mkdirs(new Path(pdir))
      Fs.touch(spark, s"$pdir/.hoodie_partition_metadata")
      val slice = orders.filter(col("o_orderstatus") === st).drop("o_orderstatus")
      files(pdir, r => slice.filter(pmod(col("o_orderkey"), lit(4L)).isin(r: _*)))
    }
    statuses
  }

  val table = new Fixture("hudi_orders")((spark, dir, root) => {
    layOut(spark, dir, root) { (pdir, m4) =>
      Fs.writeSingleFile(m4(Seq(0L, 1L)), s"$pdir/fg0_0-0-0_$C1.parquet")
      Fs.writeSingleFile(m4(Seq(2L)), s"$pdir/fg1_0-0-0_$C1.parquet")
      Fs.writeSingleFile(m4(Seq(0L)), s"$pdir/fg0_0-0-0_$C2.parquet") // COW rewrite
      Fs.writeSingleFile(m4(Seq(3L)), s"$pdir/fg2_0-0-0_$C3.parquet") // inflight
    }
    Seq(s"$C1.commit", s"$C2.commit", s"$C3.inflight", s"$C3.commit.requested")
      .foreach(f => Fs.touch(spark, s"$root/.hoodie/$f"))
  })

  /** A CLUSTERED table: C1 writes fg0 (keys %4 ∈ {0,1}) + fg1 (%4=2),
    * C2 is a completed `.replacecommit` whose body names fg0+fg1 as
    * replaced per partition and whose new base file fgc carries their
    * union, C3 commits fg4 (%4=3). Visible = ALL orders rows — but
    * ONLY if the reader both admits the replacecommit's own file AND
    * excludes the replaced groups (ignoring the body would double
    * every %4 ∈ {0,1,2} row, which the oracle hash catches). */
  val clustered = new Fixture("hudi_cluster")((spark, dir, root) => {
    val statuses = layOut(spark, dir, root) { (pdir, m4) =>
      Fs.writeSingleFile(m4(Seq(0L, 1L)), s"$pdir/fg0_0-0-0_$C1.parquet")
      Fs.writeSingleFile(m4(Seq(2L)), s"$pdir/fg1_0-0-0_$C1.parquet")
      Fs.writeSingleFile(m4(Seq(0L, 1L, 2L)), s"$pdir/fgc_0-0-0_$C2.parquet") // clustered
      Fs.writeSingleFile(m4(Seq(3L)), s"$pdir/fg4_0-0-0_$C3.parquet")
    }
    Fs.touch(spark, s"$root/.hoodie/$C1.commit")
    // the public HoodieReplaceCommitMetadata JSON shape: replaced
    // file groups keyed by relative partition path
    val perPart = statuses.map(st =>
      s""""o_orderstatus=$st": ["fg0", "fg1"]""").mkString(", ")
    val replace = new Path(s"$root/.hoodie/$C2.replacecommit")
    Fs.writeAtomic(replace.getFileSystem(spark.sparkContext.hadoopConfiguration), replace,
      s"""{"partitionToWriteStats": {}, "compacted": false,
         | "operationType": "CLUSTER",
         | "partitionToReplaceFileIds": {$perPart}}""".stripMargin)
    Fs.touch(spark, s"$root/.hoodie/$C3.commit")
  })

  /** S20d oracle fixture: the table is built by [[HudiSink]] ITSELF —
    * no hand-laid files. C1 INSERTs all orders (partitioned by
    * o_orderstatus, key o_orderkey, split into ~4000-row file groups);
    * C2 UPSERTs one batch carrying updates (keys %10==3 get +1000
    * price — their groups rewrite, carried rows keep their C1 meta)
    * and inserts (key shifted past the table max for %1000==1 — new file groups); C3
    * DELETEs every then-current key with key%7==5 (group rewrites,
    * empty groups get empty base files). DuckDB recomputes the final
    * state from flat orders; a hash match certifies the whole
    * write→read loop: group routing, COW rewrite supersession, carried
    * vs stamped meta rows, delete-to-empty visibility. */
  private def writeSink(spark: SparkSession, dir: String, root: String): Unit = {
    val orders = graft.Tables(spark, dir).orders
    HudiSink.insert(orders, root, "o_orderkey", Some("o_orderstatus"), C1,
      recordsPerGroup = 4000L)
    val updates = orders.filter(pmod(col("o_orderkey"), lit(10L)) === 3L)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
    // insert-key shift DERIVED from the table's own max key (max+1):
    // a fixed 20M shift collided with real orderkeys once the max key
    // passed 20M (SF>~3.3), silently turning an 'insert' into an
    // update while the oracle's UNION ALL kept both rows — the oracle
    // computes the same (SELECT max(o_orderkey)+1 FROM orders)
    val shift = orders.agg(max("o_orderkey")).head.getLong(0) + 1L
    val inserts = orders.filter(pmod(col("o_orderkey"), lit(1000L)) === 1L)
      .withColumn("o_orderkey", col("o_orderkey") + lit(shift))
    HudiSink.upsert(updates.unionByName(inserts), root, "o_orderkey",
      Some("o_orderstatus"), C2)
    val delKeys = HudiRO.read(spark, root)
      .filter(pmod(col("o_orderkey"), lit(7L)) === 5L).select("o_orderkey")
    HudiSink.delete(delKeys, root, "o_orderkey", C3)
  }
  val sink = new Fixture("hudi_sink")(writeSink)

  /** S20e: the same sink table, written at its own path and then
    * CLUSTERED by the writer's own maintenance commit — the visible
    * slice must be row-identical to `src_hudi_write_rt` (clustering is
    * layout work, not data change), which only holds if the reader BOTH
    * admits the replacecommit's new files AND kills the replaced groups
    * its body names. */
  val clusteredSink = new Fixture("hudi_sink_cluster")((spark, dir, root) => {
    writeSink(spark, dir, root)
    HudiSink.cluster(spark, root, C4)
  })

  private def agg(df: DataFrame): DataFrame =
    df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("o_custkey")).as("nd_cust"),
        Exact.dsum(col("o_totalprice")).as("sum_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")

  val queries: Map[String, Q] = Map(
    "src_hudi_ro" -> ((spark, dir) =>
      agg(HudiRO.read(spark, table.ensure(spark, dir)))),
    // pruned read: only the named partition's dir is ever listed
    "src_hudi_prune" -> ((spark, dir) =>
      agg(HudiRO.read(spark, table.ensure(spark, dir), partitions = Seq("F")))),
    // clustering: the replacecommit's new file is visible, the
    // replaced file groups are dead (body-parsed, not name-level)
    "src_hudi_cluster" -> ((spark, dir) =>
      agg(HudiRO.read(spark, clustered.ensure(spark, dir)))),
    // S20d: insert→upsert→delete through the WRITER, read back RO
    "src_hudi_write_rt" -> ((spark, dir) =>
      agg(HudiRO.read(spark, sink.ensure(spark, dir)))),
    // S20e: the WRITER's clustering replacecommit — same visible rows
    "src_hudi_write_cluster" -> ((spark, dir) =>
      agg(HudiRO.read(spark, clusteredSink.ensure(spark, dir)))),
  )

  val oracles: Map[String, String] = Map(
    "src_hudi_ro" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |  count(DISTINCT o_custkey) AS nd_cust,
         |  ${Exact.sqlSum("o_totalprice")} AS sum_price,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM orders WHERE o_orderkey % 4 IN (0, 2)
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "src_hudi_prune" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |  count(DISTINCT o_custkey) AS nd_cust,
         |  ${Exact.sqlSum("o_totalprice")} AS sum_price,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM orders WHERE o_orderkey % 4 IN (0, 2) AND o_orderstatus = 'F'
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // post-clustering visible slice = every row, exactly once: a
    // reader that ignored partitionToReplaceFileIds would double
    // %4 ∈ {0,1,2} and hash-mismatch
    "src_hudi_cluster" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |  count(DISTINCT o_custkey) AS nd_cust,
         |  ${Exact.sqlSum("o_totalprice")} AS sum_price,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM orders
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // writer round trip: insert all, upsert (+1000 on %10==3 keys;
    // new keys shifted past max(o_orderkey) for %1000==1 sources), delete keys %7==5
    "src_hudi_write_rt" ->
      s"""WITH upd AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |    CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 1000.0
         |         ELSE o_totalprice END AS o_totalprice
         |  FROM orders
         |  UNION ALL
         |  SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders),
         |    o_custkey, o_orderstatus, o_totalprice
         |  FROM orders WHERE o_orderkey % 1000 = 1)
         |SELECT o_orderstatus, count(*) AS n,
         |  count(DISTINCT o_custkey) AS nd_cust,
         |  ${Exact.sqlSum("o_totalprice")} AS sum_price,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM upd WHERE o_orderkey % 7 <> 5
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // clustering preserves the visible slice exactly — same oracle as
    // the pre-clustering round trip; a reader that ignored the
    // writer's replacecommit body would double every row
    "src_hudi_write_cluster" ->
      s"""WITH upd AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |    CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 1000.0
         |         ELSE o_totalprice END AS o_totalprice
         |  FROM orders
         |  UNION ALL
         |  SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders),
         |    o_custkey, o_orderstatus, o_totalprice
         |  FROM orders WHERE o_orderkey % 1000 = 1)
         |SELECT o_orderstatus, count(*) AS n,
         |  count(DISTINCT o_custkey) AS nd_cust,
         |  ${Exact.sqlSum("o_totalprice")} AS sum_price,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM upd WHERE o_orderkey % 7 <> 5
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
  )

  override val tmp: Map[String, Seq[graft.TmpPath]] = Map(
    "src_hudi_ro" -> Seq(table),
    "src_hudi_prune" -> Seq(table),
    "src_hudi_cluster" -> Seq(clustered),
    "src_hudi_write_rt" -> Seq(sink),
    "src_hudi_write_cluster" -> Seq(clusteredSink),
  )
}
