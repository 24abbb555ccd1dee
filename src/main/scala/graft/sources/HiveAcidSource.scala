package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hive ACID (transactional) table reads, built from the PUBLIC Hive
  * directory-layout spec — the last table-format family the reference
  * reads that this repo had no counterpart for.
  *
  * Reference behavior (semantics only, no code shared):
  * apache-impala-4.1.0 `fe/src/main/java/org/apache/impala/util/
  * AcidUtils.java` (base/delta selection, write-id predicate,
  * compaction supersession) and `be/src/exec/acid-metadata-utils.h:29-55`
  * + `.cc` (write-id range parse, IsCompacted, bucket property).
  *
  * Layout (public Hive 3 spec):
  * {{{
  *   table_dir/
  *     000000_0                           -- "original" pre-upgrade file (write id 0)
  *     base_0000005/...                   -- major compaction up to write id 5
  *     base_0000007_v0000123/...          -- ditto, with compactor visibility txn
  *     delta_0000006_0000006/...          -- one committed write
  *     delta_0000006_0000006_0001/...     -- statement 1 of a multi-stmt txn
  *     delta_0000001_0000005_v0000099/... -- minor compaction of deltas 1..5
  *     delete_delta_0000008_0000008/...   -- full-ACID row deletes
  * }}}
  *
  * Snapshot isolation comes from a [[HiveAcid.ValidWriteIds]] (the
  * Hive `ValidReaderWriteIdList` string: `table:hwm:minOpen:open:aborted`):
  * a reader sees exactly the committed write ids at snapshot time.
  *
  * Scale design: directory SELECTION is driver-side over first-level
  * directory NAMES only — bounded by compaction cadence (hundreds, not
  * millions), the same metadata-scale listing Hive's own getAcidState
  * performs. Everything row-shaped is a distributed Spark scan over the
  * selected directories; full-ACID deletes are ONE equi anti-join on
  * (originalTransaction, bucket, rowId) that Catalyst broadcasts when
  * the delete side is small (it is, vs the base). No per-row driver
  * work, no collect.
  */
object HiveAcid {

  /** Snapshot of valid write ids — the reader-side Hive
    * `ValidReaderWriteIdList`. `open` and `aborted` are the invalid
    * ids at or below `highWatermark`; everything above the watermark
    * is invisible (still uncommitted at snapshot time). */
  case class ValidWriteIds(highWatermark: Long,
                           open: Set[Long] = Set.empty,
                           aborted: Set[Long] = Set.empty) {
    def isValid(writeId: Long): Boolean =
      writeId <= highWatermark && !open(writeId) && !aborted(writeId)

    /** A base_N is usable iff N is at/below the watermark and no write
      * at or below N is still OPEN: the compactor folds everything
      * <= N into the base, so an open id below N would make the base
      * show uncommitted data. Aborted ids do NOT invalidate a base —
      * compaction drops aborted data (public Hive isValidBase rule). */
    def isValidBase(writeId: Long): Boolean =
      writeId <= highWatermark && !open.exists(_ <= writeId)

    /** ALL / SOME / NONE validity of [min, max] — the reference's
      * IsWriteIdRangeValid (acid-metadata-utils.cc) decision shape.
      * Set arithmetic, never an id-by-id walk: a minor-compacted range
      * can span millions of write ids (delta_1_5000000_vN) and this
      * runs on the driver per directory per listing, so the cost must
      * be O(|open| + |aborted|) — both bounded snapshot attributes —
      * not O(max - min). */
    def rangeValidity(min: Long, max: Long): RangeValidity = {
      // ids above the watermark are invalid; split the range there
      val cappedMax = math.min(max, highWatermark)
      val aboveHwm = max - cappedMax // count of in-range ids > hwm
      val invalidBelow = // union, not sum: a malformed list naming an
        if (min > cappedMax) 0L // id in BOTH sets must not double-count
        else (open ++ aborted).count(id => id >= min && id <= cappedMax).toLong
      val span = max - min + 1
      val invalid = aboveHwm + invalidBelow // open/aborted disjoint from >hwm by the cap
      if (invalid == 0) RangeAll
      else if (invalid >= span) RangeNone
      else RangeSome
    }

    /** True iff every id in [min, max] is committed or aborted (none
      * open). A COMPACTED delta may cover aborted ids (the compactor
      * skipped their data) but never open ones. Same set-arithmetic
      * bound as [[rangeValidity]]. */
    def noOpenIn(min: Long, max: Long): Boolean =
      max <= highWatermark && !open.exists(id => id >= min && id <= max)
  }

  sealed trait RangeValidity
  case object RangeAll extends RangeValidity
  case object RangeSome extends RangeValidity
  case object RangeNone extends RangeValidity

  object ValidWriteIds {
    /** Parse the public Hive `ValidReaderWriteIdList.writeToString`
      * format: `<table>:<hwm>:<minOpenWriteId>:<open csv>:<aborted csv>`
      * (minOpen is Long.MaxValue when none). */
    def parse(s: String): ValidWriteIds = {
      val parts = s.split(":", -1)
      require(parts.length >= 2, s"malformed write-id list: $s")
      def ids(i: Int): Set[Long] =
        if (parts.length <= i || parts(i).isEmpty) Set.empty
        else parts(i).split(",").map(_.trim.toLong).toSet
      ValidWriteIds(parts(1).toLong, open = ids(3), aborted = ids(4))
    }
  }

  /** Parsed `base_N[_vM]` directory name; writeId = -1 when not a base. */
  private[graft] final case class ParsedBase(writeId: Long, visibilityTxnId: Long)
  /** Parsed `[delete_]delta_m_M[_stmt|_vN]`; compacted iff visibilityTxnId >= 0. */
  private[graft] final case class ParsedDelta(minWriteId: Long, maxWriteId: Long,
                                                statementId: Long, visibilityTxnId: Long,
                                                isDelete: Boolean) {
    def isCompacted: Boolean = visibilityTxnId >= 0
  }

  private val BasePat = """base_(\d+)(?:_v(\d+))?""".r
  private val DeltaPat = """(delete_)?delta_(\d+)_(\d+)(?:_(\d+)|_v(\d+))?""".r

  private[graft] def parseBase(dirName: String): Option[ParsedBase] = dirName match {
    case BasePat(w, v) =>
      Some(ParsedBase(w.toLong, if (v == null) -1L else v.toLong))
    case _ => None
  }

  private[graft] def parseDelta(dirName: String): Option[ParsedDelta] = dirName match {
    case DeltaPat(del, min, max, stmt, vtxn) =>
      Some(ParsedDelta(min.toLong, max.toLong,
        if (stmt == null) -1L else stmt.toLong,
        if (vtxn == null) -1L else vtxn.toLong,
        isDelete = del != null))
    case _ => None
  }

  private val OriginalFilePat = """(\d+)_\d+(?:_copy_\d+)?""".r
  private val BucketFilePat = """bucket_(\d+)(?:_\d+)?""".r

  /** Encoded bucket property of a full-ACID file path — the public Hive
    * BucketCodec V1 the reference replicates (`GetBucketProperty`,
    * acid-metadata-utils.cc): `version(1<<29) | bucketId << 16 |
    * statementId`, where the bucket id comes from the file name
    * (`bucket_N[_M]`, or the leading int of an original `N_M[_copy_K]`
    * file) and the statement id from the parent delta directory name.
    * -1 when the file name matches neither pattern. */
  def bucketProperty(filePath: String): Int = {
    val name = filePath.substring(filePath.lastIndexOf('/') + 1)
    val bucketId = name match {
      case OriginalFilePat(b) => b.toInt
      case BucketFilePat(b)   => b.toInt
      case _                  => return -1
    }
    val lastSlash = filePath.lastIndexOf('/')
    val parentStart = if (lastSlash <= 0) -1 else filePath.lastIndexOf('/', lastSlash - 1)
    val dirName =
      if (lastSlash < 0) "" else filePath.substring(parentStart + 1, lastSlash)
    val stmtId = parseDelta(dirName) match {
      case Some(d) if d.statementId >= 0 => d.statementId.toInt
      case _                             => 0
    }
    val BucketCodecVersion = 1; val BucketIdBits = 12; val StatementIdBits = 12
    BucketCodecVersion << (1 + BucketIdBits + 4 + StatementIdBits) |
      bucketId << (4 + StatementIdBits) | stmtId
  }

  /** The directories (and original files) one snapshot reads. */
  private[graft] final case class AcidState(base: Option[String],
                                              originals: Seq[String],
                                              deltas: Seq[String],
                                              deleteDeltas: Seq[String]) {
    def dataDirs: Seq[String] = base.toSeq ++ originals ++ deltas
  }

  /** True iff a base/delta directory is a COMMITTED write — the
    * commit-signature check shared by the streaming tail and the batch
    * supersession gate: no Hive Streaming `*_flush_length` side file,
    * no in-flight committer `_temporary`, and at least one visible data
    * file (or an explicit `_SUCCESS` for an empty committed write). A
    * directory exists the moment its writer starts, so name presence
    * alone is NOT commit. */
  private[graft] def isCommitted(tableDir: String, dir: String,
                                 conf: org.apache.hadoop.conf.Configuration): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$tableDir/$dir")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return false
    if (!fs.getFileStatus(p).isDirectory) return true // bare original file
    val names = fs.listStatus(p).toSeq.map(_.getPath.getName)
    val midWrite = names.exists(_.endsWith("_flush_length")) || names.contains("_temporary")
    !midWrite &&
      (names.exists(n => !n.startsWith("_") && !n.startsWith(".")) || names.contains("_SUCCESS"))
  }

  /** Directory selection — the reference's filterFilesForAcidState /
    * getAcidState shape over first-level names:
    *  1. drop entries invalid under the write-id snapshot,
    *  2. the max valid base supersedes older bases, originals, and any
    *     delta fully at/below its write id,
    *  3. remaining deltas ordered (minWriteId asc, maxWriteId desc,
    *     statementId asc, compacted first), then a single sweep keeps
    *     compaction output and drops the deltas it folded in, keeps all
    *     statement deltas of one txn, and pairs delete_deltas with
    *     their matching range.
    *
    * `compactedOk` gates every directory that would SUPERSEDE others —
    * bases and `_vM` compacted deltas — the reference routes these
    * through the valid-txn list precisely because a compactor's output
    * directory can exist before its transaction commits (or after an
    * abort mid-write); admitting a partially-written base would drop
    * the still-present deltas it claims to cover. A gated-out dir is
    * treated as absent: the inputs it would have folded are still
    * listed (the cleaner only runs after commit), so nothing is lost.
    * Defaults to always-true for pure name-level unit tests;
    * [[resolve]] installs the commit-signature + valid-txn gate. */
  private[graft] def selectDirs(names: Seq[String], ids: ValidWriteIds,
                                compactedOk: String => Boolean = _ => true): AcidState = {
    if (names.exists(_.endsWith("_flush_length")))
      throw new IllegalStateException(
        "Hive Streaming side-file (_flush_length) present: directory is mid-write; " +
        "retry after the streaming transaction commits")
    val bases = names.flatMap(n => parseBase(n).map(n -> _))
    val deltas = names.flatMap(n => parseDelta(n).map(n -> _))
    val originals = names.filter(n => parseBase(n).isEmpty && parseDelta(n).isEmpty &&
      !n.startsWith("_") && !n.startsWith("."))

    val validBases = bases.filter { case (n, b) =>
      ids.isValidBase(b.writeId) && compactedOk(n)
    }
    val bestBase = validBases.sortBy { case (_, b) => (b.writeId, b.visibilityTxnId) }
      .lastOption
    val baseWriteId = bestBase.map(_._2.writeId).getOrElse(Long.MinValue)

    // Validity filter (reference WriteListBasedPredicate.check): a
    // plain delta needs >= 1 valid id in range; a COMPACTED delta must
    // carry no open id (aborted ok — the compactor dropped their rows).
    val liveDeltas = deltas.filter { case (name, d) =>
      if (d.isCompacted && !compactedOk(name)) false
      else if (d.minWriteId <= baseWriteId) {
        // folded into the base. The compactor never creates a range
        // STRADDLING a base — a layout where it appears to is corrupt,
        // and silently dropping the delta would lose the writes above
        // the base (the reference checkStates the same invariant:
        // AcidUtils.java:566).
        if (d.maxWriteId > baseWriteId)
          throw new IllegalStateException(
            s"delta $name straddles base write id $baseWriteId — corrupt ACID layout")
        false
      } else ids.rangeValidity(d.minWriteId, d.maxWriteId) match {
        case RangeNone => false
        case RangeAll  => true
        case RangeSome => !d.isCompacted || ids.noOpenIn(d.minWriteId, d.maxWriteId)
      }
    }

    // Hive getAcidState ordering: min asc; wider range first at equal
    // min (compaction output precedes its inputs); statement id asc;
    // compacted (higher vTxn) first at full tie.
    val ordered = liveDeltas.sortWith { case ((n1, d1), (n2, d2)) =>
      if (d1.minWriteId != d2.minWriteId) d1.minWriteId < d2.minWriteId
      else if (d1.maxWriteId != d2.maxWriteId) d1.maxWriteId > d2.maxWriteId
      else if (d1.statementId != d2.statementId) d1.statementId < d2.statementId
      else if (d1.visibilityTxnId != d2.visibilityTxnId) d1.visibilityTxnId > d2.visibilityTxnId
      else n1 < n2
    }
    var current = baseWriteId
    var lastStmtId = -1L
    var prev: ParsedDelta = null
    val kept = Seq.newBuilder[(String, ParsedDelta)]
    for ((name, d) <- ordered) {
      if (d.maxWriteId > current) {
        if (ids.rangeValidity(math.max(current + 1, d.minWriteId), d.maxWriteId) != RangeNone) {
          kept += (name -> d); current = d.maxWriteId
          lastStmtId = d.statementId; prev = d
        }
      } else if (d.maxWriteId == current && lastStmtId >= 0) {
        // all statement deltas of one multi-statement txn
        kept += (name -> d); prev = d
      } else if (prev != null && d.maxWriteId == prev.maxWriteId &&
                 d.minWriteId == prev.minWriteId && d.statementId == prev.statementId &&
                 d.visibilityTxnId == prev.visibilityTxnId) {
        // delete_delta_x_y twin of the kept delta_x_y range
        kept += (name -> d); prev = d
      }
    }
    val (del, ins) = kept.result().partition(_._2.isDelete)
    AcidState(bestBase.map(_._1),
      if (bestBase.isDefined) Nil else originals,
      ins.map(_._1), del.map(_._1))
  }

  private[graft] def listDirNames(spark: SparkSession, tableDir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(tableDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** Resolve the snapshot's directories, with compaction output gated
    * through (a) the caller's valid-txn set when provided — `base_N_vM`
    * / `delta_x_y_vM` requires compactor txn M ∈ `visibleTxns`, the
    * reference's ValidTxnList gate — and (b) always, the
    * commit-signature check ([[isCommitted]]): no side files, visible
    * data. Both are metadata-scale (one listing per CANDIDATE
    * superseder, bounded by compaction cadence, and only for dirs that
    * would otherwise win supersession is the answer load-bearing). */
  private[graft] def resolve(spark: SparkSession, tableDir: String,
                               ids: ValidWriteIds,
                               visibleTxns: Option[Set[Long]] = None): AcidState = {
    val conf = spark.sparkContext.hadoopConfiguration
    def txnOk(name: String): Boolean = visibleTxns.forall { ts =>
      val v = parseBase(name).map(_.visibilityTxnId)
        .orElse(parseDelta(name).map(_.visibilityTxnId)).getOrElse(-1L)
      v < 0 || ts(v)
    }
    selectDirs(listDirNames(spark, tableDir), ids,
      compactedOk = n => txnOk(n) && isCommitted(tableDir, n, conf))
  }

  /** Read an INSERT-ONLY (`transactional_properties='insert_only'`)
    * table at the given snapshot — Impala 3.3's own ACID scope:
    * directory selection is the whole story because MM data files are
    * plain format files and every delta covers exactly the write ids
    * in its name. */
  def readInsertOnly(spark: SparkSession, tableDir: String, ids: ValidWriteIds,
                     format: String = "parquet",
                     visibleTxns: Option[Set[Long]] = None): DataFrame = {
    val st = resolve(spark, tableDir, ids, visibleTxns)
    val dirs = st.dataDirs.map(d => s"$tableDir/$d")
    require(st.deleteDeltas.isEmpty,
      "delete deltas found in an insert-only table — read with readFullAcid")
    if (dirs.isEmpty) {
      // valid empty snapshot: schema from whatever DATA exists on disk —
      // base/delta dirs and original files only (marker files like
      // _SUCCESS are not loadable and must not reach the reader)
      val all = listDirNames(spark, tableDir)
        .filter(n => parseBase(n).isDefined || parseDelta(n).isDefined ||
          (!n.startsWith("_") && !n.startsWith(".")))
        .map(d => s"$tableDir/$d")
      require(all.nonEmpty, s"no ACID data under $tableDir to infer a schema from")
      spark.read.format(format).load(all: _*).limit(0)
    } else spark.read.format(format).load(dirs: _*)
  }

  /** ACID metadata column names (public Hive full-ACID row schema:
    * operation, originalTransaction, bucket, rowId, currentTransaction,
    * row struct — here the user columns sit beside the metadata ones,
    * parquet-encoded; the selection/merge algebra is identical). */
  private val AcidCols = Seq("operation", "originalTransaction", "bucket",
    "rowId", "currentTransaction")

  /** Synthesized ACID metadata for ORIGINAL (pre-upgrade) files in a
    * full-ACID table — files written before the table turned
    * transactional carry NO acid columns, so the reader fabricates
    * them exactly like the reference scanner
    * (`SetSyntheticAcidFieldForOriginalFile`, hdfs-orc-scanner.cc:659):
    * operation 0, originalTransaction = currentTransaction = write id
    * 0, bucket = the BucketCodec V1 property parsed from the FILE NAME
    * (the Column mirror of [[bucketProperty]]), and rowId = the row's
    * ordinal WITHIN its file (the reference sets it from the reader's
    * file-scoped row number; Spark's parquet `_metadata.row_index` is
    * the same quantity). All codegen'd builtins — no UDF, row-local. */
  private def syntheticAcidMeta(df: DataFrame): DataFrame = {
    val fname = regexp_extract(col("_metadata.file_path"), "([^/]+)$", 1)
    val bucketId =
      when(fname.rlike("^[0-9]+_[0-9]+(_copy_[0-9]+)?$"),
        regexp_extract(fname, "^([0-9]+)_", 1).cast("int"))
      .when(fname.rlike("^bucket_[0-9]+(_[0-9]+)?$"),
        regexp_extract(fname, "^bucket_([0-9]+)", 1).cast("int"))
      .otherwise(lit(-1))
    // originals never sit inside statement deltas → statementId 0
    val bucketProp = when(bucketId >= 0,
      shiftleft(lit(1), 29).bitwiseOR(shiftleft(bucketId, 16))).otherwise(lit(-1))
    df.select(
      Seq(lit(0).as("operation"),
        lit(0L).as("originalTransaction"),
        bucketProp.as("bucket"),
        col("_metadata.row_index").as("rowId"),
        lit(0L).as("currentTransaction")) ++
        df.columns.filterNot(_ == "_metadata").map(col): _*)
  }

  /** Read a FULL-ACID table at the given snapshot: selected base +
    * insert deltas, minus delete-delta keys, with row-level write-id
    * filtering for multi-id delta files (Hive Streaming shape — a
    * SOME-valid uncompacted delta carries rows of several write ids and
    * only the committed ones may surface). Original (pre-upgrade) files
    * surface with SYNTHESIZED acid metadata — see
    * [[syntheticAcidMeta]] — so delete deltas written against upgraded
    * originals (originalTransaction 0, file-name bucket, in-file row
    * ordinal) land on exactly the rows Hive addressed.
    *
    * Plan shape at 100 TB: one distributed scan per side and ONE equi
    * anti-join on (originalTransaction, bucket, rowId) — the delete
    * side is orders of magnitude smaller than the data side, so AQE
    * broadcasts it; no driver-side row work. */
  def readFullAcid(spark: SparkSession, tableDir: String,
                   ids: ValidWriteIds,
                   visibleTxns: Option[Set[Long]] = None,
                   format: String = "parquet"): DataFrame = {
    val st = resolve(spark, tableDir, ids, visibleTxns)
    require(st.base.nonEmpty || st.deltas.nonEmpty || st.originals.nonEmpty,
      s"no readable ACID state under $tableDir for $ids")
    def visibleFiles(dirs: Seq[String]): Seq[String] = {
      val fs = new org.apache.hadoop.fs.Path(tableDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      dirs.flatMap { d =>
        val p = new org.apache.hadoop.fs.Path(s"$tableDir/$d")
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).toSeq.map(_.getPath)
            .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
            .map(_.toString)
        else Seq(p.toString)
      }
    }
    def plainLoad(dirs: Seq[String]): DataFrame =
      spark.read.format(format).load(dirs.map(d => s"$tableDir/$d"): _*)
    // REAL Hive ACID ORC event files (acid wrapper + row struct) cannot
    // go through Spark's ORC datasource — the bundled orc-core's own
    // SchemaEvolution hijacks the acid field pattern (see [[AcidOrc]]).
    // Probe the first data file once and route every base/delta/delete
    // read through the direct ORC reader when the wrapper is present.
    val eventUserSchema: Option[org.apache.spark.sql.types.StructType] =
      if (format != "orc") None
      else visibleFiles(st.base.toSeq ++ st.deltas).headOption
        .filter(AcidOrc.isEventFile(spark, _))
        .map(AcidOrc.rowSchema(spark, _))
    def load(dirs: Seq[String]): DataFrame = eventUserSchema match {
      case Some(u) => AcidOrc.read(spark, visibleFiles(dirs), u)
      case None => plainLoad(dirs)
    }
    def readDirs(dirs: Seq[String], fromBase: Boolean): Option[DataFrame] =
      if (dirs.isEmpty) None
      else {
        val df = load(dirs)
        // Base rows are compaction output — all committed by
        // construction; delta rows filter on their own write id so a
        // SOME-valid delta surfaces only committed rows.
        Some(if (fromBase) df else df.filter(validWriteIdCol(ids)))
      }
    val insertParts = Seq(
      readDirs(st.base.toSeq, fromBase = true),
      readDirs(st.deltas, fromBase = false)).flatten
    // Real Hive ACID files (ORC, and parquet written by Hive) nest the
    // user columns inside a `row` STRUCT beside the five acid columns
    // (the public full-ACID file schema); fixture-shaped files carry
    // them flat. Detect per table and project originals to match.
    val nested = insertParts.headOption.exists(_.schema.fieldNames.contains("row"))
    // Originals (valid only when no base supersedes them) lack acid
    // columns on disk — synthesize them file-locally.
    val originalRows =
      if (st.originals.isEmpty) None
      else {
        val flat = syntheticAcidMeta(
          plainLoad(st.originals).select(col("*"), col("_metadata")))
        Some(if (!nested) flat
          else flat.select(AcidCols.map(col) :+
            struct(flat.columns.filterNot(AcidCols.contains).map(col).toIndexedSeq: _*)
              .as("row"): _*))
      }
    val inserts = (insertParts ++ originalRows).reduce(_ unionByName _)
    val deletes = if (st.deleteDeltas.isEmpty) None
      else Some(load(st.deleteDeltas)
        .filter(validWriteIdCol(ids))
        .select(col("originalTransaction"), col("bucket"), col("rowId")))
    val visible = deletes.fold(inserts)(del =>
      inserts.join(del, Seq("originalTransaction", "bucket", "rowId"), "left_anti"))
    if (nested) visible.select(col("row.*")) else visible.drop(AcidCols: _*)
  }

  /** Row-level validity of `currentTransaction` under the snapshot as a
    * Column: ct <= hwm AND ct not in (open ∪ aborted). The invalid set
    * is a bounded in-memory snapshot attribute (same bound as the
    * reference's unordered_set), safely literal-encoded. */
  private def validWriteIdCol(ids: ValidWriteIds) = {
    val invalid = (ids.open ++ ids.aborted).toSeq
    val base = col("currentTransaction") <= ids.highWatermark
    if (invalid.isEmpty) base
    else base && !col("currentTransaction").isin(invalid: _*)
  }
}

/** Direct ORC-library reader for Hive ACID EVENT files — the REAL
  * on-disk shape Hive 3 writes: `struct<operation:int,
  * originalTransaction:bigint, bucket:int, rowId:bigint,
  * currentTransaction:bigint, row:struct<user columns>>` (delete
  * deltas carry the same wrapper with `row` null, or just the five
  * meta columns). Spark's ORC datasource CANNOT read these: the
  * bundled orc-core's own SchemaEvolution detects the acid field
  * pattern and remaps every requested column into the `row` struct,
  * so any requested schema mis-aligns (probed: AIOOBE /
  * StructColumnVector cast errors on every shape). The reference's
  * scanner reads the wrapper natively (hdfs-orc-scanner.cc acid row
  * path); this does the Spark-shaped equivalent by driving the ORC
  * reader API directly — one distributed task per file (stripe-range
  * splits are a straightforward extension via Reader.options.range;
  * acid deltas are compaction-bounded, so file granularity is the
  * first-order distribution), vectorized batches decoded to rows,
  * user columns resolved BY NAME inside the row struct (missing →
  * NULL, the per-file evolution story). */
private[graft] object AcidOrc {
  import org.apache.orc.{OrcFile, TypeDescription}
  import org.apache.hadoop.hive.ql.exec.vector._
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._
  import scala.jdk.CollectionConverters._

  private val MetaFields = Seq(
    StructField("operation", IntegerType), StructField("originalTransaction", LongType),
    StructField("bucket", IntegerType), StructField("rowId", LongType),
    StructField("currentTransaction", LongType))
  private val AcidNames = Seq("operation", "originalTransaction", "bucket",
    "rowId", "currentTransaction")

  private def toSpark(td: TypeDescription, field: String): DataType = {
    import TypeDescription.Category._
    td.getCategory match {
      case LONG => LongType
      case INT => IntegerType
      case SHORT => ShortType
      case BOOLEAN => BooleanType
      case DOUBLE => DoubleType
      case FLOAT => FloatType
      case STRING | VARCHAR | CHAR => StringType
      case TIMESTAMP => TimestampType
      case DATE => DateType
      case other => throw new IllegalArgumentException(
        s"graft acid-orc: unsupported ORC type $other for $field")
    }
  }

  /** True iff the file carries the acid wrapper (6 fields, row struct). */
  private[graft] def isEventSchema(td: TypeDescription): Boolean = {
    val names = td.getFieldNames.asScala
    names.size == 6 && names.take(5) == AcidNames && names(5) == "row" &&
      td.getChildren.get(5).getCategory == TypeDescription.Category.STRUCT
  }

  /** Driver-side probe: is this file the acid event layout? */
  private[graft] def isEventFile(spark: SparkSession, file: String): Boolean =
    isEventSchema(orcSchema(spark, file))

  private def orcSchema(spark: SparkSession, file: String): TypeDescription = {
    val conf = spark.sparkContext.hadoopConfiguration
    val r = OrcFile.createReader(new org.apache.hadoop.fs.Path(file),
      OrcFile.readerOptions(conf))
    try r.getSchema finally r.close()
  }

  /** The FLAT (meta + user) schema an event file decodes to. */
  private[graft] def flatSchema(spark: SparkSession, file: String): StructType =
    StructType(MetaFields ++ rowSchema(spark, file).fields.map(_.copy(nullable = true)))

  /** The user-row schema of an event file (driver-side, one footer). */
  private[graft] def rowSchema(spark: SparkSession, file: String): StructType = {
    val td = orcSchema(spark, file)
    require(isEventSchema(td), s"$file is not a Hive ACID event file")
    val row = td.getChildren.get(5)
    StructType(row.getFieldNames.asScala.toSeq.zip(row.getChildren.asScala).map {
      case (n, c) => StructField(n, toSpark(c, n), nullable = true)
    })
  }

  private def cell(cv: ColumnVector, td: TypeDescription, r0: Int): Any = {
    val r = if (cv.isRepeating) 0 else r0
    if (!cv.noNulls && cv.isNull(r)) null
    else {
      import TypeDescription.Category._
      td.getCategory match {
        case LONG => cv.asInstanceOf[LongColumnVector].vector(r)
        case INT => cv.asInstanceOf[LongColumnVector].vector(r).toInt
        case SHORT => cv.asInstanceOf[LongColumnVector].vector(r).toShort
        case BOOLEAN => cv.asInstanceOf[LongColumnVector].vector(r) == 1L
        case DATE =>
          // ORC stores DATE as the epoch-day ordinal; the Row-based
          // batch path needs the EXTERNAL type (java.sql.Date) — the
          // ordinal Int is only valid internally (cellCatalyst)
          java.sql.Date.valueOf(
            java.time.LocalDate.ofEpochDay(
              cv.asInstanceOf[LongColumnVector].vector(r)))
        case DOUBLE => cv.asInstanceOf[DoubleColumnVector].vector(r)
        case FLOAT => cv.asInstanceOf[DoubleColumnVector].vector(r).toFloat
        case STRING | VARCHAR | CHAR =>
          val b = cv.asInstanceOf[BytesColumnVector]
          new String(b.vector(r), b.start(r), b.length(r), "UTF-8")
        case TIMESTAMP =>
          val t = cv.asInstanceOf[TimestampColumnVector]
          val ts = new java.sql.Timestamp(t.time(r)); ts.setNanos(t.nanos(r)); ts
        case other => throw new IllegalArgumentException(s"unsupported $other")
      }
    }
  }

  /** [[cell]]'s Catalyst twin for the streaming DSv2 reader: strings
    * as UTF8String, timestamps as epoch MICROS (the internal
    * representation), dates as day ordinals. */
  private[sources] def cellCatalyst(cv: ColumnVector, td: TypeDescription,
                                    r0: Int): Any = {
    val r = if (cv.isRepeating) 0 else r0
    if (!cv.noNulls && cv.isNull(r)) null
    else {
      import TypeDescription.Category._
      td.getCategory match {
        case STRING | VARCHAR | CHAR =>
          val b = cv.asInstanceOf[BytesColumnVector]
          org.apache.spark.unsafe.types.UTF8String.fromBytes(
            b.vector(r), b.start(r), b.length(r))
        case TIMESTAMP =>
          val t = cv.asInstanceOf[TimestampColumnVector]
          // time = epoch millis whose sub-second part agrees with
          // nanos (the setTime/setNanos contract): seconds * 1e6 +
          // micros-of-second
          Math.floorDiv(t.time(r), 1000L) * 1000000L + t.nanos(r) / 1000L
        case DATE => // internal representation: the epoch-day ordinal
          cv.asInstanceOf[LongColumnVector].vector(r).toInt
        case _ => cell(cv, td, r0) // longs/ints/doubles/bools box identically
      }
    }
  }

  /** Read acid ORC files (event wrapper OR flat five-column delete
    * shape) into ONE flat frame: the five meta columns + `user`'s
    * columns (NULL where a file has no row data). */
  def read(spark: SparkSession, files: Seq[String], user: StructType): DataFrame = {
    val flat = StructType(MetaFields ++ user.fields.map(_.copy(nullable = true)))
    val userNames = user.fieldNames.toSeq
    val nUser = userNames.length
    // ship the SESSION Hadoop conf (object-store credentials, fs
    // tuning) to executors as a BROADCAST handle — embedding the conf
    // in the closure makes every task re-deserialize ~1k properties
    // (r12 verdict #1); the broadcast deserializes once per executor.
    // Copied per task: the broadcast value is JVM-shared and
    // Configuration is not thread-safe under mutation.
    val serConf = HadoopConfBroadcast.get(spark.sparkContext,
      spark.sparkContext.hadoopConfiguration)
    val rdd = spark.sparkContext.parallelize(files, math.max(1, files.size))
      .flatMap { f =>
        val conf = new org.apache.hadoop.conf.Configuration(serConf.value.value)
        val reader = OrcFile.createReader(new org.apache.hadoop.fs.Path(f),
          OrcFile.readerOptions(conf))
        val td = reader.getSchema
        val names = td.getFieldNames.asScala.toSeq
        require(names.take(5) == AcidNames,
          s"$f is not an ACID file (fields ${names.mkString(",")})")
        val hasRow = names.size == 6 && names(5) == "row"
        val rowTd = if (hasRow) td.getChildren.get(5) else null
        // resolve each requested user column inside the row struct BY
        // NAME (per-file evolution: absent -> NULL)
        val userIdx: Array[Int] =
          if (!hasRow) Array.fill(nUser)(-1)
          else {
            val rn = rowTd.getFieldNames.asScala.toSeq
            userNames.map(rn.indexOf).toArray
          }
        val rows = reader.rows()
        val batch = td.createRowBatch()
        new Iterator[Row] {
          private var i = 0
          private var n = 0
          private var closed = false
          private def advance(): Unit =
            if (!closed && i >= n) {
              n = if (rows.nextBatch(batch)) batch.size else -1; i = 0
              if (n < 0) { rows.close(); reader.close(); closed = true }
            }
          advance()
          def hasNext: Boolean = { advance(); n > 0 }
          def next(): Row = {
            val meta = (0 until 5).map(c =>
              cell(batch.cols(c), td.getChildren.get(c), i))
            val userVals: Seq[Any] =
              if (!hasRow) Seq.fill(nUser)(null)
              else {
                val sv = batch.cols(5).asInstanceOf[StructColumnVector]
                val sr = if (sv.isRepeating) 0 else i
                if (!sv.noNulls && sv.isNull(sr)) Seq.fill(nUser)(null)
                else userIdx.toSeq.zipWithIndex.map { case (ci, ui) =>
                  if (ci < 0) null
                  else cell(sv.fields(ci), rowTd.getChildren.get(ci), sr)
                }
              }
            i += 1
            Row.fromSeq(meta ++ userVals)
          }
        }
      }
    spark.createDataFrame(rdd, flat)
  }
}

/** Streaming DSv2 reader for REAL Hive ACID ORC event files — the
  * [[AcidOrc]] decoder behind a PartitionReaderFactory, so the T27
  * source streams the layout Hive 3 actually writes. One partition per
  * file (the batch reader's granularity); required columns resolve by
  * name against the flat meta+user projection, absent row fields read
  * as NULL (per-file evolution). */
private[graft] class AcidOrcReaderFactory(required: org.apache.spark.sql.types.StructType,
                                          hconf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf])
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.orc.{OrcFile, TypeDescription}
  import org.apache.hadoop.hive.ql.exec.vector.StructColumnVector
  import org.apache.spark.sql.catalyst.InternalRow
  import scala.jdk.CollectionConverters._

  override def createReader(partition: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[IcebergInputPartition].file
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      // Defensive copy per reader: Hadoop Configuration is not
      // thread-safe under mutation and several tasks in one executor
      // share the deserialized instance (the MixedFormat executor
      // path does the same).
      private val conf = new org.apache.hadoop.conf.Configuration(hconf.value.value)
      private val reader = OrcFile.createReader(
        new org.apache.hadoop.fs.Path(file), OrcFile.readerOptions(conf))
      private val td = reader.getSchema
      private val names = td.getFieldNames.asScala.toSeq
      require(names.take(5) == Seq("operation", "originalTransaction",
        "bucket", "rowId", "currentTransaction"),
        s"$file is not an ACID file (fields ${names.mkString(",")})")
      private val hasRow = names.size == 6 && names(5) == "row"
      private val rowTd = if (hasRow) td.getChildren.get(5) else null
      private val rowNames =
        if (hasRow) rowTd.getFieldNames.asScala.toSeq else Seq.empty
      // per required column: (metaIdx, rowIdx) — exactly one >= 0, or
      // both -1 (absent everywhere -> NULL)
      private val plan: Array[(Int, Int)] = required.fieldNames.map { n =>
        val m = names.take(5).indexOf(n)
        if (m >= 0) (m, -1) else (-1, rowNames.indexOf(n))
      }.toArray
      private val rows = reader.rows()
      private val batch = td.createRowBatch()
      private var i = 0
      private var n = 0
      override def next(): Boolean = {
        if (i >= n) { n = if (rows.nextBatch(batch)) batch.size else -1; i = 0 }
        n > 0
      }
      override def get(): InternalRow = {
        val sv = if (hasRow) batch.cols(5).asInstanceOf[StructColumnVector] else null
        val sr = if (sv != null && sv.isRepeating) 0 else i
        val rowNull = sv != null && !sv.noNulls && sv.isNull(sr)
        val vals = plan.map { case (m, r) =>
          if (m >= 0) AcidOrc.cellCatalyst(batch.cols(m), td.getChildren.get(m), i)
          else if (r < 0 || sv == null || rowNull) null
          else AcidOrc.cellCatalyst(sv.fields(r), rowTd.getChildren.get(r), sr)
        }
        i += 1
        InternalRow.fromSeq(vals.toIndexedSeq)
      }
      override def close(): Unit = { rows.close(); reader.close() }
    }
  }
}

/** Oracle-checked ACID coverage. Both entries BUILD a transactional
  * layout from the flat `orders` parquet (deterministic o_orderkey
  * slices per write id), read it back at a write-id snapshot through
  * [[HiveAcid]], and aggregate; DuckDB recomputes the same aggregate
  * from flat parquet with the equivalent slice predicate. A hash match
  * therefore certifies base/delta selection, compaction supersession,
  * aborted/open exclusion, and (for the full-ACID entry) the
  * delete-delta anti-join.
  *
  * Insert-only layout (snapshot hwm=5, aborted={4}):
  *   base_0000002            o_orderkey % 7 IN (0,1)   visible (compacted)
  *   delta_0000003_0000003   % 7 = 2                   visible
  *   delta_0000004_0000004   % 7 = 3                   ABORTED — dropped
  *   delta_0000005_0000005   % 7 = 4                   visible
  *   delta_0000006_0000006   % 7 = 5                   beyond hwm — dropped
  *   (% 7 = 6 rows never written: layout is a proper subset of orders)
  *
  * Full-ACID layout (snapshot hwm=4, aborted={4}):
  *   base_0000001                 % 3 = 0, writeId 1    visible
  *   delta_0000002_0000002        % 3 = 1, writeId 2    visible
  *   delete_delta_0000003_0000003 deletes rowId % 9 = 0 of writeId 1
  *   delta_0000004_0000004        % 3 = 2, writeId 4    ABORTED — dropped
  *   → visible: (%3=0 AND NOT %9=0) OR %3=1
  */
object HiveAcidQueries extends graft.QueryModule {
  import graft.{Fixture, Fs}
  import graft.operators.Exact
  import HiveAcid._

  /** Prepend the synthesized full-ACID metadata columns to a fixture
    * slice — shared by the full-ACID and originals layout builders so
    * the column layout cannot drift between them. */
  private def acidMeta(df: DataFrame, writeId: Long, op: Int): DataFrame = df.select(
    Seq(lit(op).as("operation"),
      lit(writeId).as("originalTransaction"),
      lit(0).as("bucket"),
      col("o_orderkey").as("rowId"),
      lit(writeId).as("currentTransaction")) ++ df.columns.map(col): _*)

  val insertOnly = new Fixture("acid_mm_orders")((spark, dir, root) => {
    val orders = graft.Tables(spark, dir).orders
    def slice(m: Long) = orders.filter(pmod(col("o_orderkey"), lit(7L)) === m)
    slice(0).union(slice(1)).write.mode("overwrite").parquet(s"$root/base_0000002")
    slice(2).write.mode("overwrite").parquet(s"$root/delta_0000003_0000003")
    slice(3).write.mode("overwrite").parquet(s"$root/delta_0000004_0000004")
    slice(4).write.mode("overwrite").parquet(s"$root/delta_0000005_0000005")
    slice(5).write.mode("overwrite").parquet(s"$root/delta_0000006_0000006")
  })

  /** S18e oracle fixture: the insert-only table built by
    * [[HiveAcidSink]] ITSELF — three committed writes (%5∈{0,1}, %5=2,
    * %5=3 slices of orders), each an atomic delta dir with dense write
    * ids 1..3. The query reads at hwm=2, so the third write must stay
    * invisible — snapshot isolation over the writer's own layout. */
  val sinkTable = new Fixture("acid_sink_orders")((spark, dir, root) => {
    val orders = graft.Tables(spark, dir).orders
    def slice(m: Long*) = orders.filter(
      pmod(col("o_orderkey"), lit(5L)).isin(m: _*))
    HiveAcidSink.insertOnly(slice(0L, 1L), root,
      HiveAcidSink.nextWriteId(spark, root))
    HiveAcidSink.insertOnly(slice(2L), root,
      HiveAcidSink.nextWriteId(spark, root))
    HiveAcidSink.insertOnly(slice(3L), root,
      HiveAcidSink.nextWriteId(spark, root))
  })

  val fullAcid = new Fixture("acid_full_orders")((spark, dir, root) => {
    val orders = graft.Tables(spark, dir).orders
    def slice(m: Long) = orders.filter(pmod(col("o_orderkey"), lit(3L)) === m)
    acidMeta(slice(0), 1L, 0).write.mode("overwrite").parquet(s"$root/base_0000001")
    acidMeta(slice(1), 2L, 0).write.mode("overwrite").parquet(s"$root/delta_0000002_0000002")
    // delete events reference the BASE rows' (origTxn, bucket, rowId)
    slice(0).filter(pmod(col("o_orderkey"), lit(9L)) === 0)
      .select(lit(2).as("operation"), lit(1L).as("originalTransaction"),
        lit(0).as("bucket"), col("o_orderkey").as("rowId"),
        lit(3L).as("currentTransaction"))
      .write.mode("overwrite").parquet(s"$root/delete_delta_0000003_0000003")
    acidMeta(slice(2), 4L, 0).write.mode("overwrite").parquet(s"$root/delta_0000004_0000004")
  })

  /** Upgraded-in-place layout (snapshot hwm=3): two ORIGINAL files at
    * the table root (no acid columns; bucket from the FILE NAME, rowId
    * = in-file ordinal = o_orderkey rank within the file since each is
    * written sorted), one post-upgrade insert delta, and a delete delta
    * addressing original rows by synthesized (origTxn=0, bucket codec,
    * rowId):
    *   000000_0                      % 3 = 0  (bucket 0, sorted)
    *   000001_0                      % 3 = 1  (bucket 1, sorted)
    *   delta_0000002_0000002         % 3 = 2, writeId 2
    *   delete_delta_0000003_0000003  every 4th row (ordinal % 4 = 0) of bucket 0
    *   → visible: (%3=0 AND rank%4≠0) ∪ (%3=1) ∪ (%3=2)
    */
  val originals = new Fixture("acid_orig_orders")((spark, dir, root) => {
    val orders = graft.Tables(spark, dir).orders
    def slice(m: Long) = orders.filter(pmod(col("o_orderkey"), lit(3L)) === m)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root))
    // Hive original files are bare files named `000000_0` at the table
    // root: the file NAME carries the bucket id
    Fs.writeSingleFile(slice(0), s"$root/000000_0", "o_orderkey")
    Fs.writeSingleFile(slice(1), s"$root/000001_0", "o_orderkey")
    acidMeta(slice(2), 2L, 0).write.mode("overwrite")
      .parquet(s"$root/delta_0000002_0000002")
    // delete keys: the in-file ordinal of a sorted single file is the
    // o_orderkey rank — compute it relationally, no read-back needed
    val w = org.apache.spark.sql.expressions.Window.orderBy("o_orderkey")
    slice(0).select((row_number().over(w) - 1).cast("long").as("rowId"))
      .filter(pmod(col("rowId"), lit(4L)) === 0)
      .select(lit(2).as("operation"), lit(0L).as("originalTransaction"),
        lit(1 << 29).as("bucket"), col("rowId"),
        lit(3L).as("currentTransaction"))
      .write.mode("overwrite").parquet(s"$root/delete_delta_0000003_0000003")
  })

  /** The REAL Hive full-ACID file shape: five acid columns beside a
    * `row` STRUCT of the user columns, in ORC (what Hive 3 actually
    * writes — the flat-parquet fixtures are stand-ins). Delete deltas
    * carry the acid columns only. Snapshot hwm=3:
    *   base_0000001                 %3=0, writeId 1   (nested rows)
    *   delta_0000002_0000002        %3=1, writeId 2   (nested rows)
    *   delete_delta_0000003_0000003 deletes rowId %7=0 of writeId 1
    *   → visible: (%3=0 AND %7≠0) OR %3=1
    */
  val nestedOrc = new Fixture("acid_orc_orders")((spark, dir, root) => {
    // o_orderdate arrives as timestamp_ntz; Spark's vectorized ORC
    // reader cannot decode an NTZ INSIDE a struct (probed: AIOOBE in
    // the column reader) — cast to timestamp_ltz, identity-safe under
    // the repo-wide UTC session pin
    val orders = graft.Tables(spark, dir).orders
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
    def slice(m: Long) = orders.filter(pmod(col("o_orderkey"), lit(3L)) === m)
    def nested(df: DataFrame, writeId: Long) = df.select(
      lit(0).as("operation"), lit(writeId).as("originalTransaction"),
      lit(0).as("bucket"), col("o_orderkey").as("rowId"),
      lit(writeId).as("currentTransaction"),
      struct(df.columns.map(col).toIndexedSeq: _*).as("row"))
    nested(slice(0), 1L).write.mode("overwrite").orc(s"$root/base_0000001")
    nested(slice(1), 2L).write.mode("overwrite").orc(s"$root/delta_0000002_0000002")
    slice(0).filter(pmod(col("o_orderkey"), lit(7L)) === 0)
      .select(lit(2).as("operation"), lit(1L).as("originalTransaction"),
        lit(0).as("bucket"), col("o_orderkey").as("rowId"),
        lit(3L).as("currentTransaction"))
      .write.mode("overwrite").orc(s"$root/delete_delta_0000003_0000003")
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
    "src_hive_acid" -> ((spark, dir) => {
      val root = insertOnly.ensure(spark, dir)
      agg(HiveAcid.readInsertOnly(spark, root,
        ValidWriteIds(highWatermark = 5L, aborted = Set(4L))))
    }),
    // S18e: three committed writes through the WRITER, read back at a
    // snapshot that excludes the newest (hwm=2) — snapshot isolation
    // over the sink's own layout
    "src_hive_acid_write_rt" -> ((spark, dir) => {
      val root = sinkTable.ensure(spark, dir)
      agg(HiveAcid.readInsertOnly(spark, root,
        ValidWriteIds(highWatermark = 2L)))
    }),
    "src_hive_acid_full" -> ((spark, dir) => {
      val root = fullAcid.ensure(spark, dir)
      agg(HiveAcid.readFullAcid(spark, root,
        ValidWriteIds(highWatermark = 4L, aborted = Set(4L))))
    }),
    "src_hive_acid_orig" -> ((spark, dir) => {
      val root = originals.ensure(spark, dir)
      agg(HiveAcid.readFullAcid(spark, root,
        ValidWriteIds(highWatermark = 3L)))
    }),
    // S18d: the REAL Hive file shape — ORC, user columns nested in the
    // `row` struct, delete deltas acid-columns-only
    "src_hive_acid_orc" -> ((spark, dir) => {
      val root = nestedOrc.ensure(spark, dir)
      agg(HiveAcid.readFullAcid(spark, root,
        ValidWriteIds(highWatermark = 3L), format = "orc"))
    }),
  )

  val oracles: Map[String, String] = Map(
    // over the ORIGINAL parquet — the snapshot-visible slice recomputed
    "src_hive_acid" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |  count(DISTINCT o_custkey) AS nd_cust,
         |  ${Exact.sqlSum("o_totalprice")} AS sum_price,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM orders WHERE o_orderkey % 7 IN (0, 1, 2, 4)
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // writer round trip at hwm=2: writes 1 (%5 in 0,1) and 2 (%5=2)
    // visible, write 3 (%5=3) beyond the snapshot
    "src_hive_acid_write_rt" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |  count(DISTINCT o_custkey) AS nd_cust,
         |  ${Exact.sqlSum("o_totalprice")} AS sum_price,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM orders WHERE o_orderkey % 5 IN (0, 1, 2)
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "src_hive_acid_full" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |  count(DISTINCT o_custkey) AS nd_cust,
         |  ${Exact.sqlSum("o_totalprice")} AS sum_price,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM orders
         |WHERE (o_orderkey % 3 = 0 AND o_orderkey % 9 <> 0) OR o_orderkey % 3 = 1
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // original files read with SYNTHESIZED acid metadata: the in-file
    // ordinal of a sorted single-file original is the o_orderkey rank,
    // recomputed here relationally
    "src_hive_acid_orc" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |  count(DISTINCT o_custkey) AS nd_cust,
         |  ${Exact.sqlSum("o_totalprice")} AS sum_price,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM orders
         |WHERE (o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0) OR o_orderkey % 3 = 1
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "src_hive_acid_orig" ->
      s"""WITH b0 AS (
         |  SELECT o_orderstatus, o_custkey, o_totalprice, o_orderkey,
         |    row_number() OVER (ORDER BY o_orderkey) - 1 AS rn
         |  FROM orders WHERE o_orderkey % 3 = 0),
         |vis AS (
         |  SELECT o_orderstatus, o_custkey, o_totalprice, o_orderkey
         |  FROM b0 WHERE rn % 4 <> 0
         |  UNION ALL
         |  SELECT o_orderstatus, o_custkey, o_totalprice, o_orderkey
         |  FROM orders WHERE o_orderkey % 3 IN (1, 2))
         |SELECT o_orderstatus, count(*) AS n,
         |  count(DISTINCT o_custkey) AS nd_cust,
         |  ${Exact.sqlSum("o_totalprice")} AS sum_price,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM vis GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
  )

  override val tmp: Map[String, Seq[graft.TmpPath]] = Map(
    "src_hive_acid" -> Seq(insertOnly),
    "src_hive_acid_write_rt" -> Seq(sinkTable),
    "src_hive_acid_full" -> Seq(fullAcid),
    "src_hive_acid_orig" -> Seq(originals),
    "src_hive_acid_orc" -> Seq(nestedOrc),
  )
}
