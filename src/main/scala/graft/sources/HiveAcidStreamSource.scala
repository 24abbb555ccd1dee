package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** T27: a Hive ACID (insert-only) table as a STREAMING SOURCE — the
  * delta directory log tailed as micro-batches, the ACID counterpart
  * of the T25 Iceberg streaming source. Offsets ARE write ids (what
  * the table's own commit layout already provides), so exactly-once
  * needs no side state: a restart replans the same (start, end] unit
  * selection.
  *
  * Batch semantics:
  *  - the INITIAL batch (offset −1) is the current snapshot through
  *    the batch reader's own `selectDirs` supersession sweep (base
  *    supersedes originals and covered deltas, compaction output its
  *    inputs) — a base is an unsplittable unit (insert-only files
  *    carry no acid columns to row-filter on), so the initial load is
  *    ONE batch at Hive's own base granularity;
  *  - every later batch admits whole DELTA UNITS beyond the stream
  *    position: a unit is all statement deltas sharing one
  *    (minWriteId, maxWriteId) range, identified by its max id.
  *    Compaction output arriving later is admitted only while its
  *    ORIGINAL deltas are gone (they'd duplicate) and only when its
  *    whole range is unemitted — a compacted range straddling the
  *    stream position is unsplittable (no acid columns) and fails
  *    fast rather than re-emitting rows. Bases appearing after the
  *    initial batch are compaction output of already-emitted ids and
  *    are skipped by construction.
  *  - a delta mid-write (Hive Streaming `_flush_length` side file
  *    present) is deferred to a later trigger, never admitted.
  *
  * Offsets, admission and poll failures follow the one rule of
  * [[TailingStream]]: a missing table directory is a failed poll; the
  * delete-delta and compacted-range refusals fail the stream at once.
  * Admission control (`maxWriteIdsPerTrigger`): at most N delta units
  * per micro-batch.
  *
  * `abortedWriteIds` (csv option): the reader-side invalid set — a
  * unit whose whole range is aborted is skipped AND stepped over (the
  * offset advances past it; aborted ids never block the tail).
  *
  * Scale shape: `latestOffset` is one first-level directory listing
  * (bounded by compaction cadence — Hive's own metadata-scale sweep);
  * each batch's input is one distributed scan over exactly the newly
  * committed files, cost ∝ new data. Reader = the shared pruned-
  * projection parquet reader (name resolution — MM files carry no
  * field ids).
  *
  * Reference semantics (no code shared): AcidUtils.java getAcidState
  * over write-id snapshots; streaming tail semantics are this repo's
  * own composition, mirroring its Iceberg source. */
class HiveAcidStreamSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    require(path != null, "graft.sources.HiveAcidStreamSource requires .load(tableDir)")
    HiveAcidStream.dataSchema(path,
      Option(options.get("format")).getOrElse("parquet"))
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    new TailTable("hive-acid", path, schema, options => {
      val mode = Option(options.get("acidMode")).getOrElse("insert_only")
      require(mode == "insert_only" || mode == "full",
        s"acidMode must be insert_only or full, got $mode")
      val maxUnits = Option(options.get("maxWriteIdsPerTrigger")).map(_.toInt)
      val aborted = Option(options.get("abortedWriteIds"))
        .map(_.split(",").map(_.trim.toLong).toSet).getOrElse(Set.empty[Long])
      val format = Option(options.get("format")).getOrElse("parquet")
      required => new HiveAcidMicroBatchStream(path, required, maxUnits, aborted,
        fullAcid = mode == "full", format)
    })
  }
}

object HiveAcidStream {
  import HiveAcid.{parseDelta, parseBase, ParsedDelta}

  private def conf =
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration

  private[graft] def listNames(path: String): Seq[String] =
    HiveAcid.listDirNames(org.apache.spark.sql.SparkSession.active, path)

  /** True iff the unit's directory is a COMMITTED write. A directory
    * appears the moment a writer starts, so directory existence alone
    * is not commit: mid-flight signatures are a Hive Streaming
    * `*_flush_length` side file, an in-flight file-committer
    * `_temporary`, or no visible data files yet (rename-in-progress).
    * Incomplete units are DEFERRED to a later trigger — admitting one
    * would plan an empty batch and advance the offset past rows that
    * land milliseconds later (observed in the T27 spec race). An empty
    * but committed write (`_SUCCESS`, no data files) counts complete. */
  private[graft] def isComplete(path: String, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$dir")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return false
    if (!fs.getFileStatus(p).isDirectory) return true // bare original file
    val names = fs.listStatus(p).toSeq.map(_.getPath.getName)
    val midWrite = names.exists(_.endsWith("_flush_length")) || names.contains("_temporary")
    !midWrite &&
      (names.exists(n => !n.startsWith("_") && !n.startsWith(".")) || names.contains("_SUCCESS"))
  }

  /** Schema of the table's data files: resolve the current snapshot's
    * directories and read one footer's schema. For REAL Hive ORC event
    * tables (acid wrapper + row struct) the schema is the FLAT
    * meta+user projection [[AcidOrc]] decodes to — Spark's own ORC
    * path cannot read the wrapper (see AcidOrc's scaladoc). */
  def dataSchema(path: String, format: String = "parquet"): StructType = {
    val spark = org.apache.spark.sql.SparkSession.active
    val st = HiveAcid.selectDirs(listNames(path),
      HiveAcid.ValidWriteIds(highWatermark = Long.MaxValue))
    val dirs = st.dataDirs
    require(dirs.nonEmpty, s"no readable ACID data under $path")
    if (format == "orc") {
      val first = firstDataFile(path, dirs.head)
      if (AcidOrc.isEventFile(spark, first)) AcidOrc.flatSchema(spark, first)
      else spark.read.orc(s"$path/${dirs.head}").schema
    } else spark.read.parquet(s"$path/${dirs.head}").schema
  }

  private[graft] def firstDataFile(path: String, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$dir")
    val fs = p.getFileSystem(conf)
    if (!fs.getFileStatus(p).isDirectory) p.toString
    else fs.listStatus(p).toSeq.map(_.getPath)
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .headOption.map(_.toString)
      .getOrElse(throw new IllegalStateException(s"no data files under $p"))
  }

  /** One admissible delta unit: all statement deltas sharing a
    * (minWriteId, maxWriteId) range. */
  private[graft] final case class TailUnit(minId: Long, maxId: Long,
                                           dirs: Seq[String])

  /** Tail units beyond stream position `from` (from >= 0), sorted by
    * max write id. Pure over the listed names — unit-testable without
    * a filesystem. */
  private[graft] def tailUnits(names: Seq[String], from: Long,
                               aborted: Set[Long],
                               allowDeletes: Boolean = false): Seq[TailUnit] = {
    val deltas = names.flatMap(n => parseDelta(n).map(n -> _))
    // insert-only mode refuses delete deltas (rows would need
    // retraction); the T27c CDC mode admits them as units like any
    // other write — a delete_delta_x_y sharing a range with delta_x_y
    // groups into ONE unit, so the batch carries both sides together
    require(allowDeletes || !deltas.exists(_._2.isDelete),
      s"delete deltas present: a full-ACID table cannot stream insert-only " +
        s"(rows would need retraction); stream with acidMode=full (CDC rows) " +
        s"or read in batch via readFullAcid")
    val (compacted, plain) = deltas.partition(_._2.isCompacted)
    def wholeRangeAborted(d: ParsedDelta): Boolean =
      (d.minWriteId to d.maxWriteId).forall(aborted)
    val plainAdmit = plain.filter { case (_, d) =>
      d.minWriteId > from && !wholeRangeAborted(d)
    }
    // compaction output: admitted only when its originals are GONE
    // (they'd duplicate rows) and its whole range is unemitted; a range
    // straddling the position is unsplittable — fail fast, loudly.
    val plainRanges = plain.map(_._2).toSeq
    val compactedCandidates = compacted.filter { case (name, d) =>
      val overlapsPlain = plainRanges.exists(p =>
        p.minWriteId <= d.maxWriteId && d.minWriteId <= p.maxWriteId)
      if (overlapsPlain) false
      else if (d.maxWriteId <= from) false
      else if (d.minWriteId <= from)
        throw new IllegalStateException(
          s"compacted $name straddles stream position $from and its original " +
            s"deltas were cleaned: the range cannot be split (insert-only files " +
            s"carry no write-id column). Restart the stream from a fresh checkpoint.")
      else !wholeRangeAborted(d)
    }
    // COMPACTED-vs-COMPACTED supersession (the batch selectDirs sweep's
    // ordering, applied here because the stream path selects its own
    // units): with delta_2_5_v9 still on disk while a re-compaction
    // delta_2_7_v12 lands (the cleaner removed the plain inputs but not
    // yet the older compacted output — a real mid-clean race), both
    // pass the plain-overlap check and would group into DISTINCT units
    // emitting write ids 2..5 twice. Order (min asc, max desc) and keep
    // only units not covered by an already-kept wider one; a PARTIAL
    // overlap between two compacted outputs has no valid split (no
    // write-id column to row-filter on) — fail fast like the straddle.
    // ...PER KIND: an insert-compacted range never supersedes a
    // delete-compacted one (delete_delta_2_5_vN beside delta_2_5_vM is
    // the compactor's NORMAL paired output in full-ACID mode, not a
    // duplicate), so the sweep runs separately over each kind.
    val compactedAdmit = compactedCandidates.partition(_._2.isDelete) match {
      case (dels, ins) => Seq(ins, dels).flatMap { group =>
        val ordered = group.sortBy { case (_, d) =>
          (d.minWriteId, -d.maxWriteId, -d.visibilityTxnId)
        }
        val kept = scala.collection.mutable.ArrayBuffer.empty[(String, ParsedDelta)]
        for ((name, d) <- ordered) {
          val coveredBy = kept.find { case (_, k) =>
            k.minWriteId <= d.minWriteId && d.maxWriteId <= k.maxWriteId
          }
          if (coveredBy.isEmpty) {
            kept.find { case (_, k) =>
              k.minWriteId <= d.maxWriteId && d.minWriteId <= k.maxWriteId
            }.foreach { case (kn, _) =>
              throw new IllegalStateException(
                s"compacted $name partially overlaps compacted $kn: the ranges " +
                  s"cannot be split (insert-only files carry no write-id column)")
            }
            kept += (name -> d)
          }
        }
        kept.toSeq
      }
    }
    (plainAdmit ++ compactedAdmit)
      .groupBy { case (_, d) => (d.minWriteId, d.maxWriteId) }
      .toSeq
      .map { case ((mn, mx), ds) => TailUnit(mn, mx, ds.map(_._1).sorted) }
      .sortBy(_.maxId)
  }

  /** CONTIGUITY WALK — the only way the stream position may advance.
    * Write ids commit out of order: a writer can allocate id 8 and
    * still be writing while id 9's delta is already committed. A tail
    * that admits unit 9 then moves `from` past 8 loses 8's rows FOREVER
    * (the `minWriteId > from` filter excludes them on every later
    * trigger). So each admitted unit must be reachable from the current
    * position through write ids that are all ACCOUNTED FOR: covered by
    * the unit itself, or in the caller's aborted set (an aborted id
    * never produces a committed directory — the only legitimate
    * permanent gap under the directory+aborted-list trust model).
    * An unaccounted gap — an allocated-but-uncommitted id, or a dir
    * that simply hasn't appeared yet — holds the walk (and everything
    * behind it) back until it resolves. `admit` additionally gates each
    * unit (commit-completeness at poll time; always-true on replay). */
  private[graft] def contiguousUnits(units: Seq[TailUnit], from: Long,
                                     aborted: Set[Long],
                                     admit: TailUnit => Boolean): Seq[TailUnit] = {
    val out = Seq.newBuilder[TailUnit]
    var cur = from
    var halted = false
    for (u <- units if !halted) {
      val gapAccounted = ((cur + 1) until u.minId).forall(aborted)
      if (gapAccounted && admit(u)) { out += u; cur = u.maxId }
      else halted = true
    }
    out.result()
  }

  /** The current snapshot's high watermark as a unit id: max over the
    * best base and every complete delta (0 when only originals exist). */
  private[graft] def currentHwm(names: Seq[String]): Long = {
    val baseMax = names.flatMap(parseBase(_)).map(_.writeId)
    val deltaMax = names.flatMap(parseDelta(_)).map(_.maxWriteId)
    (baseMax ++ deltaMax ++ Seq(0L)).max
  }
}

class HiveAcidMicroBatchStream(path: String, required: StructType,
                               maxUnits: Option[Int], aborted: Set[Long],
                               fullAcid: Boolean = false,
                               format: String = "parquet")
    extends TailingStream[Long](path, "writeId", -1L, "maxWriteIdsPerTrigger", maxUnits) {
  import HiveAcidStream._
  private def conf =
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration

  /** The tail path refuses delete deltas inside [[HiveAcidStream.tailUnits]];
    * the INITIAL snapshot must refuse them too — `selectDirs.dataDirs`
    * would silently drop them and emit un-retracted rows. */
  private def requireInsertOnly(names: Seq[String]): Unit =
    require(fullAcid || !names.exists(n => HiveAcid.parseDelta(n).exists(_.isDelete)),
      s"delete deltas present under $path: a full-ACID table cannot stream " +
        s"insert-only (rows would need retraction); stream with acidMode=full " +
        s"(CDC rows) or read in batch via readFullAcid")

  /** Delta units in write-id order, each keyed by its max id. Mid-write
    * units defer themselves AND everything behind them (skipping over an
    * in-flight unit would reorder the log). */
  override protected def pending(from: Long): Seq[Long] = {
    val names = listNames(path)
    if (from >= 0L)
      contiguousUnits(tailUnits(names, from, aborted, fullAcid), from, aborted,
        u => u.dirs.forall(isComplete(path, _))).map(_.maxId)
    else {
      requireInsertOnly(names)
      // initial snapshot: start from the best COMPLETE base (it
      // opaquely covers everything at/below its id), then walk the
      // complete delta units CONTIGUOUSLY — an in-flight or
      // not-yet-appeared write id under the watermark holds the
      // snapshot back (ids commit out of order; skipping one would
      // lose its rows forever)
      val complete = names.filter(isComplete(path, _))
      val base = complete.flatMap(HiveAcid.parseBase(_))
        .map(_.writeId).maxOption.getOrElse(0L)
      val walked = contiguousUnits(
        tailUnits(complete, base, aborted, fullAcid), base, aborted, _ => true)
      // The base is one unsplittable unit that rides with the first
      // delta unit, so the ReadLimit bounds the INITIAL batch too: a
      // fresh checkpoint against a long-lived table drains the tail in
      // bounded batches like any restart.
      if (walked.isEmpty) Seq(base) else walked.map(_.maxId)
    }
  }

  override protected def plan(from: Long, to: Long): Array[InputPartition] = {
    if (to <= from && from >= 0) return Array.empty
    val names = HiveAcidStream.listNames(path)
    val dirs =
      if (from < 0L) {
        requireInsertOnly(names)
        // complete units only — the offset was answered over the same set
        val st = HiveAcid.selectDirs(names.filter(isComplete(path, _)),
          HiveAcid.ValidWriteIds(highWatermark = to, aborted = aborted))
        // CDC mode REPLAYS the log: delete deltas ride along as 'D'
        // rows (operation=2) and the downstream merge materializes
        // visibility — the source stays a pure change-log reader
        if (fullAcid) st.dataDirs ++ st.deleteDeltas else st.dataDirs
      }
      else {
        // REPLAY is reconstruction, not discovery: the committed range
        // (from, to] must be carved out exactly. A compacted unit whose
        // range crosses `to` (the compactor merged past the batch
        // boundary and cleaned the originals) cannot be split — and a
        // walk that no longer reaches `to` means covering dirs are gone;
        // both are silent row loss/duplication if ignored — fail loudly.
        val units = HiveAcidStream.tailUnits(names, from, aborted, fullAcid)
        units.find(u => u.minId <= to && u.maxId > to).foreach { u =>
          throw new IllegalStateException(
            s"unit ${u.dirs.mkString(",")} crosses the committed batch boundary $to " +
              s"(compaction merged past it and the originals are gone); " +
              s"the batch (${from}, $to] cannot be replayed exactly")
        }
        val walked = HiveAcidStream.contiguousUnits(
          units.filter(_.maxId <= to), from, aborted, _ => true)
        val reached = walked.lastOption.map(_.maxId).getOrElse(from)
        if (reached != to)
          throw new IllegalStateException(
            s"replay of (${from}, $to] only reconstructs through $reached — " +
              s"directories for the remaining write ids are gone (cleaned?)")
        walked.flatMap(_.dirs)
      }
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    dirs.flatMap { d =>
      val p = new org.apache.hadoop.fs.Path(s"$path/$d")
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq.map(_.getPath.toString)
          .filter(f => { val n = f.substring(f.lastIndexOf('/') + 1)
            !n.startsWith("_") && !n.startsWith(".") })
      else Seq(p.toString) // bare original file
    }.map(f => IcebergInputPartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (format == "orc")
      // REAL Hive event files: the AcidOrc direct decoder (Spark's ORC
      // path cannot read the acid wrapper); flat plain-ORC MM files
      // also decode through it iff they carry the acid columns —
      // insert-only ORC MM tables without acid columns stream via the
      // batch reader's plain path and are out of this source's scope
      new AcidOrcReaderFactory(required, HadoopConfBroadcast.get(
        org.apache.spark.sql.SparkSession.active.sparkContext, conf))
    else
      // name resolution (empty id map): MM parquet files carry no field ids
      new IcebergReaderFactory(required, Map.empty, HadoopConfBroadcast.get(
        org.apache.spark.sql.SparkSession.active.sparkContext, conf))
}
