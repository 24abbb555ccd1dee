package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** T29: a Hudi COW table as a STREAMING SOURCE — the `.hoodie`
  * timeline's completed instants tailed as micro-batches, completing
  * the lakehouse-streaming triptych (T25 Iceberg snapshots, T27 Hive
  * ACID write ids, T29 Hudi instants). Offsets ARE instant times (what
  * the table's own timeline already provides, fixed-width digit
  * strings, lexicographic = commit order), so exactly-once needs no
  * side state: a restart replans the same (start, end] file diff over
  * immutable base files.
  *
  * Batch semantics:
  *  - the INITIAL batch (offset "") is the read-optimized snapshot AS
  *    OF the admitted end instant — the [[HudiRO]] selection (latest
  *    completed base file per file group, clustering replacecommits
  *    superseding their replaced groups), so a table with any history
  *    starts from a CONSISTENT point-in-time view;
  *  - every later batch admits whole COMMITS in (start, end]: the
  *    commit's newly stamped base files. This is exact for
  *    append-style commits (new file groups). A commit that REWRITES
  *    an existing file group (COW update/delete) carries the group's
  *    old rows inside its new base file: on a table WITH `_hoodie_*`
  *    record-level meta columns (what real Hudi writers produce) the
  *    drain row-filters every admitted file to
  *    `_hoodie_commit_time == instant` — exactly the rows the commit
  *    wrote — and the rewrite flows as UPSERTS (T29b; deletes do not
  *    emit — upsert-CDC, the T22 sink's contract). Without meta
  *    columns the stream FAILS FAST instead (the T25
  *    replace/overwrite discipline). A clustering replacecommit
  *    arriving mid-stream stays fail-fast either way (its file-group
  *    supersession is snapshot bookkeeping this diff-shaped drain
  *    does not track); clustering BEFORE the initial offset is served
  *    through the snapshot path.
  *  - an INFLIGHT instant (no completion marker) is invisible — its
  *    files are never admitted; when the marker lands, the commit is
  *    picked up whole on a later trigger.
  *
  * Offsets, admission and poll failures follow the one rule of
  * [[TailingStream]]; a missing `.hoodie` timeline is a failed poll.
  * Admission control (`maxCommitsPerTrigger`): at most N instants
  * admitted per micro-batch — the initial catch-up
  * snapshot lands AS OF the Nth instant (still a consistent view) and
  * the remaining history drains over bounded per-commit batches.
  *
  * Scale shape: `latestOffset` is one timeline-directory listing
  * (bounded by commit cadence — the same metadata-scale sweep the
  * batch reader does); each batch plans one distributed scan over
  * exactly the admitted files, cost ∝ newly committed data. The
  * hive-style partition column rematerializes per file from its dir
  * name (unescaped), shipped as a per-partition constant.
  *
  * Reference semantics (no code shared): the public Hudi timeline /
  * base-file layout (HudiUtil.java:26-38 names the RO contract);
  * streaming tail semantics are this repo's own composition, mirroring
  * its Iceberg and Hive ACID sources. */
class HudiStreamSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    require(path != null, "graft.sources.HudiStreamSource requires .load(tableDir)")
    HudiStream.tableSchema(path)
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    new TailTable("hudi", path, schema, options => {
      val maxCommits = Option(options.get("maxCommitsPerTrigger")).map(_.toInt)
      // T29b: real Hudi base files carry record-level meta columns;
      // their presence (in the TABLE schema, not the pruned
      // projection) upgrades rewrite commits from fail-fast to CDC
      val hasMetaCols = schema.fieldNames.contains("_hoodie_commit_time")
      required => new HudiMicroBatchStream(path, required, maxCommits, hasMetaCols)
    })
  }
}

object HudiStream {
  private def spark = org.apache.spark.sql.SparkSession.active

  /** Current RO-view schema: the data columns of one visible base file
    * (a driver-side footer read) + the hive-style partition column as
    * a string (the batch reader's discovery convention, appended
    * last). */
  private[graft] def tableSchema(tableDir: String): StructType = {
    val snap = HudiRO.snapshot(spark, tableDir)
    val first = snap.visibleFiles.headOption
    require(first.nonEmpty, s"no completed Hudi base files under $tableDir")
    val data = spark.read.parquet(first.get).schema
    snap.layout.partitionCol match {
      case Some(c) => StructType(data.fields :+ StructField(c, StringType))
      case None => data
    }
  }
}

class HudiMicroBatchStream(path: String, required: StructType,
                           maxCommits: Option[Int] = None,
                           hasMetaCols: Boolean = false)
    extends TailingStream[String](path, "instant", "", "maxCommitsPerTrigger", maxCommits) {
  private def spark = org.apache.spark.sql.SparkSession.active
  private def hconf = spark.sparkContext.hadoopConfiguration

  /** Completed instants (commits AND replacecommits) after `from` —
    * replacecommits are included so the end offset CROSSES them and
    * batch planning fails fast, instead of the stream silently
    * stalling just before one forever. A missing timeline throws
    * `FileNotFoundException`: a failed poll, not a table-state check. */
  override protected def pending(from: String): Seq[String] = {
    val tl = HudiRO.timeline(spark, path)
    if (!tl.isTable) throw new java.io.FileNotFoundException(s"$path/.hoodie")
    tl.completedInstants.filter(_ > from)
  }

  /** (from, to] → input files. From "" it is the RO snapshot as of
    * `to`; otherwise the per-commit file diff, failing fast on
    * rewrites and mid-stream clustering (scaladoc contract above). */
  override protected def plan(from: String, to: String): Array[InputPartition] = {
    if (to <= from) return Array.empty
    val tl = HudiRO.timeline(spark, path)
    val parts: Seq[HudiStreamInputPartition] =
      if (from.isEmpty) {
        // initial batch: the consistent RO snapshot as of `to` — full
        // rows, no commit-time filter (point-in-time state, not a diff)
        HudiRO.snapshot(spark, path, tl = Some(tl.asOf(to))).visible.map { case (s, b) =>
          HudiStreamInputPartition(s.file(b), HudiRO.partitionValue(s.dir).orNull, null)
        }
      } else {
        // drain: whole commits in (from, to]
        val replacing = tl.replacecommitsIn(from, to)
        if (replacing.nonEmpty) throw new IllegalStateException(
          s"$path: clustering replacecommit ${replacing.head} inside the " +
            "admitted range — a replacecommit is a pure rewrite; replaying its " +
            "base files as inserts would duplicate rows. Restart the stream " +
            "from a fresh checkpoint (its initial snapshot supersedes " +
            "clustering) or stop clustering the streamed table.")
        val admitted = tl.completedInstants.filter(i => i > from && i <= to).toSet
        HudiRO.snapshot(spark, path, tl = Some(tl)).slices.flatMap { s =>
          val fresh = s.files.filter(b => admitted(b.instant))
          fresh.foreach { b =>
            // Only COMPLETED older instants make a commit a rewrite: an
            // orphan base file from an aborted/inflight instant was never
            // visible, so a new commit stamping the same fileId is a plain
            // insert, not a rewrite.
            val older = s.files.exists(o => o.fileId == b.fileId &&
              o.instant < b.instant && tl.completed(o.instant))
            // T29b: with record-level meta columns, a COW rewrite is
            // row-filterable to exactly its changed rows (below) —
            // only a meta-less table must fail fast.
            if (older && !hasMetaCols) throw new IllegalStateException(
              s"$path/${s.dir}: commit ${b.instant} REWRITES file group ${b.fileId} " +
                "(COW update/delete) — its new base file carries the group's " +
                "old rows and replaying it as inserts would duplicate. This " +
                "stream is append-only without _hoodie_* meta columns; serve " +
                "rewritten groups through the read-optimized batch reader " +
                "(HudiRO.read) instead, or write meta columns for CDC.")
          }
          // T29b CDC: on a meta-column table EVERY drained file is
          // filtered to the rows its own commit actually wrote
          // (_hoodie_commit_time == instant): a rewrite emits exactly
          // its changed rows as upserts (carried rows keep their
          // original commit time and drop out), a fresh file group
          // passes through whole (all rows stamped by the creating
          // commit). Deletes do not emit — this is the upsert-CDC
          // shape (the T22 sink's contract), not tombstone CDC.
          fresh.sortBy(b => (b.instant, b.name))
            .map(b => HudiStreamInputPartition(s.file(b), HudiRO.partitionValue(s.dir).orNull,
              if (hasMetaCols) b.instant else null))
        }
      }
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new HudiStreamReaderFactory(required, HudiRO.layout(spark, path).partitionCol,
      HadoopConfBroadcast.get(spark.sparkContext, hconf))
}

/** `commitFilter`: non-null on a T29b CDC drain — only rows whose
  * `_hoodie_commit_time` equals it are emitted (the rows this commit
  * actually wrote); null = emit every row (snapshot / meta-less). */
case class HudiStreamInputPartition(file: String, partValue: String,
                                    commitFilter: String = null)
    extends InputPartition

/** Per-file parquet reader = the shared pruned-projection reader
  * (name resolution — Hudi base files carry no Iceberg field ids),
  * with the hive-style partition column rematerialized as a
  * per-partition constant (the column does not exist inside the
  * file) and, on CDC drains, the `_hoodie_commit_time == instant` row
  * filter applied executor-side (the filter column is added to the
  * file projection when the query itself didn't ask for it, then
  * projected away). */
class HudiStreamReaderFactory(required: StructType, pcol: Option[String],
                              conf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[HudiStreamInputPartition]
    val pIdx = pcol.map(c => required.fieldNames.indexOf(c)).filter(_ >= 0)
    // columns read from the file = required minus the partition col
    val dataRequired = StructType(pIdx match {
      case Some(idx) => required.fields.zipWithIndex.filter(_._2 != idx).map(_._1)
      case None => required.fields
    })
    val filtering = p.commitFilter != null
    val ctInData = dataRequired.fieldNames.indexOf("_hoodie_commit_time")
    val readSchema =
      if (!filtering || ctInData >= 0) dataRequired
      else StructType(dataRequired.fields :+
        StructField("_hoodie_commit_time", StringType))
    val ctIdx = if (!filtering) -1
      else if (ctInData >= 0) ctInData else dataRequired.length
    val inner = new IcebergPartitionReader(p.file, readSchema, Map.empty, conf)
    if (!filtering && pIdx.isEmpty) return inner // plain append drain / snapshot
    // required index -> file-projection index (-1 = the partition col)
    val srcIdx = new Array[Int](required.length)
    var j = 0
    for (i <- required.indices) {
      if (pIdx.contains(i)) srcIdx(i) = -1 else { srcIdx(i) = j; j += 1 }
    }
    val pv = if (p.partValue == null) null
      else org.apache.spark.unsafe.types.UTF8String.fromString(p.partValue)
    val want = if (!filtering) null
      else org.apache.spark.unsafe.types.UTF8String.fromString(p.commitFilter)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (inner.next()) {
          val r = inner.get()
          if (!filtering || {
            val v = r.getUTF8String(ctIdx); v != null && v.equals(want)
          }) { cur = r; return true }
        }
        false
      }
      override def get(): InternalRow = {
        val out = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(required.length)
        var i = 0
        while (i < required.length) {
          if (srcIdx(i) < 0) out.update(i, pv)
          else out.update(i, cur.get(srcIdx(i), dataRequired(srcIdx(i)).dataType))
          i += 1
        }
        out
      }
      override def close(): Unit = inner.close()
    }
  }
}
