package graft.sources

import java.util

import org.apache.hadoop.hive.ql.io.RCFile
import org.apache.hadoop.hive.serde2.ColumnProjectionUtils
import org.apache.hadoop.hive.serde2.columnar.{BytesRefArrayWritable, BytesRefWritable}
import org.apache.hadoop.io.LongWritable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** RCFile read/write (SURVEY.md §2 S15) — the reference's columnar
  * legacy format (apache-impala-4.1.0/be/src/exec/
  * hdfs-rcfile-scanner.cc) over the hive-exec/hive-serde jars that
  * ship with Spark. RCFile is ROW-GROUP COLUMNAR: each group stores
  * its columns contiguously, so column pruning skips whole byte
  * ranges — this source pushes Spark's pruned schema into the Hive
  * reader via ColumnProjectionUtils (READ_COLUMN_IDS), the exact
  * mechanism the reference's scanner keys its column readers off.
  *
  * Values are UTF-8 text cells (the classic Hive columnar-text
  * layout); NULL is Hive's default `\N` sentinel, with that format's
  * inherent `\N`-literal ambiguity. RCFile stores no column names, so
  * the writer emits a `_schema` sidecar (one name per line) — the
  * stand-in for the metastore the reference consults.
  *
  * Splits: byte ranges tile the file; a reader syncs to the first
  * marker after its range start and stops once the last seen sync
  * position crosses its range end — Hive RCFileRecordReader's rule,
  * so each row group lands in exactly one partition.
  */
class RcFileSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RcIO.readSchemaSidecar(SplitFiles.pathOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new RcFileTable(properties.get("path"), schema, SplitFiles.splitBytes(properties))
}

class RcFileTable(path: String, schema: StructType, splitBytes: Long)
    extends Table with SupportsRead {
  override def name(): String = s"graft_rcfile($path)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RcFileScanBuilder(path, schema, SplitFiles.splitBytes(options, splitBytes))
}

class RcFileScanBuilder(path: String, full: StructType, splitBytes: Long)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var pruned: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit = pruned = requiredSchema
  override def build(): Scan = new RcFileScan(path, full, pruned, splitBytes)
}

class RcFileScan(path: String, full: StructType, pruned: StructType, splitBytes: Long)
    extends Scan with Batch {
  override def readSchema(): StructType = pruned
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_rcfile $path cols=${pruned.fieldNames.mkString(",")} split=$splitBytes"
  override def planInputPartitions(): Array[InputPartition] =
    SplitFiles.plan(path, ".rc", splitBytes)
  override def createReaderFactory(): PartitionReaderFactory = {
    // pruned ids in the FULL schema's column order — what the Hive
    // reader skips decompression/IO for
    val ids = pruned.fieldNames.map(full.fieldIndex).toSeq
    new RcReaderFactory(ids)
  }
}

class RcReaderFactory(prunedIds: Seq[Int]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FileRange]
    new PartitionReader[InternalRow] {
      private val conf = new org.apache.hadoop.conf.Configuration()
      ColumnProjectionUtils.setReadColumnIDs(conf,
        prunedIds.map(Integer.valueOf).asJava)
      private val hPath = new org.apache.hadoop.fs.Path(p.file)
      private val reader = new RCFile.Reader(hPath.getFileSystem(conf), hPath, conf)
      if (p.start > 0) reader.sync(p.start)
      private val rowId = new LongWritable()
      private val row = new BytesRefArrayWritable()
      private var more = true
      override def next(): Boolean = {
        if (!more) return false
        more = reader.next(rowId)
        // Hive RCFileRecordReader's split-end rule: a row group whose
        // sync crossed the range end belongs to the next partition
        if (more && reader.lastSeenSyncPos() >= p.end) more = false
        if (more) reader.getCurrentRow(row)
        more
      }
      override def get(): InternalRow =
        InternalRow.fromSeq(prunedIds.map { i =>
          val ref = row.get(i)
          // null sentinel test on the raw bytes — no per-cell String
          // allocation on the hot read path
          val d = ref.getData; val st = ref.getStart
          if (ref.getLength == 2 && d(st) == '\\' && d(st + 1) == 'N') null
          else UTF8String.fromBytes(d, st, ref.getLength)
        })
      override def close(): Unit = reader.close()
    }
  }
}

/** Distributed RCFile writer (one container per partition) + `_schema`
  * sidecar. All cells UTF-8 text; null → `\N`. */
object RcIO {
  private[sources] val NullBytes = "\\N".getBytes("UTF-8")

  def readSchemaSidecar(path: String): StructType = {
    val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path, "_schema")
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val names = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
    require(names.nonEmpty, s"empty _schema sidecar under $path")
    StructType(names.map(StructField(_, StringType, nullable = true)))
  }

  /** @param rowGroupBytes size of the columnar row-group buffer; smaller
    *                      groups mean more sync points (finer splits). */
  def write(df: DataFrame, path: String, rowGroupBytes: Int = 0): Unit = {
    require(df.schema.forall(_.dataType == StringType),
      s"RcIO.write expects all-string columns, got ${df.schema.simpleString}")
    val names = df.schema.fieldNames
    val n = names.length
    val sc = df.sparkSession.sparkContext
    val out = new org.apache.hadoop.fs.Path(path)
    val fs = out.getFileSystem(sc.hadoopConfiguration)
    if (fs.exists(out)) fs.delete(out, true)
    fs.mkdirs(out)
    val sidecar = fs.create(new org.apache.hadoop.fs.Path(out, "_schema"), true)
    sidecar.write(names.mkString("\n").getBytes("UTF-8"))
    sidecar.close()
    val nWritten = df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      val conf = new org.apache.hadoop.conf.Configuration()
      conf.setInt(RCFile.COLUMN_NUMBER_CONF_STR, n)
      if (rowGroupBytes > 0)
        conf.setInt(RCFile.Writer.COLUMNS_BUFFER_SIZE_CONF_STR, rowGroupBytes)
      val part = new org.apache.hadoop.fs.Path(path, f"part-$idx%05d.rc")
      val writer = new RCFile.Writer(part.getFileSystem(conf), conf, part, null, null)
      var cnt = 0L
      rows.foreach { r =>
        val braw = new BytesRefArrayWritable(n)
        var i = 0
        while (i < n) {
          val bytes = if (r.isNullAt(i)) NullBytes else r.getString(i).getBytes("UTF-8")
          braw.set(i, new BytesRefWritable(bytes, 0, bytes.length))
          i += 1
        }
        writer.append(braw)
        cnt += 1
      }
      writer.close()
      Iterator(cnt)
    }.sum()
    require(nWritten >= 0) // materialize the job
  }
}

/** Round-trip coverage with a REAL oracle, plus pruning exercised: the
  * read-back aggregate projects a strict column subset, so the RCFile
  * reader's READ_COLUMN_IDS path (columnar skip) is on the measured
  * plan. DuckDB computes the same aggregate from the original parquet. */
object RcFileQueries extends graft.QueryModule {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.functions._

  val path = new graft.TmpPath("rc_documents")

  val queries: Map[String, Q] = Map(
    "src_rcfile_roundtrip" -> ((spark, dir) => {
      val docs = graft.Tables(spark, dir).documents
      RcIO.write(docs.select(
        col("doc_id").cast("string"), col("lang"), col("source"),
        col("n_chars").cast("string"), col("text")), path(dir))
      val back = spark.read.format("graft.sources.RcFileSource").load(path(dir))
      back.select(col("doc_id").cast("long").as("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars")) // text/source pruned away
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("nd"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy("lang")
    }),
  )

  val oracles: Map[String, String] = Map(
    "src_rcfile_roundtrip" ->
      """SELECT lang, count(*) AS n, count(DISTINCT doc_id) AS nd,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
  )

  override val tmp: Map[String, Seq[graft.TmpPath]] = Map(
    "src_rcfile_roundtrip" -> Seq(path),
  )
}
