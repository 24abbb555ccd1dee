package graft.sources

import java.util

import org.apache.hadoop.io.{BytesWritable, LongWritable, SequenceFile, Text, Writable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Hadoop SequenceFile read/write (SURVEY.md §2 S14) — the reference's
  * legacy sequence-container scanner
  * (apache-impala-4.1.0/be/src/exec/hdfs-sequence-scanner.cc +
  * base-sequence-scanner.cc: sync-marker split recovery, delimited
  * text payloads) re-expressed as a DSv2 source over the
  * hadoop-client jars that ship with Spark (Spark itself only exposes
  * SequenceFiles through the RDD API, not SQL).
  *
  * Schema is the container's (key, value) pair as strings — Impala's
  * sequence tables likewise carry delimited TEXT rows in the value
  * (field parsing happens above, in ordinary split()/from_csv
  * expressions, mirroring delimited-text-parser.cc running above the
  * block scanner). Text / BytesWritable(UTF-8) / LongWritable keys are
  * stringified.
  *
  * Split protocol (the hdfs-sequence-scanner one): byte ranges tile
  * each file (default 64 MiB, `split_bytes` option); a reader syncs to
  * the first marker after its range start and stops at the first
  * record past its range end once a sync was seen — the exact logic of
  * Hadoop's SequenceFileRecordReader, so every record lands in exactly
  * one partition. SequenceFile.Writer plants sync markers every ~2 KiB
  * on its own, so even one container fans out across executors.
  */
class SequenceSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SequenceSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new SeqFileTable(properties.get("path"), SplitFiles.splitBytes(properties))
}

object SequenceSource {
  val schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))

  private[sources] def stringify(w: Writable): UTF8String = w match {
    case t: Text => UTF8String.fromBytes(t.getBytes, 0, t.getLength)
    case b: BytesWritable => UTF8String.fromBytes(b.getBytes, 0, b.getLength)
    case l: LongWritable => UTF8String.fromString(l.get.toString)
    case other => UTF8String.fromString(String.valueOf(other))
  }
}

class SeqFileTable(path: String, splitBytes: Long) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft_seqfile($path)"
  override def schema(): StructType = SequenceSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new SeqFileWriteBuilder(path, info.schema())
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val split = SplitFiles.splitBytes(options, splitBytes)
    new ScanBuilder {
      override def build(): Scan = new SeqFileScan(path, split)
    }
  }
}

class SeqFileScan(path: String, splitBytes: Long) extends Scan with Batch {
  override def readSchema(): StructType = SequenceSource.schema
  override def toBatch: Batch = this
  override def description(): String = s"graft_seqfile $path split=$splitBytes"
  override def planInputPartitions(): Array[InputPartition] =
    SplitFiles.plan(path, ".seq", splitBytes)
  override def createReaderFactory(): PartitionReaderFactory = new SeqFileReaderFactory
}

class SeqFileReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FileRange]
    new PartitionReader[InternalRow] {
      private val conf = new org.apache.hadoop.conf.Configuration()
      private val reader = new SequenceFile.Reader(conf,
        SequenceFile.Reader.file(new org.apache.hadoop.fs.Path(p.file)))
      private val key =
        reader.getKeyClass.getDeclaredConstructor().newInstance().asInstanceOf[Writable]
      private val value =
        reader.getValueClass.getDeclaredConstructor().newInstance().asInstanceOf[Writable]
      if (p.start > 0) reader.sync(p.start) // first marker after range start
      private var more = true
      override def next(): Boolean = {
        if (!more) return false
        // Hadoop SequenceFileRecordReader's split-end rule: stop at the
        // first record whose start position crossed the range end after
        // a sync was seen — that record belongs to the next partition.
        val pos = reader.getPosition
        val remaining = reader.next(key, value)
        more = remaining && !(pos >= p.end && reader.syncSeen())
        more
      }
      override def get(): InternalRow =
        InternalRow(SequenceSource.stringify(key), SequenceSource.stringify(value))
      override def close(): Unit = reader.close()
    }
  }
}

/** Distributed SequenceFile writer: one container per partition,
  * Text→Text records (the classic Hive text-table layout the
  * reference's scanner consumes). */
/** S17: the FULL DataSource V2 WRITE contract — the piece the
  * side-door [[SequenceIO.write]] skips. Task writers land their
  * output in a job-scoped temp directory and return commit MESSAGES;
  * the driver's `commit` renames every committed task file into place
  * and stamps `_SUCCESS`, `abort` deletes the temp tree — so
  * speculative/retried tasks can never leave a half-written file
  * visible, and a failed job leaves the previous table intact (the
  * same commit discipline as Spark's own FileBatchWrite, implemented
  * against the raw V2 API the way an external system's connector
  * would). `mode("overwrite")` maps to SupportsTruncate. */
class SeqFileWriteBuilder(path: String, schema: StructType)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  require(schema.length == 2 && schema.forall(_.dataType == StringType),
    s"graft seqfile write expects (key string, value string), got ${schema.simpleString}")
  private var doTruncate = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.Write {
      override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
        new SeqFileBatchWrite(path, doTruncate)
    }
}

case class SeqFileCommit(tempFile: String, finalName: String, rows: Long)
  extends org.apache.spark.sql.connector.write.WriterCommitMessage

class SeqFileBatchWrite(path: String, truncate: Boolean)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  private val jobToken = java.util.UUID.randomUUID().toString
  private def tempDir = s"$path/_temporary_$jobToken"

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory = {
    val out = new org.apache.hadoop.fs.Path(path)
    val fs = out.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(tempDir))
    new SeqFileWriterFactory(tempDir, jobToken.take(8))
  }

  override def commit(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    val out = new org.apache.hadoop.fs.Path(path)
    val fs = out.getFileSystem(conf)
    if (truncate) // clear PREVIOUS contents only now, when the new data is all staged
      fs.listStatus(out).filter(s => s.isFile && s.getPath.getName.endsWith(".seq"))
        .foreach(s => fs.delete(s.getPath, false))
    messages.foreach { case SeqFileCommit(tmp, name, _) =>
      graft.Fs.rename(fs, new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(out, name))
    }
    fs.delete(new org.apache.hadoop.fs.Path(tempDir), true)
    val ok = fs.create(new org.apache.hadoop.fs.Path(out, "_SUCCESS"), true)
    ok.close()
  }

  override def abort(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(tempDir), true)
  }
}

class SeqFileWriterFactory(tempDir: String, token: String)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      // taskId in the name keeps speculative attempts from colliding;
      // only the attempt whose message reaches commit() gets renamed in
      private val file = f"$tempDir/part-$partitionId%05d-$taskId.seq"
      private val writer = SequenceFile.createWriter(
        new org.apache.hadoop.conf.Configuration(),
        SequenceFile.Writer.file(new org.apache.hadoop.fs.Path(file)),
        SequenceFile.Writer.keyClass(classOf[Text]),
        SequenceFile.Writer.valueClass(classOf[Text]))
      private val k = new Text(); private val v = new Text()
      private var n = 0L
      override def write(row: InternalRow): Unit = {
        k.set(row.getUTF8String(0).getBytes)
        v.set(row.getUTF8String(1).getBytes)
        writer.append(k, v)
        n += 1
      }
      override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
        writer.close()
        // token in the FINAL name keeps append jobs from colliding
        // with a previous job's files of the same partition id
        SeqFileCommit(file, f"part-$partitionId%05d-$token.seq", n)
      }
      override def abort(): Unit = {
        writer.close()
        val p = new org.apache.hadoop.fs.Path(file)
        p.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(p, false)
      }
      override def close(): Unit = ()
    }
}

object SequenceIO {
  def write(df: DataFrame, path: String): Unit = {
    require(df.schema.length == 2 && df.schema.forall(_.dataType == StringType),
      s"SequenceIO.write expects exactly (key string, value string), got ${df.schema.simpleString}")
    val sc = df.sparkSession.sparkContext
    val out = new org.apache.hadoop.fs.Path(path)
    val fs = out.getFileSystem(sc.hadoopConfiguration)
    if (fs.exists(out)) fs.delete(out, true)
    fs.mkdirs(out)
    val nWritten = df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      val conf = new org.apache.hadoop.conf.Configuration()
      val part = new org.apache.hadoop.fs.Path(path, f"part-$idx%05d.seq")
      val writer = SequenceFile.createWriter(conf,
        SequenceFile.Writer.file(part),
        SequenceFile.Writer.keyClass(classOf[Text]),
        SequenceFile.Writer.valueClass(classOf[Text]))
      val k = new Text(); val v = new Text()
      var n = 0L
      rows.foreach { row =>
        k.set(row.getString(0)); v.set(row.getString(1))
        writer.append(k, v)
        n += 1
      }
      writer.close()
      Iterator(n)
    }.sum()
    require(nWritten >= 0) // materialize the job
  }
}

/** Round-trip coverage with a REAL oracle: documents rows serialized as
  * ^A-delimited text values (the Hive default field terminator the
  * reference's delimited-text-parser handles), written to a
  * SequenceFile, read back through the DSv2 source, re-parsed with
  * split(), and aggregated; DuckDB computes the same aggregate from the
  * original parquet. */
object SequenceQueries extends graft.QueryModule {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.functions._

  val path = new graft.TmpPath("seq_documents")
  val v2Path = new graft.TmpPath("seqv2_documents")

  val queries: Map[String, Q] = Map(
    "src_seqfile_roundtrip" -> ((spark, dir) => {
      val docs = graft.Tables(spark, dir).documents
      // Field-packing contract: ^A-delimited, like Hive's default
      // textfile SerDe. concat_ws silently DROPS null arguments (which
      // would shift every later field on read-back), so each field is
      // coalesced to '' — null and empty collapse, the same lossy
      // convention as Hive delimited text. An embedded ^A would also
      // shift fields: only `text` could carry one, and it sits LAST and the split LIMIT (4) keeps
      // any embedded separator inside it intact (r10); a production packer would escape
      // (Hive's '\001' escaping) — documented, not needed for the
      // driver-generated prose this exercises.
      val kv = docs.select(
        col("doc_id").cast("string").as("key"),
        concat_ws("\u0001",
          coalesce(col("lang"), lit("")), coalesce(col("source"), lit("")),
          coalesce(col("n_chars").cast("string"), lit("")),
          coalesce(col("text"), lit(""))).as("value"))
      SequenceIO.write(kv, path(dir))
      val back = spark.read.format("graft.sources.SequenceSource").load(path(dir))
      back.select(col("key").cast("long").as("doc_id"),
          split(col("value"), "\u0001", 4).as("f"))
        .select(col("doc_id"), col("f").getItem(0).as("lang"),
          col("f").getItem(1).as("source"),
          col("f").getItem(2).cast("long").as("n_chars"),
          col("f").getItem(3).as("text"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("nd"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text")).cast("bigint")).as("sum_text_len"),
          countDistinct(col("source")).as("nd_source"))
        .orderBy("lang")
    }),

    // S17: the same round trip through the FULL DataSource V2 write
    // contract (WriteBuilder → BatchWrite → task commit messages →
    // driver rename-commit + _SUCCESS) instead of the side-door RDD
    // writer — df.write.format(...).mode("overwrite").save().
    "src_seqfile_v2write" -> ((spark, dir) => {
      val docs = graft.Tables(spark, dir).documents
      val kv = docs.select(
        col("doc_id").cast("string").as("key"),
        concat_ws("\u0001",
          coalesce(col("lang"), lit("")), coalesce(col("source"), lit("")),
          coalesce(col("n_chars").cast("string"), lit("")),
          coalesce(col("text"), lit(""))).as("value"))
      val p = v2Path(dir)
      kv.write.format("graft.sources.SequenceSource")
        .option("path", p).mode("overwrite").save()
      val back = spark.read.format("graft.sources.SequenceSource").load(p)
      back.select(col("key").cast("long").as("doc_id"),
          split(col("value"), "\u0001", 4).as("f"))
        .select(col("doc_id"), col("f").getItem(0).as("lang"),
          col("f").getItem(2).cast("long").as("n_chars"),
          col("f").getItem(3).as("text"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("nd"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text")).cast("bigint")).as("sum_text_len"))
        .orderBy("lang")
    }),
  )

  val oracles: Map[String, String] = Map(
    "src_seqfile_v2write" ->
      """SELECT lang, count(*) AS n, count(DISTINCT doc_id) AS nd,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(strlen(text)) AS BIGINT) AS sum_text_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // over the ORIGINAL parquet — equality proves the container + parse
    // round trip preserved every row and field
    "src_seqfile_roundtrip" ->
      """SELECT lang, count(*) AS n, count(DISTINCT doc_id) AS nd,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(strlen(text)) AS BIGINT) AS sum_text_len,
        |  count(DISTINCT source) AS nd_source
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
  )

  override val tmp: Map[String, Seq[graft.TmpPath]] = Map(
    "src_seqfile_roundtrip" -> Seq(path),
    "src_seqfile_v2write" -> Seq(v2Path),
  )
}
