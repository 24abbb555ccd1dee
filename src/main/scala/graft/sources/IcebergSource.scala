package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.api.ReadSupport.ReadContext
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types, Type => PType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, BOOLEAN, DOUBLE, INT32, INT64}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Iceberg table-format read/write (SURVEY.md §2 S16) — the reference's
  * Iceberg catalog/scan surface (apache-impala-4.1.0/fe/src/main/java/
  * org/apache/impala/catalog/IcebergTable.java + catalog/iceberg/
  * IcebergCatalog.java: table metadata load, snapshot resolution,
  * manifest walk, partition-transform pruning) re-expressed over the
  * PUBLIC Iceberg v1 table-format spec with only the avro + parquet
  * jars that ship with Spark. No iceberg-* runtime jar resolves in this
  * environment (verified offline: the coursier cache holds no
  * org.apache.iceberg artifacts), so the format itself is implemented,
  * HadoopTables-style:
  *
  *   table/metadata/version-hint.text        -> current metadata version
  *   table/metadata/vN.metadata.json         -> schema (field-ids),
  *                                              partition spec, snapshots
  *   snapshot.manifest-list (avro)           -> manifest files + per-
  *                                              partition-field summaries
  *   manifest (avro)                         -> data files + partition
  *                                              tuple + stats
  *   data files (parquet)                    -> rows
  *
  * Snapshots are first-class: `IcebergWrite.append` commits a new
  * snapshot (new data files + manifests + manifest-list carrying the
  * parent's manifests forward, next metadata version, snapshot log
  * intact) and the reader time-travels with
  * `.option("snapshot_id", N)` — the v1 spec's snapshot-isolation
  * model, exercised in SourcesSpec S16b.
  *
  * Scan planning is DRIVER-side metadata work, exactly as in Iceberg
  * itself: an equality predicate on a partition SOURCE column is mapped
  * through the table's transform (bucket[N] via the murmur3 of
  * graft.functions.IcebergImpl — the same bytes the spec fixes —
  * truncate[W], identity, or year/month/day) and pruned TWICE:
  * manifest-list level against the
  * field_summary lower/upper bounds, then manifest level against each
  * file's partition tuple. A 1-of-N-buckets probe therefore opens one
  * manifest and reads 1/N of the data files; at 100 TB that is the
  * difference between a metadata lookup and a full scan. The pruning
  * predicate is also left in the residual filter set (bucket is
  * many-to-one, so row-level evaluation must still happen — Spark keeps
  * it above the scan).
  *
  * The DSv2 read path maps one InputPartition per surviving data file
  * (Iceberg's own split granularity for small files) and decodes
  * parquet through parquet-hadoop's column-pruned Group reader: the
  * pruned Spark schema becomes the parquet projection
  * (`parquet.read.schema`), so dropped columns are never materialized.
  * This reader is the format-conformance path; a planner that wants
  * Spark's vectorized parquet exec can take `IcebergRead.planFiles`
  * (the same pruned list) and hand it to `spark.read.parquet` — both
  * paths are exercised by SourcesSpec S16–S16d.
  *
  * Types: long/int/double/boolean/string/date (the testdata surface +
  * one of each width class); anything else fails loudly at schema
  * parse. Null partition-source values are a writer error (require'd):
  * the tables this feeds (documents) declare the bucket column NOT
  * NULL, matching the reference's Iceberg identity-partition handling.
  */
object IcebergMeta {
  val mapper = new ObjectMapper()

  /** Iceberg type name <-> Spark. Spark's TimestampType is
    * session-tz-adjusted micros = the spec's timestamptz. */
  def toSpark(t: String): DataType = t match {
    case "long" => LongType
    case "int" => IntegerType
    case "double" => DoubleType
    case "boolean" => BooleanType
    case "string" => StringType
    case "date" => DateType
    case "timestamptz" | "timestamp" => TimestampType
    case other => sys.error(s"graft iceberg: unsupported type '$other'")
  }

  def toIceberg(t: DataType): String = t match {
    case LongType => "long"
    case IntegerType => "int"
    case DoubleType => "double"
    case BooleanType => "boolean"
    case StringType => "string"
    case DateType => "date"
    case TimestampType => "timestamptz"
    case other => sys.error(s"graft iceberg: unsupported type $other")
  }

  /** Single-value binary serialization (spec Appendix D): int -> 4-byte
    * little-endian, long -> 8-byte little-endian. Used in field_summary
    * lower/upper bounds. */
  def intToBytes(v: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()
  def bytesToInt(b: Array[Byte]): Int =
    java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt

  def longToBytes(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()
  def bytesToLong(b: Array[Byte]): Long =
    java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong

  /** One partition field of the table's spec. Transforms supported:
    * bucket[N] (murmur3), truncate[W] (floor / prefix), identity, and
    * the full temporal family — year/month/day on DATE columns, hour
    * on TIMESTAMP columns — i.e. every transform the reference
    * enumerates (IcebergPartitionTransform.java:
    * HOUR/DAY/MONTH/YEAR/BUCKET/TRUNCATE + identity). Temporal
    * partition values follow the spec: years/months since 1970, days/
    * hours since epoch, all int. */
  case class PartField(name: String, transform: String, sourceId: Int, fieldId: Int) {
    /** bucket[N] -> N; truncate[W] -> W. */
    def param: Int = transform.dropWhile(_ != '[').stripPrefix("[").stripSuffix("]").toInt
    def isBucket: Boolean = transform.startsWith("bucket[")
    def isTruncate: Boolean = transform.startsWith("truncate[")
    def isIdentity: Boolean = transform == "identity"
    def isTemporal: Boolean =
      transform == "year" || transform == "month" || transform == "day" || transform == "hour"
  }

  /** `spec` is the table's DEFAULT (current-write) spec; `specs` maps
    * every spec-id the table has ever had to its fields — manifests
    * written under an older layout are interpreted (and pruned) under
    * THEIR spec, the heart of partition-spec evolution. */
  case class TableMeta(schema: StructType, fieldIds: Seq[Int], spec: Seq[PartField],
                       manifestList: String, snapshotId: Long,
                       specs: Map[Int, Seq[PartField]] = Map.empty,
                       defaultSpecId: Int = 0) {
    def specById(id: Int): Seq[PartField] = specs.getOrElse(id, spec)
  }

  /** The table's version hint, relative to the table directory. */
  private val HintFile = "metadata/version-hint.text"

  /** One committed metadata version: its number N and the parsed
    * vN.metadata.json tree. Version 0 is a table not yet committed. */
  private[graft] case class Version(n: Int, tree: ObjectNode)

  /** Reads the table's current version: version-hint.text names N,
    * then vN.metadata.json. A missing hint throws
    * `FileNotFoundException`. */
  private[graft] def current(tableDir: String, conf: Configuration): Version = {
    val fs = new Path(tableDir).getFileSystem(conf)
    def read(name: String): Array[Byte] = {
      val in = fs.open(new Path(tableDir, name))
      try in.readAllBytes() finally in.close()
    }
    val n = new String(read(HintFile), UTF_8).trim.toInt
    Version(n, mapper.readTree(read(s"metadata/v$n.metadata.json")).asInstanceOf[ObjectNode])
  }

  /** True when `tableDir` holds a committed table (a version hint). */
  private[graft] def exists(tableDir: String, conf: Configuration): Boolean = {
    val hint = new Path(tableDir, HintFile)
    hint.getFileSystem(conf).exists(hint)
  }

  /** The one commit step: applies `edit` to `base`'s tree, then writes
    * it as v(N+1).metadata.json and only then moves the hint to N+1, so
    * a reader sees version N or N+1 and never a hint to a missing file.
    * v(N+1) is claimed with [[graft.Fs.createExclusive]] and then filled,
    * so of two writers that both read version N only one commits: the
    * other throws an `IllegalStateException` naming the taken version
    * and leaves it untouched. No reader opens v(N+1) before the hint
    * names it; a failed fill gives the claim back. The hint is written
    * whole through a rename ([[graft.Fs.writeAtomic]]). */
  private[sources] def commit(tableDir: String, conf: Configuration, base: Version)(
      edit: ObjectNode => Unit): Unit = {
    val fs = new Path(tableDir).getFileSystem(conf)
    edit(base.tree)
    base.tree.put("last-updated-ms", System.currentTimeMillis())
    val next = new Path(tableDir, s"metadata/v${base.n + 1}.metadata.json")
    if (!graft.Fs.createExclusive(fs, next)) throw new IllegalStateException(
      s"$tableDir: metadata version ${base.n + 1} (${next.getName}) is already taken " +
        s"by another commit; this commit read version ${base.n} and is refused")
    try {
      val out = fs.create(next, /* overwrite = */ true)
      try out.write(mapper.writeValueAsBytes(base.tree)) finally out.close()
    } catch { case e: Throwable => fs.delete(next, false); throw e }
    graft.Fs.writeAtomic(fs, new Path(tableDir, HintFile), (base.n + 1).toString)
  }

  /** Parse metadata/vN.metadata.json (version from version-hint.text).
    * `snapshotId` selects a historical snapshot (time travel); default
    * is the table's current one. */
  def load(tableDir: String, conf: Configuration,
           snapshotId: Option[Long] = None): TableMeta =
    tableMeta(current(tableDir, conf).tree, snapshotId)

  /** The [[TableMeta]] of a parsed metadata tree at `snapshotId`
    * (default: the current snapshot). */
  private[graft] def tableMeta(meta: JsonNode, snapshotId: Option[Long] = None): TableMeta = {
    val fields = meta.get("schema").get("fields").elements().asScala.toSeq
    val schema = StructType(fields.map { f =>
      StructField(f.get("name").asText, toSpark(f.get("type").asText),
        nullable = !f.get("required").asBoolean)
    })
    val ids = fields.map(_.get("id").asInt)
    def parseFields(node: JsonNode): Seq[PartField] =
      node.elements().asScala.toSeq.map { p =>
        PartField(p.get("name").asText, p.get("transform").asText,
          p.get("source-id").asInt, p.get("field-id").asInt)
      }
    // "partition-specs" (spec-id keyed, written since spec evolution
    // landed) with the single legacy "partition-spec" as the fallback
    val specs: Map[Int, Seq[PartField]] = Option(meta.get("partition-specs")) match {
      case Some(arr) => arr.elements().asScala.map(s =>
        s.get("spec-id").asInt -> parseFields(s.get("fields"))).toMap
      case None => Map(0 -> parseFields(meta.get("partition-spec")))
    }
    val defaultSpecId = Option(meta.get("default-spec-id")).map(_.asInt).getOrElse(0)
    val snapId = snapshotId.getOrElse(meta.get("current-snapshot-id").asLong)
    val snap = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == snapId)
      .getOrElse(sys.error(s"graft iceberg: snapshot $snapId not in snapshot log"))
    TableMeta(schema, ids, specs(defaultSpecId), snap.get("manifest-list").asText, snapId,
      specs, defaultSpecId)
  }

  /** Every record of the Avro container file at `path`, read with
    * `schema` (default: the file's own writer schema). */
  private[sources] def readAvro(path: String, conf: Configuration,
                                schema: Schema = null): List[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](new FsInput(new Path(path), conf),
      new GenericDatumReader[GenericRecord](schema))
    try r.iterator().asScala.toList finally r.close()
  }

  /** The records of a snapshot's manifest list. */
  private[sources] def readListRecords(listPath: String, conf: Configuration): List[GenericRecord] =
    readAvro(listPath, conf, manifestListSchema)

  /** Avro schema of a manifest-list entry (v1 manifest_file, the subset
    * this writer populates; field-ids per spec). */
  def manifestListSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"added_snapshot_id","type":["null","long"],"default":null,"field-id":503},
      |{"name":"added_data_files_count","type":["null","int"],"default":null,"field-id":504},
      |{"name":"existing_data_files_count","type":["null","int"],"default":null,"field-id":505},
      |{"name":"deleted_data_files_count","type":["null","int"],"default":null,"field-id":506},
      |{"name":"partitions","default":null,"field-id":507,"type":["null",
      |  {"type":"array","items":{"type":"record","name":"field_summary","fields":[
      |    {"name":"contains_null","type":"boolean","field-id":509},
      |    {"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
      |    {"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}
      |  ]}}]}
      |]}""".stripMargin)

  /** Avro schema of a manifest entry (v1 manifest_entry wrapping
    * data_file) for the given partition tuple shape. Carries the
    * spec's per-column `lower_bounds`/`upper_bounds` (field-ids
    * 125/128; map<int, binary> encoded the way Iceberg encodes
    * non-string-key maps — an array of key/value records with
    * logicalType "map"): these are the FILE-level pruning index that
    * lets a selective predicate on a NON-partition column skip files,
    * the metadata twin of the reference's parquet row-group stats
    * filtering (apache-impala-4.1.0/be/src/exec/parquet/
    * hdfs-parquet-scanner.cc). */
  def manifestEntrySchema(spec: Seq[PartField], sourceTypes: Map[Int, DataType]): Schema = {
    val pFields = spec.map { p =>
      val t = if (p.isBucket || p.isTemporal) "\"int\"" else sourceTypes(p.sourceId) match {
        case LongType => "\"long\""
        case IntegerType => "\"int\""
        case StringType => "\"string\""
        case DateType => "\"int\"" // identity on date: days since epoch
        case other => sys.error(s"graft iceberg: unsupported partition type $other")
      }
      s"""{"name":"${p.name}","type":["null",$t],"default":null,"field-id":${p.fieldId}}"""
    }.mkString(",")
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int","field-id":0},
         |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |{"name":"data_file","field-id":2,"type":{"type":"record","name":"data_file","fields":[
         |  {"name":"file_path","type":"string","field-id":100},
         |  {"name":"file_format","type":"string","field-id":101},
         |  {"name":"partition","field-id":102,"type":{"type":"record","name":"partition","fields":[$pFields]}},
         |  {"name":"record_count","type":"long","field-id":103},
         |  {"name":"file_size_in_bytes","type":"long","field-id":104},
         |  {"name":"lower_bounds","field-id":125,"default":null,"type":["null",
         |    {"type":"array","logicalType":"map","items":{"type":"record","name":"k126_v127","fields":[
         |      {"name":"key","type":"int","field-id":126},
         |      {"name":"value","type":"bytes","field-id":127}]}}]},
         |  {"name":"upper_bounds","field-id":128,"default":null,"type":["null",
         |    {"type":"array","logicalType":"map","items":{"type":"record","name":"k129_v130","fields":[
         |      {"name":"key","type":"int","field-id":129},
         |      {"name":"value","type":"bytes","field-id":130}]}}]}
         |]}}]}""".stripMargin)
  }
}

object IcebergWrite {
  import IcebergMeta._

  /** Write `df` as an Iceberg v1 table at `tableDir`, partitioned by
    * bucket(nBuckets, bucketCol). Data files are written by Spark's own
    * (vectorized, distributed) parquet writer; the metadata tree is
    * assembled driver-side from the file listing + parquet footers —
    * the same division of labor as Iceberg's Spark writer. One manifest
    * per partition value keeps manifest-list summaries selective. */
  def write(df: DataFrame, tableDir: String, bucketCol: String, nBuckets: Int): Unit =
    write(df, tableDir, bucketCol, s"bucket[$nBuckets]")

  def write(df: DataFrame, tableDir: String, bucketCol: String, nBuckets: Int,
            summary: Map[String, String]): Unit =
    write(df, tableDir, bucketCol, s"bucket[$nBuckets]", summary)

  /** Streaming replay watermark persisted in TABLE PROPERTIES (r16):
    * snapshot summaries are the T18/T22 commit log, but summaries die
    * with their snapshots — S16g expiry keeping the newest K can drop
    * a streaming query's last commit, after which a foreachBatch
    * REPLAY of that query would look like a fresh batch and commit
    * DUPLICATE rows. Table properties live in the CURRENT metadata
    * version (the spec's documented table-scoped key/value map) and
    * survive expiry, so every streaming commit also RAISES
    * `graft.stream.watermark.<queryId>` (monotone max, never
    * lowered) and [[lastSummaryLongForId]] takes the max of the
    * summary scan and the property. */
  private def raiseWatermarkProp(node: ObjectNode, summary: Map[String, String]): Unit =
    for {
      qid <- summary.get("streaming-query-id")
      bid <- summary.get("streaming-batch-id").flatMap(_.toLongOption)
    } {
      val props = node.get("properties") match {
        case o: ObjectNode => o
        case _ => node.putObject("properties")
      }
      val key = s"graft.stream.watermark.$qid"
      val prev = Option(props.get(key)).flatMap(_.asText.toLongOption)
      if (!prev.exists(_ >= bid)) props.put(key, bid.toString)
    }

  /** The add-snapshot edit: snapshot `id` over the manifest list at
    * `listPath`, parent-linked to the tree's current snapshot (none on
    * a new table), becomes current. Its summary is `"operation":
    * "append"` overridden by `summary`'s entries — the spec's summary
    * map is the documented place for commit provenance (the streaming
    * sink stores its batch id here, the same device iceberg-core's
    * Spark sink uses for exactly-once). */
  private def addSnapshot(tree: ObjectNode, id: Long, summary: Map[String, String],
                          listPath: String): Unit = {
    val snap = tree.get("snapshots").asInstanceOf[ArrayNode].addObject()
    snap.put("snapshot-id", id)
    snap.put("timestamp-ms", System.currentTimeMillis())
    Option(tree.get("current-snapshot-id")).foreach(p => snap.put("parent-snapshot-id", p.asLong))
    val sm = snap.putObject("summary").put("operation", "append")
    summary.toSeq.sortBy(_._1).foreach { case (k, v) => sm.put(k, v) }
    snap.put("manifest-list", listPath)
    tree.put("current-snapshot-id", id)
    raiseWatermarkProp(tree, summary)
  }

  /** Commits `rows` as the next snapshot of the table at `base`, whose
    * current snapshot `meta` describes: new data files and one manifest
    * per partition value under the default spec, a manifest list of
    * `carry` plus the new manifests, then the add-snapshot edit. */
  private def commitRows(rows: DataFrame, tableDir: String, base: Version, meta: TableMeta,
                         carry: Seq[GenericRecord], summary: Map[String, String]): Unit = {
    val conf = rows.sparkSession.sparkContext.hadoopConfiguration
    val fs = new Path(tableDir).getFileSystem(conf)
    val snapshotId = meta.snapshotId + 1
    val sourceCol = meta.schema.fieldNames(meta.spec.head.sourceId - 1)
    val manifests = writeDataAndManifests(rows, tableDir,
      if (base.n == 0) "data" else s"data-s$snapshotId",
      sourceCol, meta.spec, snapshotId, meta.fieldIds)
    val listPath = writeManifestList(fs, tableDir, snapshotId, carry, manifests, meta.defaultSpecId)
    commit(tableDir, conf, base)(
      addSnapshot(_, snapshotId, summary, fs.makeQualified(listPath).toString))
  }

  /** A partition field on `sourceCol`, named after it with the
    * transform kind as suffix (none for identity). */
  private def partField(sourceCol: String, transform: String, sourceId: Int,
                        fieldId: Int): PartField = {
    val suffix = transform.takeWhile(_ != '[') match {
      case "identity" => ""
      case kind => "_" + kind
    }
    PartField(s"$sourceCol$suffix", transform, sourceId, fieldId)
  }

  private def partFieldNode(p: PartField): ObjectNode = mapper.createObjectNode()
    .put("name", p.name).put("transform", p.transform)
    .put("source-id", p.sourceId).put("field-id", p.fieldId)

  /** General form: `transform` is any of the spec's value transforms
    * this source supports — "bucket[N]", "truncate[W]", "identity".
    * Identity/truncate on a long or (simple, fs-safe) string column is
    * the common real-world layout (date/tenant partitioning); bucket
    * spreads a high-cardinality key. The new table's tree starts with
    * no snapshot; its first snapshot commits as version 1 through the
    * same step as every append. */
  def write(df: DataFrame, tableDir: String, sourceCol: String, transform: String,
            summary: Map[String, String] = Map.empty): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val root = new Path(tableDir)
    val fs = root.getFileSystem(conf)
    // create-or-replace guard: only replace a directory that IS an
    // Iceberg table we (or iceberg-core) wrote — a metadata dir marks
    // it. Refusing to clobber an arbitrary existing directory keeps a
    // mistyped tableDir from silently destroying unrelated data
    // (ADVICE r6).
    if (fs.exists(root)) {
      require(fs.exists(new Path(tableDir, "metadata")),
        s"graft iceberg: refusing to replace non-Iceberg directory $tableDir " +
          "(no metadata/ marker); delete it explicitly first")
      fs.delete(root, true)
    }
    fs.mkdirs(new Path(tableDir, "metadata"))
    val spec = Seq(partField(sourceCol, transform,
      sourceId = df.schema.fieldIndex(sourceCol) + 1, fieldId = 1000))
    val tree = mapper.createObjectNode()
    tree.put("format-version", 1)
    tree.put("table-uuid", s"graft-${tableDir.hashCode.toHexString}")
    tree.put("location", tableDir)
    tree.put("last-column-id", df.schema.length)
    val fields = tree.putObject("schema").put("type", "struct").putArray("fields")
    df.schema.fields.zipWithIndex.foreach { case (f, i) =>
      fields.addObject().put("id", i + 1).put("name", f.name)
        .put("required", !f.nullable).put("type", toIceberg(f.dataType))
    }
    tree.putArray("partition-spec").add(partFieldNode(spec.head))
    tree.putArray("partition-specs").addObject().put("spec-id", 0)
      .putArray("fields").add(partFieldNode(spec.head))
    tree.put("last-partition-id", spec.head.fieldId)
    tree.put("default-spec-id", 0)
    tree.putObject("properties")
    tree.putArray("snapshots")
    val meta = TableMeta(df.schema, 1 to df.schema.length, spec, manifestList = "",
      snapshotId = 0L, specs = Map(0 -> spec))
    commitRows(df, tableDir, Version(0, tree), meta, carry = Nil, summary)
  }

  /** Append `df` as a NEW snapshot (Iceberg's snapshot-isolation commit):
    * new data files under data-s<id>/, new manifests, a new manifest
    * list carrying the previous snapshot's manifests as `existing` plus
    * the new ones as `added`, and a v<N+1>.metadata.json whose snapshot
    * log keeps every earlier snapshot readable (time travel via the
    * reader's `snapshot_id` option). Readers that loaded vN keep a
    * consistent view — nothing under the old snapshot is touched. */
  def append(df: DataFrame, tableDir: String,
             summary: Map[String, String] = Map.empty): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val base = current(tableDir, conf)
    val meta = tableMeta(base.tree)
    require(df.schema.fieldNames.sameElements(meta.schema.fieldNames),
      s"graft iceberg append: schema mismatch ${df.schema.fieldNames.mkString(",")} vs ${meta.schema.fieldNames.mkString(",")}")
    // previous snapshot's manifest-list entries carry over as-is
    // (their files become `existing` in spirit; the v1 counts fields
    // are advisory — the reader unions all listed manifests). They keep
    // their own partition_spec_id; new manifests get the DEFAULT spec's.
    commitRows(df, tableDir, base, meta, readListRecords(meta.manifestList, conf), summary)
  }

  /** S16h: copy-on-write MERGE (upsert) — the write operation Iceberg
    * users actually run against a living table. Updates REPLACE
    * existing rows sharing their (partition, key) and new keys insert;
    * only the partitions the update batch TOUCHES are rewritten
    * (manifest granularity is one partition value, so untouched
    * partitions' manifests — and therefore their data files — carry
    * into the new snapshot verbatim), and nothing already written is
    * ever mutated: replaced files stay on disk, still referenced by
    * earlier snapshots, so time travel sees the pre-merge table.
    * This is v1 copy-on-write exactly as the reference consumes it —
    * Impala reads Iceberg v1 and THROWS on v2 delete files
    * (IcebergScanNode.java:121-125), so merge-on-read is a non-goal.
    *
    * Scale shape: cost is proportional to the AFFECTED partitions
    * (read them, anti-join the batch, rewrite them), never the table;
    * the affected set is discovered from the batch alone (a 1-column
    * distinct over the update batch).
    *
    * Contract: the merge key is (partition, keyCol) — an update whose
    * partition-source value differs from an existing row with the same
    * keyCol is an INSERT in its own partition, not a cross-partition
    * move (the partition-scoped upsert contract). Tables that have
    * evolved their partition spec must be compacted to the current
    * layout first (every manifest must carry the default spec id). */
  def mergeUpsert(updates: DataFrame, tableDir: String, keyCol: String,
                  summary: Map[String, String] = Map.empty): Unit =
    mergeImpl(updates, None, tableDir, keyCol, summary)

  /** S16l: CDC MERGE — `changes` carries the table schema plus `opCol`
    * ('I'/'U' rows upsert, 'D' rows DELETE their key). Tombstones must
    * be FULL rows (the Debezium before-image convention): the partition
    * value comes from the row itself, so the rewrite stays scoped to
    * the touched partitions without consulting the table — a
    * key-only tombstone would force a full-table key lookup. */
  def mergeCdc(changes: DataFrame, tableDir: String, keyCol: String,
               opCol: String, summary: Map[String, String] = Map.empty): Unit = {
    import org.apache.spark.sql.functions._
    mergeImpl(changes.filter(col(opCol) =!= "D").drop(opCol),
      Some(changes.filter(col(opCol) === "D").drop(opCol)),
      tableDir, keyCol, summary)
  }

  private def mergeImpl(updates: DataFrame, deletes: Option[DataFrame],
                        tableDir: String, keyCol: String,
                        summary: Map[String, String]): Unit = {
    import org.apache.spark.sql.functions._
    val allChanges = deletes.map(updates.unionByName(_)).getOrElse(updates)
    if (allChanges.isEmpty) return // nothing to merge; don't burn a snapshot id
    val spark = updates.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val base = current(tableDir, conf)
    val meta = tableMeta(base.tree)
    require(updates.schema.fieldNames.sameElements(meta.schema.fieldNames),
      s"graft iceberg merge: schema mismatch ${updates.schema.fieldNames.mkString(",")} " +
        s"vs ${meta.schema.fieldNames.mkString(",")}")
    val pf = meta.spec.head
    val sourceCol = meta.schema.fieldNames(pf.sourceId - 1)
    // 1. the affected partition-tuple values, from the batch alone
    //    (updates AND tombstones — compared at the byte level the
    //    manifest summaries store)
    val affectedBytes: Set[Seq[Byte]] = allChanges
      .select(partitionValueColumn(pf, sourceCol).as("_pv"))
      .distinct().collect().map(r => pvBytes(r.get(0)).toSeq).toSet
    // 2. split the current manifest list: one manifest == one partition
    //    value, so a manifest survives verbatim iff its summary bound
    //    is not an affected value
    val prevEntries = readListRecords(meta.manifestList, conf)
    require(prevEntries.forall(
      _.get("partition_spec_id").asInstanceOf[Int] == meta.defaultSpecId),
      "graft iceberg merge: table has manifests under an evolved partition spec — compact first")
    def entryPv(rec: GenericRecord): Seq[Byte] = {
      val parts = rec.get("partitions")
      require(parts != null, "graft iceberg merge: manifest without partition summary")
      val sums = parts.asInstanceOf[java.util.List[GenericRecord]]
      require(!sums.isEmpty, "graft iceberg merge: empty partition summary")
      val bb = sums.get(0).get("lower_bound").asInstanceOf[java.nio.ByteBuffer]
      val b = new Array[Byte](bb.remaining()); bb.duplicate().get(b); b.toSeq
    }
    val (replaced, survivors) = prevEntries.partition(e => affectedBytes.contains(entryPv(e)))
    // 3. current rows of the affected partitions only: the replaced
    //    manifests' live data files, read by field id — after a rename
    //    (S16e) the replaced files still carry the old column names, and
    //    a by-name read would silently null the renamed column in every
    //    surviving row of the rewritten partitions.
    val replacedFiles = replaced.flatMap { rec =>
      readAvro(rec.get("manifest_path").toString, conf).collect {
        case e if e.get("status").asInstanceOf[Int] != 2 =>
          e.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString
      }
    }
    val existing = IcebergRead.readFiles(spark, meta, replacedFiles)
    // 4. partition-local merge: existing rows lose to same-key updates
    //    and to tombstones; tombstoned keys simply don't come back.
    //    Re-select in TABLE column order: the using-column join moves
    //    keyCol to the front of its output and unionByName aligns
    //    `updates` to that order, while writeDataAndManifests stamps
    //    field ids POSITIONALLY from meta.fieldIds — without the
    //    re-select every merge whose key is not already the first
    //    column writes value-swapped files (r13: found by the T30b
    //    hop, whose key `_hoodie_record_key` is column 2).
    val merged = existing
      .join(allChanges.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
      .unionByName(updates)
      .select(meta.schema.fieldNames.map(col).toSeq: _*)
    // 5. new data files + manifests for the affected partitions,
    //    committed as snapshot N+1 alongside the untouched manifests
    commitRows(merged, tableDir, base, meta, survivors, summary + ("operation" -> "overwrite"))
  }

  /** S16j: table COMPACTION (rewrite) — one snapshot that re-lays the
    * whole live dataset under the CURRENT default partition spec: all
    * data read once, rewritten as fresh files/manifests, committed as
    * a `replace` snapshot with NO carried-over manifests. Two jobs in
    * one: small-file compaction (every partition collapses to the
    * writer's natural file count) and spec NORMALIZATION — after
    * partition-spec evolution (S16f) old manifests keep their old
    * layout forever on the append path; compaction is the explicit
    * full-rewrite that moves history's data into the new layout, which
    * is exactly the precondition [[mergeUpsert]] demands. Earlier
    * snapshots keep reading the old files (nothing is deleted here;
    * expireSnapshots reclaims them once history rolls off).
    *
    * Scale note: this is the ONE deliberately table-proportional
    * operation in the Iceberg family — a maintenance job you schedule,
    * not a query-path operation; everything else commits metadata or
    * partition-scoped rewrites. */
  def compact(spark: org.apache.spark.sql.SparkSession, tableDir: String,
              summary: Map[String, String] = Map.empty): Unit = {
    val base = current(tableDir, spark.sparkContext.hadoopConfiguration)
    val rows = spark.read.format("graft.sources.IcebergSource").load(tableDir)
    commitRows(rows, tableDir, base, tableMeta(base.tree), carry = Nil,
      summary + ("operation" -> "replace"))
  }

  /** S16g: snapshot EXPIRY — the retention-maintenance commit every
    * long-lived table needs: unbounded snapshot history means
    * unbounded metadata and undeletable data files. Keeps the newest
    * `keepLast` snapshots (always including the current one, which is
    * the newest by construction), drops the rest from the snapshot
    * log, and deletes exactly the files referenced ONLY by expired
    * snapshots: the referenced-set DIFFERENCE (expired ∖ kept), never
    * a timestamp heuristic — with pure appends every data file of an
    * old snapshot is still listed by the newer manifest lists and is
    * therefore retained; what goes is the expired snapshots' own
    * manifest lists (+ any manifests/data no kept snapshot lists).
    * Time travel to an expired id fails fast; readers of kept
    * snapshots are untouched. Returns the number of expired
    * snapshots. */
  def expireSnapshots(tableDir: String, conf: org.apache.hadoop.conf.Configuration,
                      keepLast: Int): Int = {
    require(keepLast >= 1, s"graft iceberg expire: keepLast must be >= 1 (got $keepLast)")
    val base = current(tableDir, conf)
    val snaps = base.tree.get("snapshots").elements().asScala.toList
    if (snaps.length <= keepLast) return 0
    val (expired, kept) = snaps.splitAt(snaps.length - keepLast)
    // referenced set = manifest list + manifests + data files, per side
    def refs(snapNodes: Seq[JsonNode]): Set[String] = snapNodes.flatMap { s =>
      val listPath = s.get("manifest-list").asText
      val manifests = readListRecords(listPath, conf).map(_.get("manifest_path").toString)
      val data = manifests.flatMap(mp => readAvro(mp, conf).map(e =>
        e.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString))
      listPath +: (manifests ++ data)
    }.toSet
    val doomed = refs(expired) -- refs(kept)
    // COMMIT FIRST, DELETE LAST (the RemoveSnapshots ordering): the
    // trimmed metadata version must be durable before any file it no
    // longer references is removed. A crash after the commit merely
    // leaks unreferenced files (retryable, harmless to readers); the
    // reverse order would leave the still-current metadata pointing at
    // deleted manifest lists — time travel dies with FileNotFound and
    // a re-run of expiry throws reading the already-deleted lists.
    commit(tableDir, conf, base) { tree => tree.putArray("snapshots").addAll(kept.asJava) }
    // best-effort orphan cleanup; paths are stored fully qualified
    val fs = new Path(tableDir).getFileSystem(conf)
    doomed.foreach(p => try fs.delete(new Path(p), false) catch { case _: java.io.IOException => })
    expired.length
  }

  /** Largest long value stored under `key` across the snapshots whose
    * summary carries `idKey` == `idVal` (None if none does, or the
    * table does not exist yet). The exactly-once streaming sink asks
    * this for "streaming-batch-id" before committing: batch ids are
    * monotone, so a replayed micro-batch (id <= max committed) is
    * detected without any external state — the table IS the commit
    * log. Scoped by query id because batch ids restart at 0 for every
    * NEW streaming query, so "batchId <= table max" is only a replay
    * signal WITHIN one query lineage — a fresh query writing to an
    * existing table must not have its first batches silently
    * swallowed by an older query's high-water mark (ADVICE r7).
    * Additionally consults the EXPIRY-PROOF watermark property
    * `graft.stream.watermark.<id>` ([[raiseWatermarkProp]]) when
    * asking for the streaming batch id: S16g retention can drop every
    * snapshot of a lineage, and without the property a replayed batch
    * would look fresh and commit duplicates. */
  def lastSummaryLongForId(tableDir: String, conf: org.apache.hadoop.conf.Configuration,
                           key: String, idKey: String, idVal: String): Option[Long] = {
    if (!exists(tableDir, conf)) return None
    val tree = current(tableDir, conf).tree
    val vals = tree.get("snapshots").elements().asScala.flatMap { s =>
      Option(s.get("summary")).flatMap { sm =>
        if (Option(sm.get(idKey)).exists(_.asText == idVal))
          Option(sm.get(key)).map(_.asText.toLong)
        else None
      }
    }.toSeq
    val prop =
      if (key == "streaming-batch-id" && idKey == "streaming-query-id")
        Option(tree.get("properties"))
          .flatMap(p => Option(p.get(s"graft.stream.watermark.$idVal")))
          .flatMap(_.asText.toLongOption)
      else None
    val all = vals ++ prop
    if (all.isEmpty) None else Some(all.max)
  }

  /** Column RENAME — schema evolution as a pure metadata commit per
    * the spec: the field keeps its id, only the name in the current
    * schema changes, and NO data file is touched. Existing files keep
    * the old column name in their parquet schema; readers resolve it
    * through the field-id the files carry (the whole point of ids —
    * name-based resolution would either miss the column or, worse,
    * resurrect a dropped-then-re-added name). Readers that loaded the
    * previous metadata version keep their consistent view. */
  def renameColumn(spark: org.apache.spark.sql.SparkSession, tableDir: String,
                   oldName: String, newName: String): Unit =
    evolveSchema(spark, tableDir) { node =>
      val fields = node.get("schema").get("fields").elements().asScala.toSeq
      val names = fields.map(_.get("name").asText)
      require(names.contains(oldName), s"graft iceberg rename: no column $oldName (have $names)")
      require(!names.contains(newName), s"graft iceberg rename: $newName already exists")
      fields.foreach {
        case f: ObjectNode if f.get("name").asText == oldName => f.put("name", newName)
        case _ =>
      }
    }

  /** Column ADD — appends an optional field under a NEVER-reused id
    * (last-column-id + 1, which the commit also bumps). Existing data
    * files simply lack the id, so readers surface NULL for old rows —
    * no rewrite, no backfill. */
  def addColumn(spark: org.apache.spark.sql.SparkSession, tableDir: String,
                name: String, icebergType: String): Unit =
    evolveSchema(spark, tableDir) { node =>
      val fields = node.get("schema").get("fields").asInstanceOf[ArrayNode]
      require(!fields.elements().asScala.exists(_.get("name").asText == name),
        s"graft iceberg add: column $name already exists")
      val id = node.get("last-column-id").asInt + 1
      node.put("last-column-id", id)
      fields.addObject().put("id", id).put("name", name)
        .put("required", false).put("type", icebergType)
    }

  /** PARTITION-SPEC evolution — re-layout the table going forward as a
    * pure metadata commit: a new spec (next spec-id, fresh partition
    * field-id) becomes the default for FUTURE writes, while every
    * existing manifest keeps its own spec-id and is pruned under the
    * layout it was actually written with. No data file moves — the
    * 100 TB difference between "repartition the table" (a full rewrite)
    * and "new data lands in the new layout". Probes on the old layout's
    * source column still prune old manifests; probes on the new one
    * prune new manifests; either way unprunable manifests are scanned,
    * never dropped, so results stay exact. */
  def evolveSpec(spark: org.apache.spark.sql.SparkSession, tableDir: String,
                 sourceCol: String, transform: String): Unit =
    evolveSchema(spark, tableDir) { node =>
      val names = node.get("schema").get("fields").elements().asScala
        .map(_.get("name").asText).toIndexedSeq
      require(names.contains(sourceCol),
        s"graft iceberg evolveSpec: no column $sourceCol (have $names)")
      // ensure the spec-id-keyed list exists (tables created before
      // spec evolution carry only the legacy single "partition-spec")
      if (node.get("partition-specs") == null) {
        val legacy = node.get("partition-spec")
        node.putArray("partition-specs").addObject().put("spec-id", 0)
          .set[JsonNode]("fields", legacy.deepCopy[JsonNode]())
        node.put("last-partition-id", legacy.elements().asScala.map(_.get("field-id").asInt).max)
      }
      val specsNode = node.get("partition-specs").asInstanceOf[ArrayNode]
      val specId = specsNode.elements().asScala.map(_.get("spec-id").asInt).max + 1
      val pid = node.get("last-partition-id").asInt + 1
      node.put("last-partition-id", pid)
      val field = partField(sourceCol, transform, names.indexOf(sourceCol) + 1, pid)
      specsNode.addObject().put("spec-id", specId).putArray("fields").add(partFieldNode(field))
      node.put("default-spec-id", specId)
      // keep the legacy field in sync for pre-evolution readers
      node.putArray("partition-spec").add(partFieldNode(field))
    }

  /** Commits a pure metadata edit on the current version. Snapshots
    * and manifests are untouched — that is what makes schema and spec
    * evolution O(1) at any table size. */
  private def evolveSchema(spark: org.apache.spark.sql.SparkSession, tableDir: String)(
      edit: ObjectNode => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    commit(tableDir, conf, current(tableDir, conf))(edit)
  }

  /** The partition-tuple value of a row under `pf`, as the Catalyst
    * column the write path partitions by (shared by write/append and
    * mergeUpsert so both sides of a merge compute the SAME layout). */
  private def partitionValueColumn(pf: PartField, sourceCol: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    pf.transform match {
      case _ if pf.isBucket => call_function("iceberg_bucket", col(sourceCol), lit(pf.param))
      case _ if pf.isTruncate =>
        call_function("iceberg_truncate", col(sourceCol), lit(pf.param.toLong))
      // spec temporal transforms: int offsets from the 1970 epoch
      case "year" => (year(col(sourceCol)) - lit(1970)).cast("int")
      case "month" =>
        ((year(col(sourceCol)) - lit(1970)) * lit(12) + month(col(sourceCol)) - lit(1)).cast("int")
      case "day" => datediff(col(sourceCol), to_date(lit("1970-01-01"))).cast("int")
      // hours since epoch; CAST(ts AS LONG) is epoch seconds, floor
      // keeps pre-1970 values spec-correct
      case "hour" => floor(col(sourceCol).cast("long") / lit(3600)).cast("int")
      case _ => col(sourceCol) // identity
    }
  }

  /** Spark-parquet write partitioned by the transform value + one Avro
    * manifest per partition value. Returns (manifestPath, pv, nFiles). */
  private def writeDataAndManifests(df: DataFrame, tableDir: String, dataSubdir: String,
      sourceCol: String, spec: Seq[PartField],
      snapshotId: Long, fieldIds: Seq[Int]): Seq[(Path, Any, Int)] = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(tableDir).getFileSystem(conf)
    require(df.filter(org.apache.spark.sql.functions.col(sourceCol).isNull).isEmpty,
      s"graft iceberg: null in partition source column $sourceCol")
    val pf = spec.head
    // data files: Spark parquet write partitioned by the TRANSFORMED
    // value, materialized as a `_pv` copy so partitionBy drops only
    // the copy — the source column itself stays in every data file
    // regardless of transform (for identity too, where pv == source).
    import org.apache.spark.sql.functions._
    val pvCol = partitionValueColumn(pf, sourceCol)
    // The spec REQUIRES data files to carry the table schema's
    // field-ids in the parquet metadata — that is the indirection that
    // makes column rename/add evolution a pure metadata commit.
    // Spark's writer emits them from `parquet.field.id` field metadata
    // when fieldId.write is enabled.
    import org.apache.spark.sql.types.MetadataBuilder
    val withIds = df.select(df.schema.fields.zip(fieldIds).map { case (f, id) =>
      col(f.name).as(f.name,
        new MetadataBuilder().putLong("parquet.field.id", id.toLong).build())
    }.toIndexedSeq: _*)
    // The spec REQUIRES int64 micros for timestamps (INT96 is not a
    // legal Iceberg physical type); Spark 4 still defaults to INT96,
    // so pin the writer conf for this write and restore after.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val idKey = "spark.sql.parquet.fieldId.write.enabled"
    val prevTs = spark.conf.getOption(tsKey)
    val prevId = spark.conf.getOption(idKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    spark.conf.set(idKey, "true")
    try withIds.withColumn("_pv", pvCol)
      .write.partitionBy("_pv").parquet(s"$tableDir/$dataSubdir")
    finally {
      prevTs match {
        case Some(v) => spark.conf.set(tsKey, v)
        case None => spark.conf.unset(tsKey)
      }
      prevId match {
        case Some(v) => spark.conf.set(idKey, v)
        case None => spark.conf.unset(idKey)
      }
    }
    val srcType = df.schema(sourceCol).dataType
    val srcTypes = Map(pf.sourceId -> srcType)
    val entrySchema = manifestEntrySchema(spec, srcTypes)
    // directory name -> typed partition value (int for bucket; the
    // source type for truncate/identity)
    def parsePv(s: String): Any =
      if (pf.isBucket || pf.isTemporal) s.toInt
      else srcType match {
        case LongType => s.toLong
        case IntegerType => s.toInt
        case StringType => s
        case DateType => java.time.LocalDate.parse(s).toEpochDay.toInt
        case other => sys.error(s"graft iceberg: unsupported partition type $other")
      }
    val partDirs = fs.listStatus(new Path(s"$tableDir/$dataSubdir"))
      .filter(_.isDirectory).sortBy(_.getPath.getName)
    partDirs.toSeq.map { d =>
      val pv = parsePv(d.getPath.getName.stripPrefix("_pv="))
      val files = fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet"))
      val mPath = new Path(tableDir, s"metadata/manifest-s$snapshotId-$pv.avro")
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](entrySchema))
      w.create(entrySchema, fs.create(mPath, true))
      files.foreach { f =>
        val footer = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
        val (nRows, blocks) =
          try (footer.getRecordCount, footer.getFooter.getBlocks.asScala.toSeq)
          finally footer.close()
        val part = new GenericData.Record(entrySchema.getField("data_file").schema()
          .getField("partition").schema())
        part.put(0, pv)
        val dfSchema = entrySchema.getField("data_file").schema()
        val dataFile = new GenericData.Record(dfSchema)
        dataFile.put("file_path", f.getPath.toString)
        dataFile.put("file_format", "PARQUET")
        dataFile.put("partition", part)
        dataFile.put("record_count", nRows)
        dataFile.put("file_size_in_bytes", f.getLen)
        // per-column lower/upper bounds from the parquet footer's
        // row-group statistics (min of mins / max of maxes),
        // Appendix-D-serialized and keyed by table field-id — the
        // file-skipping index planFiles prunes on for non-partition
        // predicates. Columns without usable stats (arrays, nulls-only,
        // stats dropped by the writer) are simply absent.
        def kvList(unionField: String, bounds: Seq[(Int, Array[Byte])]): java.util.List[GenericRecord] = {
          val elemSchema = dfSchema.getField(unionField).schema().getTypes.get(1).getElementType
          val l = new java.util.ArrayList[GenericRecord](bounds.length)
          bounds.foreach { case (id, b) =>
            val kv = new GenericData.Record(elemSchema)
            kv.put("key", id)
            kv.put("value", java.nio.ByteBuffer.wrap(b))
            l.add(kv)
          }
          l
        }
        val colBounds = df.schema.fields.zip(fieldIds).flatMap { case (fld, id) =>
          columnStatBounds(blocks, fld.name, fld.dataType).map(bp => (id, bp))
        }.toSeq
        if (colBounds.nonEmpty) {
          dataFile.put("lower_bounds", kvList("lower_bounds", colBounds.map { case (id, (lo, _)) => (id, lo) }))
          dataFile.put("upper_bounds", kvList("upper_bounds", colBounds.map { case (id, (_, hi)) => (id, hi) }))
        }
        val entry = new GenericData.Record(entrySchema)
        entry.put("status", 1) // ADDED
        entry.put("snapshot_id", snapshotId)
        entry.put("data_file", dataFile)
        w.append(entry)
      }
      w.close()
      (mPath, pv, files.length)
    }
  }

  /** (lower, upper) Appendix-D bytes for one table column across a
    * file's row groups — min of row-group mins / max of maxes. None
    * when any row group lacks a usable statistic for the column (the
    * safe answer: a file without bounds is never pruned). Types match
    * the parquet physical stats our own writer produces: int32 for
    * int/date, int64 for long/timestamp-micros, IEEE bits for
    * float/double, UTF-8 binary for string. */
  private def columnStatBounds(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      name: String, dt: DataType): Option[(Array[Byte], Array[Byte])] = {
    val stats = blocks.map(_.getColumns.asScala
      .find(_.getPath.toDotString == name).map(_.getStatistics).orNull)
    if (stats.isEmpty ||
        stats.exists(s => s == null || s.isEmpty || !s.hasNonNullValue)) return None
    def le(n: Int)(fill: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      fill(bb); bb.array()
    }
    dt match {
      case LongType | TimestampType =>
        val vs = stats.map(s => (s.genericGetMin.asInstanceOf[java.lang.Long].longValue,
          s.genericGetMax.asInstanceOf[java.lang.Long].longValue))
        Some((longToBytes(vs.map(_._1).min), longToBytes(vs.map(_._2).max)))
      case IntegerType | DateType =>
        val vs = stats.map(s => (s.genericGetMin.asInstanceOf[java.lang.Integer].intValue,
          s.genericGetMax.asInstanceOf[java.lang.Integer].intValue))
        Some((intToBytes(vs.map(_._1).min), intToBytes(vs.map(_._2).max)))
      case DoubleType =>
        val vs = stats.map(s => (s.genericGetMin.asInstanceOf[java.lang.Double].doubleValue,
          s.genericGetMax.asInstanceOf[java.lang.Double].doubleValue))
        Some((le(8)(_.putDouble(vs.map(_._1).min)), le(8)(_.putDouble(vs.map(_._2).max))))
      case FloatType =>
        val vs = stats.map(s => (s.genericGetMin.asInstanceOf[java.lang.Float].floatValue,
          s.genericGetMax.asInstanceOf[java.lang.Float].floatValue))
        Some((le(4)(_.putFloat(vs.map(_._1).min)), le(4)(_.putFloat(vs.map(_._2).max))))
      case StringType =>
        val vs = stats.map { s =>
          (s.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
            s.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
        }
        val lo = vs.map(_._1).reduce((a, b) => if (util.Arrays.compareUnsigned(a, b) <= 0) a else b)
        val hi = vs.map(_._2).reduce((a, b) => if (util.Arrays.compareUnsigned(a, b) >= 0) a else b)
        Some((lo, hi))
      case _ => None
    }
  }

  /** Single-value binary per the spec's Appendix D (int/long LE,
    * string UTF-8). */
  private def pvBytes(pv: Any): Array[Byte] = pv match {
    case i: Int => intToBytes(i)
    case l: Long => longToBytes(l)
    case s: String => s.getBytes("UTF-8")
    case other => sys.error(s"graft iceberg: unsupported partition value $other")
  }

  /** Manifest list = carried-over records from the parent snapshot +
    * one record per new manifest, each with field_summary bounds (the
    * level-1 pruning index). */
  private def writeManifestList(fs: FileSystem, tableDir: String, snapshotId: Long,
      carryOver: Seq[GenericRecord], added: Seq[(Path, Any, Int)],
      specId: Int = 0): Path = {
    val listSchema = manifestListSchema
    val listPath = new Path(tableDir, s"metadata/snap-$snapshotId.avro")
    val lw = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](listSchema))
    lw.create(listSchema, fs.create(listPath, true))
    carryOver.foreach(lw.append)
    added.foreach { case (mPath, pv, nFiles) =>
      val sum = new GenericData.Record(
        listSchema.getField("partitions").schema().getTypes.get(1).getElementType)
      sum.put("contains_null", false)
      sum.put("lower_bound", java.nio.ByteBuffer.wrap(pvBytes(pv)))
      sum.put("upper_bound", java.nio.ByteBuffer.wrap(pvBytes(pv)))
      val rec = new GenericData.Record(listSchema)
      rec.put("manifest_path", fs.makeQualified(mPath).toString)
      rec.put("manifest_length", fs.getFileStatus(mPath).getLen)
      rec.put("partition_spec_id", specId)
      rec.put("added_snapshot_id", snapshotId)
      rec.put("added_data_files_count", nFiles)
      rec.put("existing_data_files_count", 0)
      rec.put("deleted_data_files_count", 0)
      rec.put("partitions", util.Arrays.asList(sum))
      lw.append(rec)
    }
    lw.close()
    listPath
  }
}

object IcebergRead {
  import IcebergMeta._

  case class DataFileEntry(path: String, recordCount: Long)

  /** Inclusive range probe on ANY table column, served by the
    * data_file `lower_bounds`/`upper_bounds` maps: a file is skipped
    * when its stored bounds prove the range can't match. Equality is
    * `ColRange(c, Some(v), Some(v))`. This is the file-level
    * counterpart of the reference's parquet row-group min/max skipping
    * (apache-impala-4.1.0/be/src/exec/parquet/hdfs-parquet-scanner.cc)
    * — the one metadata level partition summaries can't cover: a
    * selective predicate on a NON-partition column. */
  case class ColRange(colName: String, lo: Option[Any], hi: Option[Any])

  /** The two-level pruned data-file list for an optional equality
    * predicate on a partition source column. This is THE Iceberg scan
    * plan: everything after it is plain parquet reading. */
  def planFiles(tableDir: String, conf: Configuration, eq: Option[(String, Any)],
                snapshotId: Option[Long] = None,
                ranges: Seq[ColRange] = Nil): Seq[DataFileEntry] =
    planFiles(load(tableDir, conf, snapshotId), conf, eq, ranges)

  /** [[planFiles]] over an already-loaded snapshot's metadata. */
  private[sources] def planFiles(meta: TableMeta, conf: Configuration, eq: Option[(String, Any)],
                                 ranges: Seq[ColRange]): Seq[DataFileEntry] = {
    // predicate -> expected partition tuple value, via the transform.
    // Computed PER SPEC: after partition-spec evolution each manifest
    // is pruned under the layout it was written with; a spec that does
    // not partition on the probe column yields None there (its
    // manifests are scanned, not dropped — correctness over pruning).
    import graft.functions.IcebergImpl
    def wantFor(spec: Seq[PartField]): Option[(PartField, Any)] =
      eq.flatMap { case (colName, value) =>
      spec.find(p => meta.schema.fieldNames(p.sourceId - 1) == colName).map { p =>
        val pv: Any =
          if (p.isBucket) value match {
            case l: Long => IcebergImpl.bucketLong(l, p.param)
            case i: Int => IcebergImpl.bucketLong(i.toLong, p.param)
            case s: String => IcebergImpl.bucketString(UTF8String.fromString(s), p.param)
            case other => sys.error(s"graft iceberg: unsupported bucket probe $other")
          } else if (p.isTruncate) value match {
            case l: Long => IcebergImpl.truncateLong(l, p.param.toLong)
            case i: Int => IcebergImpl.truncateLong(i.toLong, p.param.toLong)
            case s: String => IcebergImpl.truncateString(
              UTF8String.fromString(s), p.param).toString
            case other => sys.error(s"graft iceberg: unsupported truncate probe $other")
          } else if (p.transform == "hour") {
            val secs = value match {
              case t: java.sql.Timestamp => Math.floorDiv(t.getTime, 1000L)
              case i: java.time.Instant => i.getEpochSecond
              case other => sys.error(s"graft iceberg: hour probe needs a timestamp, got $other")
            }
            Math.floorDiv(secs, 3600L).toInt
          } else if (p.isTemporal) {
            val ld = value match {
              case d: java.sql.Date => d.toLocalDate
              case d: java.time.LocalDate => d
              case other => sys.error(s"graft iceberg: temporal probe needs a date, got $other")
            }
            p.transform match {
              case "year" => ld.getYear - 1970
              case "month" => (ld.getYear - 1970) * 12 + ld.getMonthValue - 1
              case "day" => ld.toEpochDay.toInt
            }
          } else value match { // identity
            case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
            case d: java.time.LocalDate => d.toEpochDay.toInt
            case v => v
          }
        (p, pv)
      }
    }
    // one want per spec-id the table has ever had
    val wantBySpec: Map[Int, Option[(PartField, Any)]] =
      meta.specs.map { case (id, s) => id -> wantFor(s) }
    val manifestPaths = readListRecords(meta.manifestList, conf).filter { m =>
      val want = wantBySpec.getOrElse(
        m.get("partition_spec_id").asInstanceOf[Int], wantFor(meta.spec))
      // level-1 prune: field_summary bounds of the first (only)
      // partition field. Bounds are decoded by their STORED byte
      // length (4 -> int, 8 -> long), never by the probe value's
      // runtime class: an Int probe against 8-byte bounds (identity/
      // truncate on a bigint column via the direct planFiles API)
      // would otherwise compare only the low 4 LE bytes and silently
      // false-prune; the inverse mismatch threw BufferUnderflow.
      // Unknown widths (string bounds) skip the range compare —
      // pruning falls through to the per-file tuple check.
      def boundVal(b: Array[Byte]): Option[Long] = b.length match {
        case 4 => Some(bytesToInt(b).toLong)
        case 8 => Some(bytesToLong(b))
        case _ => None
      }
      def mkCheck(p: Long): (Array[Byte], Array[Byte]) => Boolean =
        (lo, hi) => boundVal(lo).forall(_ <= p) && boundVal(hi).forall(_ >= p)
      val checkBounds: Option[(Array[Byte], Array[Byte]) => Boolean] = want.flatMap {
        case (_, pv: Int) => Some(mkCheck(pv.toLong))
        case (_, pv: Long) => Some(mkCheck(pv))
        case _ => None
      }
      checkBounds.forall { check =>
        val parts = m.get("partitions")
        parts == null || {
          val sums = parts.asInstanceOf[java.util.List[GenericRecord]]
          sums.isEmpty || {
            val s = sums.get(0)
            (Option(s.get("lower_bound")), Option(s.get("upper_bound"))) match {
              case (Some(lo), Some(hi)) => check(toBytes(lo), toBytes(hi))
              case _ => true
            }
          }
        }
      }
    }.map(m => (m.get("manifest_path").toString,
      m.get("partition_spec_id").asInstanceOf[Int]))
    manifestPaths.flatMap { case (mp, specId) =>
      val want = wantBySpec.getOrElse(specId, wantFor(meta.spec))
      readAvro(mp, conf).flatMap { e =>
        if (e.get("status").asInstanceOf[Int] == 2) None // DELETED
        else {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val keep = want.forall { case (pf, pv) =>
            val tuple = df.get("partition").asInstanceOf[GenericRecord]
            val actual = if (tuple.getSchema.getField(pf.name) == null) null
                         else tuple.get(pf.name)
            actual == null || normalize(actual) == normalize(pv)
          } && ranges.forall(r => fileAdmits(df, r, meta.schema, meta.fieldIds))
          if (keep) Some(DataFileEntry(df.get("file_path").toString,
            df.get("record_count").asInstanceOf[Long]))
          else None
        }
      }
    }
  }

  private def toBytes(v: Any): Array[Byte] = v match {
    case bb: java.nio.ByteBuffer =>
      val b = new Array[Byte](bb.remaining()); bb.duplicate().get(b); b
    case a: Array[Byte] => a
  }

  /** Decode an Appendix-D bound into its comparable form (integer
    * family → Long, float family → Double, string → String) by the
    * TABLE column's type — never by the probe's runtime class (the
    * same false-prune trap the partition-summary decoder documents). */
  private def decodeBound(b: Array[Byte], dt: DataType): Option[Any] = dt match {
    case LongType | TimestampType if b.length == 8 => Some(bytesToLong(b))
    case IntegerType | DateType if b.length == 4 => Some(bytesToInt(b).toLong)
    case DoubleType if b.length == 8 =>
      Some(java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getDouble)
    case FloatType if b.length == 4 =>
      Some(java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getFloat.toDouble)
    case StringType => Some(new String(b, "UTF-8"))
    case _ => None
  }

  /** Normalize a probe value into the same comparable form; None means
    * "can't compare safely" and the file is kept. */
  private def probeVal(v: Any, dt: DataType): Option[Any] = dt match {
    case LongType => v match {
      case l: Long => Some(l); case i: Int => Some(i.toLong); case _ => None
    }
    case IntegerType => v match {
      case i: Int => Some(i.toLong); case l: Long => Some(l); case _ => None
    }
    case DateType => v match {
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate => Some(d.toEpochDay)
      case _ => None
    }
    case TimestampType => v match {
      case t: java.sql.Timestamp =>
        Some(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
      case i: java.time.Instant => Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
      case _ => None
    }
    case DoubleType | FloatType => v match {
      case d: Double => Some(d); case f: Float => Some(f.toDouble)
      case i: Int => Some(i.toDouble); case l: Long => Some(l.toDouble); case _ => None
    }
    case StringType => v match { case s: String => Some(s); case _ => None }
    case _ => None
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case _ => 0 // incomparable: treated as "can't prune"
  }

  /** True unless the file's stored column bounds PROVE the range can't
    * match. Files without bounds (old manifests, unstatted columns)
    * are always kept — pruning is an optimization, never a filter. */
  private def fileAdmits(dfRec: GenericRecord, r: ColRange,
                         schema: StructType, fieldIds: Seq[Int]): Boolean = {
    val idx = schema.fieldNames.indexOf(r.colName)
    if (idx < 0) return true
    val dt = schema.fields(idx).dataType
    val id = fieldIds(idx)
    def bound(field: String): Option[Any] =
      Option(dfRec.get(field)).flatMap { l =>
        l.asInstanceOf[java.util.List[GenericRecord]].asScala
          .find(_.get("key").asInstanceOf[java.lang.Integer].intValue == id)
          .flatMap(kv => decodeBound(toBytes(kv.get("value")), dt))
      }
    lazy val fileLo = bound("lower_bounds")
    lazy val fileHi = bound("upper_bounds")
    val loOk = (for { p <- r.lo.flatMap(probeVal(_, dt)); fh <- fileHi }
      yield cmp(fh, p) >= 0).getOrElse(true)
    val hiOk = (for { p <- r.hi.flatMap(probeVal(_, dt)); fl <- fileLo }
      yield cmp(fl, p) <= 0).getOrElse(true)
    loOk && hiOk
  }

  private def normalize(v: Any): Any = v match {
    case u: org.apache.avro.util.Utf8 => u.toString
    case i: java.lang.Integer => i.longValue()
    case l: java.lang.Long => l.longValue()
    case other => other
  }

  /** The vectorized-exec path: pruned file list handed to Spark's own
    * parquet scan (whole-stage codegen, column pruning, row-group
    * pushdown all apply). Prefer this in query plans; the DSv2 Group
    * reader below is the self-contained format-conformance path. */
  def toDataFrame(spark: org.apache.spark.sql.SparkSession, tableDir: String,
                  eq: Option[(String, Any)] = None,
                  snapshotId: Option[Long] = None,
                  ranges: Seq[ColRange] = Nil): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = load(tableDir, conf, snapshotId)
    val files = planFiles(meta, conf, eq, ranges)
    // an unpredicated scan of a healthy table always has files; a
    // predicated one may legitimately prune to zero (empty result)
    require(files.nonEmpty || eq.nonEmpty || ranges.nonEmpty,
      s"graft iceberg: no data files at $tableDir")
    readFiles(spark, meta, files.map(_.path))
  }

  /** Reads data files with the table's CURRENT schema carrying each
    * field's id as `parquet.field.id` metadata, and field-id resolution
    * enabled: Spark then matches parquet columns by id, not name —
    * which is what makes renamed columns resolve in pre-rename data
    * files and added columns surface as NULL. (The conf only changes
    * behavior for requested fields that CARRY an id, so leaving it set
    * is inert for every other parquet read in the session.) No files:
    * an empty DataFrame of the schema. */
  private[sources] def readFiles(spark: org.apache.spark.sql.SparkSession, meta: TableMeta,
                                 files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], meta.schema)
    else {
      val withIds = StructType(meta.schema.fields.zip(meta.fieldIds).map { case (f, id) =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong("parquet.field.id", id.toLong).build())
      })
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      spark.read.schema(withIds).parquet(files: _*)
    }

  /** Snapshot ids in (fromId, toId] in commit order — the T25 admission
    * control's unit of batching. Commit order is the metadata file's
    * snapshot-log order; ids from [[IcebergWrite]] are monotone, so the
    * sort is a no-op for our own tables and a safety net for foreign
    * writers. One metadata-json read; no manifest I/O. A missing
    * version hint throws `FileNotFoundException`. */
  def snapshotIdsInRange(tableDir: String, conf: Configuration,
                         fromId: Long, toId: Long): Seq[Long] = {
    if (fromId >= toId) return Nil
    current(tableDir, conf).tree.get("snapshots").elements().asScala
      .map(_.get("snapshot-id").asLong)
      .filter(id => id > fromId && id <= toId).toSeq.sorted
  }

  /** The data files ADDED in snapshot range (fromId, toId] — shared by
    * [[incrementalRead]] and the streaming source. Enforces the
    * append-only range contract; fromId 0 means "from before the first
    * snapshot" (everything at toId is added). */
  def incrementalFilePaths(tableDir: String, conf: Configuration,
                           fromId: Long, toId: Long): Seq[String] = {
    require(fromId <= toId,
      s"graft iceberg incremental: fromId $fromId > toId $toId")
    if (fromId == toId) return Nil
    val tree = current(tableDir, conf).tree
    val inRange = tree.get("snapshots").elements().asScala.toList
      .filter(s => s.get("snapshot-id").asLong > fromId && s.get("snapshot-id").asLong <= toId)
    require(inRange.nonEmpty,
      s"graft iceberg incremental: no snapshots in ($fromId, $toId] at $tableDir")
    inRange.foreach { s =>
      // Fail fast on a summary-less snapshot rather than assuming append:
      // an EXTERNAL writer's overwrite/replace without a summary would
      // otherwise pass the check and replay surviving rewritten rows as
      // newly added rows (silent duplication). Our writer always stamps
      // `operation`, so this only rejects foreign, unprovable snapshots.
      val op = Option(s.get("summary")).flatMap(sm => Option(sm.get("operation")))
        .map(_.asText)
      require(op.contains("append"), "graft iceberg incremental: snapshot " +
        s"${s.get("snapshot-id").asLong} is '${op.getOrElse("<no summary.operation>")}' — " +
        "the file diff only means 'added rows' across explicit appends; " +
        "consume replaces/overwrites (or unlabeled snapshots) via a full read")
    }
    def files(id: Long): Seq[String] =
      planFiles(tableMeta(tree, Some(id)), conf, None, Nil).map(_.path)
    val fromFiles = if (fromId == 0L) Set.empty[String] else files(fromId).toSet
    files(toId).filterNot(fromFiles.contains)
  }

  /** S16m: INCREMENTAL (changelog) read — the rows ADDED between two
    * snapshots (`fromId` exclusive, `toId` inclusive), the primitive a
    * downstream batch pipeline uses to consume only what arrived since
    * its last run instead of rescanning 100 TB. File-level diff:
    * data files referenced at `toId` but not at `fromId`; with the
    * append-only contract in [[incrementalFilePaths]], those files
    * contain exactly the added rows. Every snapshot in the range must
    * be an `append` — a replace/overwrite rewrites surviving rows into
    * NEW files, so the file diff would replay old rows as if added
    * (Iceberg's own incremental scan enforces the same restriction);
    * violating snapshots fail fast. Reads go through the
    * field-id-resolved vectorized path like [[toDataFrame]], so schema
    * evolution between the snapshots resolves per file. */
  def incrementalRead(spark: org.apache.spark.sql.SparkSession, tableDir: String,
                      fromId: Long, toId: Long): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = load(tableDir, conf, if (toId > 0) Some(toId) else None)
    readFiles(spark, meta, incrementalFilePaths(tableDir, conf, fromId, toId))
  }
}

/** DSv2 entry point: `spark.read.format("graft.sources.IcebergSource")
  * .load(tableDir)`. Column pruning reaches the parquet projection;
  * an EqualTo on the partition source column prunes files (and is left
  * in the residual for row-level evaluation). */
class IcebergSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    require(path != null, "graft.sources.IcebergSource requires .load(tableDir)")
    IcebergMeta.load(path,
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new IcebergDsv2Table(properties.get("path"), schema,
      Option(properties.get("snapshot_id")).map(_.toLong))
}

class IcebergDsv2Table(path: String, schema: StructType, snapshotId: Option[Long])
    extends Table with SupportsRead {
  override def name(): String = s"graft-iceberg($path)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IcebergScanBuilder(path, schema, snapshotId,
      Option(options.get("maxSnapshotsPerTrigger")).map(_.toInt))
}

/** Resolves the table's metadata once, on first use, for everything
  * this builder plans: filter pushdown, the file plan and the reader
  * factory. A new builder — one per query action — reads the version
  * current then; the [[IcebergDsv2Table]] caches nothing, so a
  * DataFrame loaded before a commit sees that commit on its next
  * action. */
class IcebergScanBuilder(path: String, fullSchema: StructType, snapshotId: Option[Long],
                         maxSnapshotsPerTrigger: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  private var pruneEq: Option[(String, Any)] = None
  private var ranges: Seq[IcebergRead.ColRange] = Nil
  private var pruned: Array[Filter] = Array.empty
  private lazy val meta = IcebergMeta.load(path,
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration, snapshotId)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // union over ALL specs: after spec evolution a probe on either the
    // old or the new layout's source column prunes that layout's
    // manifests (planFiles keys the check by each manifest's spec-id)
    val sourceCols = meta.specs.values.flatten
      .map(p => meta.schema.fieldNames(p.sourceId - 1)).toSet
    pruneEq = filters.collectFirst {
      case EqualTo(a, v) if sourceCols.contains(a) => (a, v)
    }
    // equality/range predicates on ANY table column become file-level
    // bounds probes (data_file lower/upper bounds) — exclusive bounds
    // are relaxed to inclusive, which only keeps extra files (the
    // residual row filter removes their rows)
    val cols = meta.schema.fieldNames.toSet
    ranges = filters.toSeq.collect {
      case EqualTo(a, v) if cols(a) =>
        IcebergRead.ColRange(a, Some(v), Some(v))
      case org.apache.spark.sql.sources.GreaterThan(a, v) if cols(a) =>
        IcebergRead.ColRange(a, Some(v), None)
      case org.apache.spark.sql.sources.GreaterThanOrEqual(a, v) if cols(a) =>
        IcebergRead.ColRange(a, Some(v), None)
      case org.apache.spark.sql.sources.LessThan(a, v) if cols(a) =>
        IcebergRead.ColRange(a, None, Some(v))
      case org.apache.spark.sql.sources.LessThanOrEqual(a, v) if cols(a) =>
        IcebergRead.ColRange(a, None, Some(v))
    }
    pruned = filters.filter {
      case EqualTo(a, _) => sourceCols.contains(a) || cols(a)
      case org.apache.spark.sql.sources.GreaterThan(a, _) => cols(a)
      case org.apache.spark.sql.sources.GreaterThanOrEqual(a, _) => cols(a)
      case org.apache.spark.sql.sources.LessThan(a, _) => cols(a)
      case org.apache.spark.sql.sources.LessThanOrEqual(a, _) => cols(a)
      case _ => false
    }
    filters // pruning is file-level only: every filter stays residual
  }
  override def pushedFilters(): Array[Filter] = pruned

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new IcebergScan(path, meta, required, pruneEq, snapshotId, ranges, maxSnapshotsPerTrigger)
}

class IcebergScan(path: String, meta: IcebergMeta.TableMeta, required: StructType,
                  eq: Option[(String, Any)], snapshotId: Option[Long],
                  ranges: Seq[IcebergRead.ColRange], maxSnapshotsPerTrigger: Option[Int])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-iceberg $path snap=${snapshotId.getOrElse("current")} pruneEq=$eq " +
      s"boundsPrune=${ranges.mkString(",")} cols=${required.fieldNames.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] =
    IcebergRead.planFiles(meta,
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration, eq, ranges)
      .map(f => IcebergInputPartition(f.path): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    IcebergReaderFactory(meta, required)

  /** T25: the table as a STREAMING SOURCE — one micro-batch per
    * committed snapshot range. Offsets ARE snapshot ids (what the
    * table's own commit log already provides, so exactly-once needs no
    * side state: a restart replans the same (start, end] file diff),
    * `latestOffset` is a version-hint read, and each batch's input is
    * the S16m incremental file diff — cost ∝ newly committed data.
    * Same reader factory as the batch path (field-id resolution,
    * column pruning through `required`). Appends only, per the S16m
    * contract: a replace/overwrite snapshot fails the stream fast
    * rather than replaying rewritten rows as inserts. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new IcebergMicroBatchStream(path, required, maxSnapshotsPerTrigger)
}

/** T25: the Iceberg table tailed one snapshot range per micro-batch.
  * Pending units are the snapshot ids after the start offset, read from
  * the metadata json; a poll that finds no version hint (a deleted
  * table, or a writer mid-rename) is a failed poll under the
  * [[TailingStream]] rule. */
class IcebergMicroBatchStream(path: String, required: StructType,
                              maxSnapshotsPerTrigger: Option[Int] = None)
    extends TailingStream[Long](path, "snapshot", 0L, "maxSnapshotsPerTrigger",
      maxSnapshotsPerTrigger) {
  private def conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration

  override protected def pending(from: Long): Seq[Long] =
    IcebergRead.snapshotIdsInRange(path, conf, from, Long.MaxValue)

  override protected def plan(from: Long, to: Long): Array[InputPartition] =
    IcebergRead.incrementalFilePaths(path, conf, from, to)
      .map(p => IcebergInputPartition(p): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    IcebergReaderFactory(IcebergMeta.load(path, conf), required)
}

/** Java-serialization carrier for the DRIVER's Hadoop configuration —
  * executor-side readers previously built a fresh `new Configuration()`
  * and lost every session setting (filesystem impls, credentials,
  * io tunables), which silently pinned the source to the default local
  * filesystem (ADVICE r6). Configuration is Writable, not
  * Serializable, hence the manual hooks. */
class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject(); value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject(); value = new Configuration(false); value.readFields(in)
  }
}

/** Per-session BROADCAST of the shipped Hadoop conf (r12 verdict #1).
  *
  * A DSv2 reader factory is serialized into the stage's task binary and
  * EVERY task deserializes that binary independently — an embedded
  * [[SerializableHadoopConf]] therefore re-reads ~1k conf properties per
  * task, pure overhead that scales with task count (1000 executors × 32
  * cores × small files). Shipping a `Broadcast` handle instead
  * deserializes the conf once per executor JVM and the task binary
  * carries only the handle.
  *
  * The cache is keyed on (applicationId, conf fingerprint): a session
  * that mutates fs settings between reads still ships the CURRENT conf
  * (the fingerprint changes → re-broadcast), and a restarted context
  * (new applicationId) never reuses a dead context's broadcast. The
  * conf is defensively copied at broadcast time so later driver-side
  * mutation cannot race the lazy broadcast serialization. Executor-side
  * consumers must still copy per reader (`new Configuration(bc.value
  * .value)`): the broadcast value is shared across all tasks in the JVM
  * and Configuration is not thread-safe under mutation. */
object HadoopConfBroadcast {
  private case class Entry(appId: String, fp: Long,
                           bc: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf])
  @volatile private var entries: List[Entry] = Nil

  /** Order-independent content hash over every key=value entry
    * (including loaded defaults — they serialize too). */
  private def fingerprint(c: Configuration): Long = {
    var acc = 0L
    val it = c.iterator()
    while (it.hasNext) {
      val e = it.next()
      acc ^= (e.getKey.hashCode.toLong * 0x9E3779B97F4A7C15L) ^ e.getValue.hashCode.toLong
    }
    acc
  }

  def get(sc: org.apache.spark.SparkContext, conf: Configuration)
      : org.apache.spark.broadcast.Broadcast[SerializableHadoopConf] = synchronized {
    val fp = fingerprint(conf)
    val app = sc.applicationId
    entries.find(e => e.appId == app && e.fp == fp).map(_.bc).getOrElse {
      val bc = sc.broadcast(new SerializableHadoopConf(new Configuration(conf)))
      // keep only this context's entries, bounded (conf churn in tests)
      entries = (Entry(app, fp, bc) :: entries.filter(_.appId == app)).take(8)
      bc
    }
  }
}

case class IcebergInputPartition(file: String) extends InputPartition

object IcebergReaderFactory {
  /** The reader factory over `meta`'s current schema: executors resolve
    * each data file's columns by field id (rename evolution), falling
    * back to name for id-less legacy files, and surface NULL for columns
    * newer than the file (add evolution). */
  def apply(meta: IcebergMeta.TableMeta, required: StructType): IcebergReaderFactory = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    new IcebergReaderFactory(required, meta.schema.fieldNames.zip(meta.fieldIds).toMap,
      HadoopConfBroadcast.get(sc, sc.hadoopConfiguration))
  }
}

class IcebergReaderFactory(required: StructType, idByName: Map[String, Int],
                           conf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[IcebergInputPartition].file
    new IcebergPartitionReader(file, required, idByName, conf)
  }
}

/** Per-file parquet Group reader with the pruned schema pushed into
  * the parquet projection. Columns resolve by FIELD-ID against the
  * file's own parquet schema (the spec's schema-evolution contract):
  * a renamed table column still finds its data under the file's old
  * name, a column added after the file was written reads as NULL, and
  * id-less legacy files fall back to name matching. */
class IcebergPartitionReader(file: String, required: StructType,
                             idByName: Map[String, Int],
                             base: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf])
    extends PartitionReader[InternalRow] {
  private val conf = base.value.value
  // empty projection (e.g. count(*)) still needs one column to drive
  // row iteration; emit empty rows from it
  private val emptyProjection = required.isEmpty
  // srcIdx(i): position of required column i within the projected
  // group, or -1 when the file predates the column (NULL).
  private val srcIdx = new Array[Int](required.length)
  // built as a typed schema, never parsed from text: a column name may
  // hold any character (quotes, spaces, ';')
  private val projection: Option[MessageType] = if (emptyProjection) None else Some(init())
  private def init(): MessageType = {
    // file schema: one footer read; columns carry the writer's ids
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    val fileFields =
      try footer.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq
      finally footer.close()
    def resolve(name: String): Option[String] = {
      val byId = for {
        id <- idByName.get(name)
        c <- fileFields.find(c => c.getId != null && c.getId.intValue == id)
      } yield c.getName
      byId.orElse(fileFields.find(_.getName == name).map(_.getName))
    }
    val cols = scala.collection.mutable.ArrayBuffer.empty[PType]
    required.fields.zipWithIndex.foreach { case (f, i) =>
      resolve(f.name) match {
        case None => srcIdx(i) = -1
        case Some(fileName) =>
          srcIdx(i) = cols.length
          // repetition mirrors the FILE's own field — Hive/Impala
          // writers mark non-null columns `required`, and parquet's
          // projection check rejects a repetition mismatch
          val rep = fileFields.find(_.getName == fileName)
            .map(_.getRepetition).getOrElse(PType.Repetition.OPTIONAL)
          cols += (f.dataType match {
            // the writer pins int64 micros (spec physical type for timestamps)
            case LongType | TimestampType => Types.primitive(INT64, rep)
            case IntegerType => Types.primitive(INT32, rep)
            case DoubleType => Types.primitive(DOUBLE, rep)
            case BooleanType => Types.primitive(BOOLEAN, rep)
            case StringType => Types.primitive(BINARY, rep).as(LogicalTypeAnnotation.stringType())
            case DateType => Types.primitive(INT32, rep).as(LogicalTypeAnnotation.dateType())
            case other => sys.error(s"graft iceberg: unsupported read type $other")
          }).named(fileName)
      }
    }
    // all-missing projection (every required column newer than the
    // file): keep ONE file column so the reader still iterates rows.
    // The sentinel must mirror the file's OWN primitive type — parquet
    // checkContains rejects a type mismatch even for a never-read column.
    if (cols.isEmpty) {
      srcIdx.indices.foreach(srcIdx(_) = -1)
      val p = fileFields.head.asPrimitiveType()
      cols += Types.optional(p.getPrimitiveTypeName).named(p.getName)
    }
    new MessageType("graft_projection", cols.asJava)
  }
  private val reader = org.apache.parquet.hadoop.ParquetReader.builder(new GroupReadSupport {
    override def init(ctx: InitContext): ReadContext = new ReadContext(projection
      .map(ReadSupport.getSchemaForRead(ctx.getFileSchema, _)).getOrElse(ctx.getFileSchema))
  }, new Path(file)).withConf(conf).build()
  private var current: org.apache.parquet.example.data.Group = _

  override def next(): Boolean = {
    current = reader.read()
    current != null
  }

  override def get(): InternalRow = {
    if (emptyProjection) return InternalRow.empty
    val row = new Array[Any](required.length)
    var i = 0
    while (i < required.length) {
      val src = srcIdx(i)
      row(i) =
        if (src < 0 || current.getFieldRepetitionCount(src) == 0) null
        else required.fields(i).dataType match {
          case LongType | TimestampType => current.getLong(src, 0) // ts: micros
          case IntegerType | DateType => current.getInteger(src, 0)
          case DoubleType => current.getDouble(src, 0)
          case BooleanType => current.getBoolean(src, 0)
          case StringType => UTF8String.fromBytes(current.getBinary(src, 0).getBytes)
        }
      i += 1
    }
    InternalRow.fromSeq(row.toIndexedSeq)
  }

  override def close(): Unit = reader.close()
}

/** S16k: Iceberg METADATA tables — the inspection surface real tables
  * ship (`table$snapshots`, `$files`, `$manifests`, `$partitions` in
  * the public Iceberg spec) and the reference exposes as SHOW FILES IN
  * <table> (apache-impala-4.1.0/fe/src/main/java/org/apache/impala/
  * analysis/ShowFilesStmt.java). Everything is served from the
  * metadata tree alone — version json, manifest list, manifests —
  * never by scanning data files: the whole point of the layer is that
  * file-level bookkeeping on a 100 TB table is a metadata read. The
  * walk runs on the driver (manifest counts scale with file count,
  * not data volume — the same tradeoff the reference's frontend makes
  * loading the file descriptor list) and lands in a small DataFrame.
  */
object IcebergInspect {
  import IcebergMeta._
  import org.apache.spark.sql.{Row, SparkSession}

  /** One row per snapshot, in log order: id, parent link, a
    * deterministic "k=v" rendering of the summary, manifest-list path. */
  def snapshots(spark: SparkSession, tableDir: String): DataFrame = {
    val meta = current(tableDir, spark.sessionState.newHadoopConf()).tree
    val rows = meta.get("snapshots").elements().asScala.toSeq.zipWithIndex.map {
      case (s, i) =>
        val summary = Option(s.get("summary")).map { n =>
          n.fields().asScala.toSeq.map(e => s"${e.getKey}=${e.getValue.asText}")
            .sorted.mkString(",")
        }.getOrElse("")
        Row(i.toLong, s.get("snapshot-id").asLong,
          Option(s.get("parent-snapshot-id")).map(p => java.lang.Long.valueOf(p.asLong)).orNull,
          summary, s.get("manifest-list").asText)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("ordinal", LongType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false),
      StructField("parent_id", LongType, nullable = true),
      StructField("summary", StringType, nullable = false),
      StructField("manifest_list", StringType, nullable = false))))
  }

  /** One row per LIVE data file of a snapshot (default: current):
    * path, spec id, partition tuple rendered "name=value", record
    * count, size, and how many columns carry value bounds. */
  def files(spark: SparkSession, tableDir: String,
            snapshotId: Option[Long] = None): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = load(tableDir, conf, snapshotId)
    val rows = manifestEntries(meta.manifestList, conf).collect {
      case (mp, specId, e) if e.get("status").asInstanceOf[Int] != 2 =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        val tuple = df.get("partition").asInstanceOf[GenericRecord]
        val pstr = tuple.getSchema.getFields.asScala
          .map(f => s"${f.name}=${tuple.get(f.name)}").mkString(",")
        def nBounds(field: String): Int = Option(df.get(field))
          .map(_.asInstanceOf[java.util.List[_]].size).getOrElse(0)
        Row(df.get("file_path").toString, mp, specId, pstr,
          df.get("record_count").asInstanceOf[Long],
          df.get("file_size_in_bytes").asInstanceOf[Long],
          nBounds("lower_bounds"))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("file_path", StringType, nullable = false),
      StructField("manifest_path", StringType, nullable = false),
      StructField("spec_id", IntegerType, nullable = false),
      StructField("partition", StringType, nullable = false),
      StructField("record_count", LongType, nullable = false),
      StructField("file_size_in_bytes", LongType, nullable = false),
      StructField("n_bound_cols", IntegerType, nullable = false))))
  }

  /** One row per manifest of a snapshot: path, spec id, live/deleted
    * entry counts, summed record count. */
  def manifests(spark: SparkSession, tableDir: String,
                snapshotId: Option[Long] = None): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = load(tableDir, conf, snapshotId)
    val rows = manifestEntries(meta.manifestList, conf)
      .groupBy(e => (e._1, e._2)).toSeq.sortBy(_._1._1).map { case ((mp, specId), es) =>
        val (dead, live) = es.partition(_._3.get("status").asInstanceOf[Int] == 2)
        val n = live.map(_._3.get("data_file").asInstanceOf[GenericRecord]
          .get("record_count").asInstanceOf[Long]).sum
        Row(mp, specId, live.size, dead.size, n)
      }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("manifest_path", StringType, nullable = false),
      StructField("spec_id", IntegerType, nullable = false),
      StructField("n_live_files", IntegerType, nullable = false),
      StructField("n_deleted_files", IntegerType, nullable = false),
      StructField("record_count", LongType, nullable = false))))
  }

  /** Partition-level rollup of [[files]]: files and rows per partition
    * tuple — SHOW FILES' summary view, and the skew diagnostic a table
    * owner reads before choosing a new spec. */
  def partitions(spark: SparkSession, tableDir: String,
                 snapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    files(spark, tableDir, snapshotId)
      .groupBy(col("spec_id"), col("partition"))
      .agg(count(lit(1)).as("n_files"), sum(col("record_count")).as("n_rows"))
  }

  private def manifestEntries(manifestList: String, conf: Configuration)
      : Seq[(String, Int, GenericRecord)] = {
    readListRecords(manifestList, conf).flatMap { m =>
      val mp = m.get("manifest_path").toString
      val specId = m.get("partition_spec_id").asInstanceOf[Int]
      readAvro(mp, conf).map(e => (mp, specId, e))
    }
  }
}

/** Oracle-checked coverage: the documents table round-trips through a
  * bucket[8]-partitioned Iceberg table; DuckDB aggregates the ORIGINAL
  * parquet, so a hash match certifies metadata tree + manifest walk +
  * parquet decode all preserved every row. The prune query reads one
  * bucket's files only (file count asserted in SourcesSpec S16). */
object IcebergQueries extends graft.QueryModule {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.functions._

  /** The documents table, bucketed by doc_id; the table IS the
    * fixture: rewriting it per iteration would bench the writer, not the
    * read path. */
  val table = new graft.Fixture("iceberg_documents")((spark, dir, p) =>
    IcebergWrite.write(graft.Tables(spark, dir).documents, p, "doc_id", 8))

  /** Merged-table fixture: base table from `documents`, then ONE
    * deterministic copy-on-write merge batch — every doc_id ≡ 0
    * (mod 97) updated, three inserts beyond the id range. The
    * src_iceberg_merge query reads the POST-merge table; its oracle
    * recomputes the same merged state from the parquet. */
  val merged = new graft.Fixture("iceberg_merge")((spark, dir, p) => {
    val docs = graft.Tables(spark, dir).documents
    IcebergWrite.write(docs, p, "lang", "identity")
    val updates = docs.filter(col("doc_id") % 97 === 0)
      .withColumn("text", concat(lit("MERGED:"), col("doc_id").cast("string")))
    val inserts = docs.filter(col("doc_id") < 3)
      .select((col("doc_id") + 10000000L).as("doc_id"), lit("inserted").as("text"),
        col("lang"), col("source"), col("n_chars"))
    IcebergWrite.mergeUpsert(updates.unionByName(inserts), p, "doc_id")
  })

  /** CDC-merged fixture: base table from `documents`, then ONE mergeCdc
    * batch — doc_id ≡ 0 (mod 97) updated, doc_id ≡ 0 (mod 101)
    * tombstoned (updates win where both apply: the tombstone removes
    * the old row, the update re-inserts), three inserts beyond the id
    * range. */
  val cdc = new graft.Fixture("iceberg_cdc")((spark, dir, p) => {
    val docs = graft.Tables(spark, dir).documents
    IcebergWrite.write(docs, p, "lang", "identity")
    val upd = docs.filter(col("doc_id") % 97 === 0)
      .withColumn("text", concat(lit("MERGED:"), col("doc_id").cast("string")))
      .withColumn("op", lit("U"))
    val del = docs.filter(col("doc_id") % 101 === 0).withColumn("op", lit("D"))
    val ins = docs.filter(col("doc_id") < 3)
      .select((col("doc_id") + 10000000L).as("doc_id"), lit("inserted").as("text"),
        col("lang"), col("source"), col("n_chars"), lit("I").as("op"))
    IcebergWrite.mergeCdc(upd.unionByName(del).unionByName(ins), p, "doc_id", "op")
  })

  /** Two-snapshot append fixture: snapshot 1 holds doc_id % 5 != 0,
    * snapshot 2 appends the rest — so the incremental read of (1, 2] is
    * exactly the % 5 == 0 slice and the oracle recomputes it from raw
    * parquet. */
  val incr = new graft.Fixture("iceberg_incr")((spark, dir, p) => {
    val docs = graft.Tables(spark, dir).documents
    IcebergWrite.write(docs.filter(col("doc_id") % 5 =!= 0), p, "lang", "identity")
    IcebergWrite.append(docs.filter(col("doc_id") % 5 === 0), p)
  })

  val queries: Map[String, Q] = Map(
    "src_iceberg_roundtrip" -> ((spark, dir) => {
      val back = spark.read.format("graft.sources.IcebergSource").load(table.ensure(spark, dir))
      back.groupBy("lang").agg(
          count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"),
          sum(col("n_chars")).as("sum_chars"),
          max(length(col("text"))).as("max_len"))
        .orderBy("lang")
    }),
    "src_iceberg_prune" -> ((spark, dir) => {
      // doc_id = 42 exists at every SF; the scan opens ONE bucket's
      // files (metadata-pruned), then the residual filter picks the row
      spark.read.format("graft.sources.IcebergSource").load(table.ensure(spark, dir))
        .filter(col("doc_id") === 42L)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),
    // S16k: the partitions METADATA table replayed from raw data — the
    // per-bucket row counts the metadata tree carries must equal what
    // the murmur3 bucket transform computes over the source parquet.
    "src_iceberg_partitions" -> ((spark, dir) => {
      IcebergInspect.partitions(spark, table.ensure(spark, dir))
        .select(regexp_extract(col("partition"), "=(\\d+)", 1).cast("int")
            .as("doc_id_bucket"),
          col("n_rows"))
        .orderBy("doc_id_bucket")
    }),
    // S16k: snapshot-log invariants of the two-commit merge fixture:
    // exactly two snapshots, the second parent-linked to the first.
    "src_iceberg_snapshots" -> ((spark, dir) => {
      val snaps = IcebergInspect.snapshots(spark, merged.ensure(spark, dir))
      snaps.agg(count(lit(1)).as("n_snapshots"),
        sum(when(col("parent_id").isNotNull, 1L).otherwise(0L)).as("n_with_parent"))
    }),
    // S16k: files metadata totals — live record counts and distinct
    // partitions seen by the metadata walk equal the raw-data truth.
    "src_iceberg_files" -> ((spark, dir) => {
      IcebergInspect.files(spark, table.ensure(spark, dir))
        .agg(sum(col("record_count")).as("n_rows"),
          countDistinct(col("partition")).as("n_partitions"),
          (min(col("n_bound_cols")) > 0).as("bounds_present"))
    }),
    // S16l end-to-end: the read-back of a CDC merge (updates +
    // tombstones + inserts in ONE commit) equals the relational
    // change application the oracle computes from the raw parquet.
    "src_iceberg_cdc" -> ((spark, dir) => {
      spark.read.format("graft.sources.IcebergSource").load(cdc.ensure(spark, dir))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(col("doc_id")).as("sum_id"),
          sum(when(col("text").startsWith("MERGED:"), 1L).otherwise(0L)).as("n_merged"),
          sum(when(col("text") === "inserted", 1L).otherwise(0L)).as("n_inserted"))
        .orderBy("lang")
    }),
    // S16m: the incremental read of (snapshot 1, snapshot 2] on the
    // two-commit append fixture is exactly the appended slice — the
    // consume-only-what-arrived primitive, oracle-checked against the
    // raw parquet's % 5 == 0 rows.
    "src_iceberg_incremental" -> ((spark, dir) => {
      IcebergRead.incrementalRead(spark, incr.ensure(spark, dir), 1L, 2L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),
    // S16i end-to-end: the read-back of a copy-on-write merge commit
    // equals the relational merge the oracle computes from the raw
    // parquet (update-beats-existing, inserts present, rest untouched).
    "src_iceberg_merge" -> ((spark, dir) => {
      spark.read.format("graft.sources.IcebergSource").load(merged.ensure(spark, dir))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(col("doc_id")).as("sum_id"),
          sum(when(col("text").startsWith("MERGED:"), 1L).otherwise(0L)).as("n_merged"),
          sum(when(col("text") === "inserted", 1L).otherwise(0L)).as("n_inserted"))
        .orderBy("lang")
    }),
  )

  val oracles: Map[String, String] = Map(
    "src_iceberg_roundtrip" ->
      """SELECT lang, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, CAST(max(length(text)) AS INT) AS max_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "src_iceberg_prune" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id = 42",
    "src_iceberg_partitions" ->
      s"""SELECT ${graft.operators.DuckHashSql.icebergBucketLong("doc_id", 8)} AS doc_id_bucket,
         |  CAST(count(*) AS BIGINT) AS n_rows
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // Constant oracles: the fixtures are deterministic two-commit /
    // one-commit tables, so the metadata invariants are exact values.
    "src_iceberg_snapshots" ->
      "SELECT CAST(2 AS BIGINT) AS n_snapshots, CAST(1 AS BIGINT) AS n_with_parent",
    "src_iceberg_files" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT ${graft.operators.DuckHashSql.icebergBucketLong("doc_id", 8)}) AS BIGINT) AS n_partitions,
         |  TRUE AS bounds_present
         |FROM documents""".stripMargin,

    "src_iceberg_incremental" ->
      """SELECT lang, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 5 = 0 GROUP BY lang ORDER BY lang""".stripMargin,

    "src_iceberg_cdc" ->
      """WITH upd AS (
        |  SELECT doc_id, 'MERGED:' || CAST(doc_id AS VARCHAR) AS text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 97 = 0),
        |ins AS (
        |  SELECT doc_id + 10000000 AS doc_id, 'inserted' AS text, lang, source, n_chars
        |  FROM documents WHERE doc_id < 3),
        |m AS (
        |  SELECT * FROM documents WHERE doc_id % 97 <> 0 AND doc_id % 101 <> 0
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins)
        |SELECT lang, count(*)::BIGINT AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |  sum(CASE WHEN text LIKE 'MERGED:%' THEN 1 ELSE 0 END)::BIGINT AS n_merged,
        |  sum(CASE WHEN text = 'inserted' THEN 1 ELSE 0 END)::BIGINT AS n_inserted
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,

    "src_iceberg_merge" ->
      """WITH upd AS (
        |  SELECT doc_id, 'MERGED:' || CAST(doc_id AS VARCHAR) AS text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 97 = 0),
        |ins AS (
        |  SELECT doc_id + 10000000 AS doc_id, 'inserted' AS text, lang, source, n_chars
        |  FROM documents WHERE doc_id < 3),
        |m AS (
        |  SELECT * FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins)
        |SELECT lang, count(*)::BIGINT AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |  sum(CASE WHEN text LIKE 'MERGED:%' THEN 1 ELSE 0 END)::BIGINT AS n_merged,
        |  sum(CASE WHEN text = 'inserted' THEN 1 ELSE 0 END)::BIGINT AS n_inserted
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
  )

  override val tmp: Map[String, Seq[graft.TmpPath]] = Map(
    "src_iceberg_roundtrip" -> Seq(table),
    "src_iceberg_prune" -> Seq(table),
    "src_iceberg_partitions" -> Seq(table),
    "src_iceberg_files" -> Seq(table),
    "src_iceberg_merge" -> Seq(merged),
    "src_iceberg_snapshots" -> Seq(merged),
    "src_iceberg_cdc" -> Seq(cdc),
    "src_iceberg_incremental" -> Seq(incr),
  )
}
