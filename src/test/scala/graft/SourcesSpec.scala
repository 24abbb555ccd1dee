package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sources/sinks coverage (SURVEY.md §2 S1–S6): the Spark DataSource
  * equivalents of the reference engine's file-format surface
  * (parquet/ORC/text scanners, partitioned tables, dynamic-partition
  * INSERT — apache-impala-4.1.0/be/src/exec/hdfs-scan-node*.cc,
  * hdfs-table-sink.cc). */
class SourcesSpec extends SparkSpec {

  private lazy val li = spark.read.parquet(s"$sf0001/lineitem.parquet")

  test("S1: partitioned parquet write + partition pruning at the scan") {
    val dir = tempDir("graft_src")
    li.write.partitionBy("l_returnflag").mode(SaveMode.Overwrite).parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == li.count())
    val pruned = back.filter(col("l_returnflag") === "R")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("l_returnflag"))
    assert(pruned.count() == li.filter(col("l_returnflag") === "R").count())
  }

  test("S12: nested complex types round-trip parquet; struct-field pruning reaches the scan") {
    import graft.sources.NestedParquet
    val dir = tempDir("graft_src")
    val nested = NestedParquet.buildNested(li)
    nested.write.mode(SaveMode.Overwrite).parquet(dir)
    val back = spark.read.parquet(dir)
    // schema survived: array<struct<...>> + map<string,bigint>
    val items = back.schema("items").dataType.asInstanceOf[ArrayType]
    assert(items.elementType.asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("l_linenumber", "l_partkey", "l_quantity"))
    assert(back.schema("flags").dataType == MapType(StringType, LongType, valueContainsNull = false)
      || back.schema("flags").dataType.isInstanceOf[MapType])
    // correlated unnest returns exactly the source rows
    assert(back.select(explode(col("items"))).count() == li.count())
    // nested-schema pruning: projecting ONE struct field must not drag
    // the other collection fields (or the map) off disk
    val pruned = back.select(col("l_orderkey"), col("items.l_quantity"))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    val readSchema = scan.substring(scan.indexOf("ReadSchema"))
    assert(readSchema.contains("l_quantity"), readSchema)
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("flags"), readSchema)
    // map semantics: absent key -> null, present key -> count
    val flagRows = back.select(element_at(col("flags"), "ZZ").as("absent")).limit(5).collect()
    assert(flagRows.forall(_.isNullAt(0)))
  }

  test("S12b: nested complex types round-trip ORC; struct-field pruning reaches the scan") {
    // the S12 story replayed for ORC (reference reads ORC collections
    // natively: orc-column-readers.h:513-727)
    import graft.sources.NestedParquet
    val dir = tempDir("graft_src")
    val nested = NestedParquet.buildNested(li)
    nested.write.mode(SaveMode.Overwrite).orc(dir)
    val back = spark.read.orc(dir)
    // schema survived the ORC TypeDescription round trip
    val items = back.schema("items").dataType.asInstanceOf[ArrayType]
    assert(items.elementType.asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("l_linenumber", "l_partkey", "l_quantity"))
    assert(back.schema("flags").dataType.isInstanceOf[MapType])
    // correlated unnest returns exactly the source rows
    assert(back.select(explode(col("items"))).count() == li.count())
    // nested-schema pruning: projecting ONE struct field must not drag
    // the other collection fields (or the map) off disk
    val pruned = back.select(col("l_orderkey"), col("items.l_quantity"))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    val readSchema = scan.substring(scan.indexOf("ReadSchema"))
    assert(readSchema.contains("l_quantity"), readSchema)
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("flags"), readSchema)
    // map semantics: absent key -> null, present key -> count
    val flagRows = back.select(element_at(col("flags"), "ZZ").as("absent")).limit(5).collect()
    assert(flagRows.forall(_.isNullAt(0)))
  }

  test("S13: Avro round trip preserves every supported type; pruning reaches the reader schema") {
    import graft.sources.{AvroIO, AvroSource}
    import java.sql.{Date, Timestamp}
    val dir = tempDir("graft_src") + "/avro"
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, 7, 2.5, 1.5f, true, "héllo",
          Array[Byte](1, 2, 3), Timestamp.valueOf("2024-03-01 10:20:30.123456"),
          Date.valueOf("2024-03-01")),
        org.apache.spark.sql.Row(2L, null, null, null, null, null, null, null, null)),
      StructType(Seq(
        StructField("l", LongType, nullable = false), StructField("i", IntegerType),
        StructField("d", DoubleType), StructField("f", FloatType),
        StructField("b", BooleanType), StructField("s", StringType),
        StructField("bin", BinaryType), StructField("ts", TimestampType),
        StructField("dt", DateType))))
    AvroIO.write(df, dir)
    val back = spark.read.format("graft.sources.AvroSource").load(dir)
    assert(back.schema.fieldNames.toSeq == df.schema.fieldNames.toSeq)
    assert(back.schema.fields.map(_.dataType).toSeq == df.schema.fields.map(_.dataType).toSeq)
    val rows = back.orderBy("l").collect()
    assert(rows.length == 2)
    val r = rows.head
    assert(r.getLong(0) == 1L && r.getInt(1) == 7 && r.getDouble(2) == 2.5 &&
      r.getFloat(3) == 1.5f && r.getBoolean(4) && r.getString(5) == "héllo")
    assert(r.getAs[Array[Byte]]("bin").toSeq == Seq[Byte](1, 2, 3))
    assert(r.getAs[Timestamp]("ts") == Timestamp.valueOf("2024-03-01 10:20:30.123456"))
    assert(r.getAs[Date]("dt") == Date.valueOf("2024-03-01"))
    assert((1 to 8).forall(rows(1).isNullAt))
    // column pruning reaches the Avro reader schema (scan description
    // lists only the projected columns)
    val prunedPlan = back.select("s").queryExecution.executedPlan
      .collectLeaves().head.toString
    assert(prunedPlan.contains("cols=s"), prunedPlan)
    // events-shaped bigger write: one container per input partition
    val files = AvroSource.listFiles(dir)
    assert(files.nonEmpty && files.forall(_.getName.endsWith(".avro")))
  }

  test("S13b: a multi-block Avro container splits on sync markers into >1 partition, losslessly") {
    import graft.sources.AvroIO
    val dir = tempDir("graft_src") + "/avro_split"
    // ONE container (coalesce(1)) with many small blocks: 2000 rows of
    // ~128B INCOMPRESSIBLE text (md5 hex — constant padding would
    // deflate below one split) at a 4 KiB sync interval → dozens of
    // sync points
    val df = spark.range(2000).selectExpr("id",
      "repeat(md5(cast(id AS string)), 4) AS pad")
    AvroIO.write(df.coalesce(1), dir, syncIntervalBytes = 4096)
    assert(graft.sources.AvroSource.listFiles(dir).size == 1, "expected a single container")
    val back = spark.read.format("graft.sources.AvroSource")
      .option("split_bytes", "8192").load(dir)
    // the single huge container fans out across multiple partitions...
    assert(back.rdd.getNumPartitions > 1,
      s"expected >1 split partition, got ${back.rdd.getNumPartitions}")
    // ...and the range-tiled sync protocol loses/duplicates nothing
    assert(back.count() == 2000)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).collect().head.getLong(0)
      == (0L until 2000L).sum)
    // a range that starts past the last sync yields an empty partition,
    // not an error (tail tiling)
    val one = spark.read.format("graft.sources.AvroSource")
      .option("split_bytes", s"${Long.MaxValue / 4}").load(dir)
    assert(one.rdd.getNumPartitions == 1 && one.count() == 2000)
  }

  test("S13c: per-file schema resolution — a mixed-schema dir reads in one scan; " +
    "old files NULL-fill added columns; renames resolve through aliases") {
    import graft.sources.AvroIO
    val dir = tempDir("graft_src") + "/avro_mixed"
    // epoch 1: (doc_id, txt) — the ORIGINAL layout (old column name)
    val oldDf = spark.range(0, 3).selectExpr("id AS doc_id",
      "concat('old ', CAST(id AS string)) AS txt")
    AvroIO.write(oldDf.coalesce(1), dir)
    // epoch 2: (doc_id, text, lang) — 'txt' RENAMED to 'text', 'lang' ADDED;
    // lands beside the epoch-1 container (AvroIO.write wipes the dir, so
    // write elsewhere and move the container in)
    val dir2 = tempDir("graft_src") + "/avro_mixed2"
    val newDf = spark.range(3, 6).selectExpr("id AS doc_id",
      "concat('new ', CAST(id AS string)) AS text", "'de' AS lang")
    AvroIO.write(newDf.coalesce(1), dir2)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.rename(graft.sources.AvroSource.listFiles(dir2).head,
      new org.apache.hadoop.fs.Path(dir, "part-zz-epoch2.avro"))
    // one scan over both epochs: merged schema, alias-resolved rename
    val back = spark.read.format("graft.sources.AvroSource")
      .option("aliases", "text:txt").load(dir)
    assert(back.schema.fieldNames.toSeq == Seq("doc_id", "text", "lang"))
    // 'lang' is nullable (absent from epoch 1); 'text' resolves in
    // EVERY file post-alias so it keeps the writers' non-null contract
    assert(back.schema("lang").nullable && !back.schema("text").nullable)
    val rows = back.orderBy("doc_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L to 5L))
    // epoch-1 rows: text resolved FROM txt via the alias, lang NULL-filled
    assert(rows.take(3).map(_.getString(1)).toSeq ==
      Seq("old 0", "old 1", "old 2"))
    assert(rows.take(3).forall(_.isNullAt(2)))
    // epoch-2 rows: native layout, different writer field order is fine
    assert(rows.drop(3).map(r => (r.getString(1), r.getString(2))).toSeq ==
      Seq(("new 3", "de"), ("new 4", "de"), ("new 5", "de")))
    // pruning a merged-in column still decodes per file (reader-schema
    // projection with defaults): select only the ADDED column
    assert(back.select("lang").collect().count(_.isNullAt(0)) == 3)
    // same-name different-type files are irreconcilable — loud
    val dir3 = tempDir("graft_src") + "/avro_badtype"
    AvroIO.write(spark.range(1).selectExpr("id AS doc_id", "'s' AS txt").coalesce(1), dir3)
    AvroIO.write(spark.range(1).selectExpr("id AS doc_id", "id AS txt").coalesce(1), dir2)
    fs.rename(graft.sources.AvroSource.listFiles(dir2).head,
      new org.apache.hadoop.fs.Path(dir3, "part-zz-bad.avro"))
    intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.AvroSource").load(dir3).schema
    }
  }

  test("S14: SequenceFile round trip; one container splits on sync markers into >1 partition") {
    import graft.sources.SequenceIO
    val dir = tempDir("graft_src") + "/seqfile"
    val df = spark.range(3000).selectExpr("CAST(id AS string) AS key",
      "repeat(md5(CAST(id AS string)), 2) AS value") // incompressible-ish payload
    SequenceIO.write(df.coalesce(1), dir)
    assert(graft.sources.SplitFiles.listStatus(dir, ".seq").size == 1)
    val back = spark.read.format("graft.sources.SequenceSource")
      .option("split_bytes", "16384").load(dir)
    assert(back.rdd.getNumPartitions > 1,
      s"expected >1 split partition, got ${back.rdd.getNumPartitions}")
    // range-tiled sync protocol: nothing lost, nothing duplicated
    assert(back.count() == 3000)
    assert(back.select(org.apache.spark.sql.functions.sum(col("key").cast("long")))
      .collect().head.getLong(0) == (0L until 3000L).sum)
    // round trip value fidelity on a sample row
    val r = back.filter(col("key") === "42").collect().head
    assert(r.getString(1).length == 64 && r.getString(1) == r.getString(1))
    // writer rejects non-(string,string) frames loudly
    intercept[IllegalArgumentException] {
      SequenceIO.write(spark.range(3).toDF(), tempDir("graft_src") + "/seq_bad")
    }
  }

  test("S15: RCFile round trip with sync splits, pruned column ids, and the \\N null sentinel") {
    import graft.sources.RcIO
    val dir = tempDir("graft_src") + "/rcfile"
    val df = spark.range(3000).selectExpr(
      "CAST(id AS string) AS k",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE repeat(md5(CAST(id AS string)), 2) END AS payload",
      "CAST(id % 13 AS string) AS bucket")
    // 16 KiB row groups → many sync points in one container
    RcIO.write(df.coalesce(1), dir, rowGroupBytes = 16384)
    val back = spark.read.format("graft.sources.RcFileSource")
      .option("split_bytes", "32768").load(dir)
    assert(back.rdd.getNumPartitions > 1,
      s"expected >1 split partition, got ${back.rdd.getNumPartitions}")
    assert(back.count() == 3000)
    assert(back.filter(col("payload").isNull).count() == (0 until 3000).count(_ % 7 == 0))
    assert(back.select(org.apache.spark.sql.functions.sum(col("k").cast("long")))
      .collect().head.getLong(0) == (0L until 3000L).sum)
    // pruning reaches the reader: scan description lists only projected
    // columns (the READ_COLUMN_IDS skip path)
    val prunedPlan = back.select("bucket").queryExecution.executedPlan
      .collectLeaves().head.toString
    assert(prunedPlan.contains("cols=bucket"), prunedPlan)
  }

  test("S16: Iceberg v1 table round trip; bucket pruning opens 1-of-N buckets at both metadata levels") {
    import graft.sources.{IcebergRead, IcebergWrite}
    val dir = tempDir("graft_src") + "/iceberg_tbl"
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    IcebergWrite.write(docs, dir, "doc_id", 8)
    val conf = spark.sparkContext.hadoopConfiguration
    // full table: every row survives the metadata walk + Group decode
    val back = spark.read.format("graft.sources.IcebergSource").load(dir)
    assert(back.count() == docs.count())
    assert(back.select(sum(col("doc_id")), sum(col("n_chars"))).collect().head ==
      docs.select(sum(col("doc_id")), sum(col("n_chars"))).collect().head)
    // metadata pruning: an equality probe on the partition SOURCE
    // column plans only the probe bucket's files (manifest-list
    // summaries + manifest partition tuples both consulted)
    val all = IcebergRead.planFiles(dir, conf, None)
    val pruned = IcebergRead.planFiles(dir, conf, Some(("doc_id", 42L)))
    assert(all.size > pruned.size && pruned.nonEmpty,
      s"pruning did not reduce files: ${all.size} -> ${pruned.size}")
    val bucket42 = graft.functions.IcebergImpl.bucketLong(42L, 8)
    assert(pruned.forall(_.path.contains(s"_pv=$bucket42")))
    // the DSv2 path plans the same pruned set (one InputPartition per
    // file) and the residual filter still lands the exact row
    val probe = back.filter(col("doc_id") === 42L)
    assert(probe.rdd.getNumPartitions == pruned.size)
    assert(probe.count() == 1)
    // column pruning reaches the parquet projection: scan description
    // carries only the requested columns
    val leaf = back.select("lang").queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("cols=lang"), leaf)
    // vectorized-exec path over the same pruned list agrees
    val viaParquet = IcebergRead.toDataFrame(spark, dir, Some(("doc_id", 42L)))
      .filter(col("doc_id") === 42L)
    assert(viaParquet.count() == 1)
  }

  test("S16g: snapshot expiry keeps readers whole and deletes only unreferenced files") {
    import graft.sources.IcebergWrite
    val dir = tempDir("graft_src") + "/iceberg_expire"
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    IcebergWrite.write(docs.filter(col("doc_id") < 200), dir, "doc_id", 8)
    IcebergWrite.append(docs.filter(col("doc_id") >= 200 && col("doc_id") < 400), dir)
    IcebergWrite.append(docs.filter(col("doc_id") >= 400), dir)
    val fmt = "graft.sources.IcebergSource"
    val conf = spark.sparkContext.hadoopConfiguration
    val total = spark.read.format(fmt).load(dir).count()
    assert(IcebergWrite.expireSnapshots(dir, conf, keepLast = 2) == 1)
    // the expired snapshot's own manifest list IS unreferenced -> gone
    assert(!new java.io.File(s"$dir/metadata/snap-1.avro").exists())
    assert(new java.io.File(s"$dir/metadata/snap-2.avro").exists())
    // current read unchanged: append-carried data files are referenced
    // by the kept manifest lists, so the difference-set deletion must
    // not have touched ANY of them
    assert(spark.read.format(fmt).load(dir).count() == total)
    // the surviving historical snapshot still time-travels
    assert(spark.read.format(fmt).option("snapshot_id", "2").load(dir).count() ==
      docs.filter(col("doc_id") < 400).count())
    // the expired snapshot is gone from the log -> fails fast
    intercept[Exception] {
      spark.read.format(fmt).option("snapshot_id", "1").load(dir).count()
    }
    // expiring again with the same retention is a no-op
    assert(IcebergWrite.expireSnapshots(dir, conf, keepLast = 2) == 0)
  }

  test("S16b: Iceberg append commits a new snapshot; snapshot_id reads time-travel") {
    import graft.sources.{IcebergRead, IcebergWrite}
    val dir = tempDir("graft_src") + "/iceberg_snap"
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val first = docs.filter(col("doc_id") < 400)
    val second = docs.filter(col("doc_id") >= 400)
    IcebergWrite.write(first, dir, "doc_id", 8)
    IcebergWrite.append(second, dir)
    val fmt = "graft.sources.IcebergSource"
    // current snapshot = union of both commits
    assert(spark.read.format(fmt).load(dir).count() == docs.count())
    // time travel to snapshot 1 = exactly the first commit, unchanged
    val snap1 = spark.read.format(fmt).option("snapshot_id", "1").load(dir)
    assert(snap1.count() == first.count())
    assert(snap1.agg(sum(col("doc_id"))).collect().head ==
      first.agg(sum(col("doc_id"))).collect().head)
    // bucket pruning still holds across the merged manifest list:
    // both snapshots' files for the probe bucket, nothing else
    val conf = spark.sparkContext.hadoopConfiguration
    val all = IcebergRead.planFiles(dir, conf, None)
    val pruned = IcebergRead.planFiles(dir, conf, Some(("doc_id", 450L)))
    val b = graft.functions.IcebergImpl.bucketLong(450L, 8)
    assert(pruned.nonEmpty && pruned.size < all.size)
    assert(pruned.forall(_.path.contains(s"_pv=$b")))
    // snapshot-scoped pruned read: snapshot 1 has no doc_id 450
    assert(IcebergRead.planFiles(dir, conf, Some(("doc_id", 450L)), Some(1L))
      .forall(_.path.contains("/data/")), "snapshot-1 plan leaked appended files")
    val probe1 = spark.read.format(fmt).option("snapshot_id", "1").load(dir)
      .filter(col("doc_id") === 450L)
    assert(probe1.count() == 0)
    val probeCur = spark.read.format(fmt).load(dir).filter(col("doc_id") === 450L)
    assert(probeCur.count() == 1)
  }

  test("S17: DSv2 SequenceFile write — rename-commit, _SUCCESS, overwrite truncates, append coexists") {
    import spark.implicits._
    val dir = tempDir("graft_src") + "/seqv2"
    val fmt = "graft.sources.SequenceSource"
    Seq(("1", "one"), ("2", "two")).toDF("key", "value")
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val d = new java.io.File(dir)
    assert(new java.io.File(d, "_SUCCESS").exists())
    assert(!d.listFiles().exists(_.getName.startsWith("_temporary"))) // staging cleaned
    assert(spark.read.format(fmt).load(dir).count() == 2)
    // append: new job's files coexist (job token in names — no collision)
    Seq(("3", "three")).toDF("key", "value")
      .write.format(fmt).option("path", dir).mode("append").save()
    val appended = spark.read.format(fmt).load(dir)
    assert(appended.count() == 3)
    assert(appended.collect().map(_.getAs[String]("key")).sorted.toSeq == Seq("1", "2", "3"))
    // overwrite: previous files truncated only at commit time
    Seq(("9", "nine")).toDF("key", "value")
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val over = spark.read.format(fmt).load(dir).collect()
    assert(over.map(r => (r.getAs[String]("key"), r.getAs[String]("value"))).toSeq == Seq(("9", "nine")))
    // V2 store assignment coerces compatible types by name (ANSI
    // allows numeric→string), so a long key lands as its string form
    Seq((1L, "x")).toDF("key", "value")
      .write.format(fmt).option("path", dir).mode("append").save()
    val fin = spark.read.format(fmt).load(dir).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("value"))).sorted.toSeq
    assert(fin == Seq(("1", "x"), ("9", "nine")))
  }

  test("S17b: a refused rename fails the SequenceFile commit before _SUCCESS and keeps the staged file") {
    RefuseRenameFs.register(spark)
    val dir = tempDir("graft_src") + "/seq_refuse"
    val staged = new java.io.File(dir, "staged.seq")
    java.nio.file.Files.createDirectories(staged.toPath.getParent)
    java.nio.file.Files.writeString(staged.toPath, "rows")
    val write = new graft.sources.SeqFileBatchWrite(s"refuse:$dir", truncate = false)
    intercept[java.io.IOException] {
      write.commit(Array(graft.sources.SeqFileCommit(s"refuse:$staged", "part-00000.seq", 1L)))
    }
    assert(staged.exists())
    assert(!new java.io.File(dir, "part-00000.seq").exists())
    assert(!new java.io.File(dir, "_SUCCESS").exists())
  }

  test("M5: dynamic partition overwrite replaces only the partitions the batch names") {
    import spark.implicits._
    val dir = tempDir("graft_src") + "/dyn"
    Seq((1L, "a", "en"), (2L, "b", "de"), (3L, "c", "en")).toDF("id", "v", "lang")
      .write.partitionBy("lang").mode("overwrite").parquet(dir)
    def listing(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq
    val deBefore = listing(s"$dir/lang=de")
    graft.operators.TableOps.dynamicOverwrite(spark, dir,
      Seq((9L, "x", "en")).toDF("id", "v", "lang"), "lang")
    val back = spark.read.parquet(dir)
    // 'en' replaced wholesale by the one batch row; 'de' rows intact
    assert(back.filter(col("lang") === "en").collect().map(_.getAs[Long]("id")).toSeq == Seq(9L))
    assert(back.filter(col("lang") === "de").collect().map(_.getAs[Long]("id")).toSeq == Seq(2L))
    // the untouched partition's FILES survive byte-for-byte — the
    // dynamic-vs-static distinction (static truncates the table first)
    assert(listing(s"$dir/lang=de") == deBefore)
  }

  test("S16k: metadata tables serve snapshots/files/manifests/partitions from the tree alone") {
    import graft.sources.{IcebergInspect, IcebergWrite}
    val dir = tempDir("graft_src") + "/iceberg_inspect"
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val first = docs.filter(col("doc_id") < 400)
    val second = docs.filter(col("doc_id") >= 400)
    IcebergWrite.write(first, dir, "doc_id", 4)
    IcebergWrite.append(second, dir)
    // snapshots: two commits in log order, the append parent-linked
    val snaps = IcebergInspect.snapshots(spark, dir).orderBy("ordinal").collect()
    assert(snaps.length == 2)
    assert(snaps(0).isNullAt(snaps(0).fieldIndex("parent_id")))
    assert(snaps(1).getAs[Long]("parent_id") == snaps(0).getAs[Long]("snapshot_id"))
    // files: every listed path exists on disk; record counts sum to the data
    val files = IcebergInspect.files(spark, dir).collect()
    assert(files.nonEmpty)
    assert(files.forall(f => new java.io.File(
      f.getAs[String]("file_path").stripPrefix("file:")).exists()))
    assert(files.map(_.getAs[Long]("record_count")).sum == docs.count())
    assert(files.forall(_.getAs[Int]("n_bound_cols") > 0)) // S16h bounds present
    // time-travel files view: snapshot 1 sees only the first commit
    val files1 = IcebergInspect.files(spark, dir, Some(1L)).collect()
    assert(files1.map(_.getAs[Long]("record_count")).sum == first.count())
    // manifests: the writer emits one manifest per (commit, bucket) —
    // 2 commits x 4 buckets — no deleted entries, counts consistent
    val mans = IcebergInspect.manifests(spark, dir).collect()
    assert(mans.length == 8 && mans.forall(_.getAs[Int]("n_deleted_files") == 0))
    assert(mans.map(_.getAs[Long]("record_count")).sum == docs.count())
    // partitions: rollup equals a groupBy over the data's bucket transform
    val parts = IcebergInspect.partitions(spark, dir).collect()
      .map(r => r.getAs[String]("partition") -> r.getAs[Long]("n_rows")).toMap
    val want = docs.groupBy(call_function("iceberg_bucket", col("doc_id"), lit(4)).as("b"))
      .count().collect().map(r => s"doc_id_bucket=${r.getAs[Int]("b")}" -> r.getAs[Long]("count")).toMap
    assert(parts == want)
  }

  test("S16i: merge with a NON-FIRST key column keeps column/field-id alignment") {
    // r13 regression: the using-column anti-join inside mergeImpl moves
    // keyCol to the front of its output; without the table-order
    // re-select, writeDataAndManifests stamped field ids positionally
    // and every merge keyed on a non-first column wrote value-swapped
    // files (columns 1 and keyCol exchanged payloads).
    import graft.sources.IcebergWrite
    import org.apache.spark.sql.{Row, types => T}
    val dir = tempDir("graft_src") + "/iceberg_merge_key2"
    val schema = T.StructType(Seq(
      T.StructField("ct", T.StringType), T.StructField("k", T.StringType),
      T.StructField("doc_id", T.LongType), T.StructField("text", T.StringType)))
    def df(rows: (String, String, Long, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (a, b, c, d) => Row(a, b, c, d) }),
      schema)
    IcebergWrite.write(df(("c1", "k1", 1L, "one"), ("c1", "k2", 2L, "two")),
      dir, "doc_id", "identity")
    IcebergWrite.mergeUpsert(df(("c2", "k2", 2L, "two-v2")), dir, "k")
    val back = spark.read.format("graft.sources.IcebergSource").load(dir)
      .orderBy("doc_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3))).toSeq
    assert(back == Seq(("c1", "k1", 1L, "one"), ("c2", "k2", 2L, "two-v2")),
      back.toString)
  }

  test("S16i: copy-on-write merge rewrites only touched partitions; time travel sees pre-merge rows") {
    import graft.sources.{IcebergRead, IcebergWrite}
    val dir = tempDir("graft_src") + "/iceberg_merge"
    val fmt = "graft.sources.IcebergSource"
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    IcebergWrite.write(docs, dir, "lang", "identity")
    val conf = spark.sparkContext.hadoopConfiguration
    val deFilesBefore = IcebergRead.planFiles(dir, conf, Some(("lang", "de"))).map(_.path).toSet
    // batch: UPDATE an existing 'en' doc's text + INSERT a new 'en' doc
    val en0 = docs.filter(col("lang") === "en").orderBy("doc_id").collect().head
    val enId = en0.getAs[Long]("doc_id")
    val updates = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(enId, "rewritten text", "en", en0.getAs[String]("source"), 14L),
        org.apache.spark.sql.Row(100000L, "brand new doc", "en", "srcX", 13L)),
      docs.schema)
    IcebergWrite.mergeUpsert(updates, dir, "doc_id")
    val cur = spark.read.format(fmt).load(dir)
    // upsert semantics: replaced key once with new payload, insert present
    assert(cur.count() == docs.count() + 1)
    assert(cur.filter(col("doc_id") === enId).collect().map(_.getAs[String]("text")).toSeq ==
      Seq("rewritten text"))
    assert(cur.filter(col("doc_id") === 100000L).count() == 1)
    // untouched partition: same physical files, carried verbatim
    val deFilesAfter = IcebergRead.planFiles(dir, conf, Some(("lang", "de"))).map(_.path).toSet
    assert(deFilesAfter == deFilesBefore, "merge rewrote an untouched partition")
    // touched partition: all-new files (copy-on-write, nothing mutated)
    val enFilesAfter = IcebergRead.planFiles(dir, conf, Some(("lang", "en"))).map(_.path).toSet
    assert(enFilesAfter.forall(_.contains("data-s2")), s"stale en files: $enFilesAfter")
    // time travel: snapshot 1 still reads the PRE-merge table
    val snap1 = spark.read.format(fmt).option("snapshot_id", "1").load(dir)
    assert(snap1.count() == docs.count())
    assert(snap1.filter(col("doc_id") === enId).collect().head.getAs[String]("text") ==
      en0.getAs[String]("text"))
    assert(snap1.filter(col("doc_id") === 100000L).count() == 0)
    // a second merge on top of a merge commits cleanly (v3)
    val updates2 = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(100000L, "edited again", "en", "srcX", 12L)),
      docs.schema)
    IcebergWrite.mergeUpsert(updates2, dir, "doc_id")
    val cur2 = spark.read.format(fmt).load(dir)
    assert(cur2.count() == docs.count() + 1)
    assert(cur2.filter(col("doc_id") === 100000L).collect().head.getAs[String]("text") ==
      "edited again")
    // merge AFTER a column rename: the replaced partition's surviving
    // rows were written under the OLD name — a by-name read would null
    // them; field-id resolution must keep their values intact
    IcebergWrite.renameColumn(spark, dir, "text", "body")
    val renamedSchema = spark.read.format(fmt).load(dir).schema
    val updates3 = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(100000L, "post-rename", "en", "srcX", 11L)),
      renamedSchema)
    IcebergWrite.mergeUpsert(updates3, dir, "doc_id")
    val cur3 = spark.read.format(fmt).load(dir)
    assert(cur3.filter(col("doc_id") === 100000L).collect().head.getAs[String]("body") ==
      "post-rename")
    // a pre-rename survivor in the SAME rewritten partition keeps its text
    assert(cur3.filter(col("doc_id") === enId).collect().head.getAs[String]("body") ==
      "rewritten text")
    assert(cur3.filter(col("body").isNull).count() == 0)
  }

  test("S16c: Iceberg identity and truncate partition transforms prune like bucket") {
    import graft.sources.{IcebergRead, IcebergWrite}
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    val fmt = "graft.sources.IcebergSource"
    // identity on lang (5 partitions): THE common real-world layout
    val idDir = tempDir("graft_src") + "/iceberg_identity"
    IcebergWrite.write(docs, idDir, "lang", "identity")
    assert(spark.read.format(fmt).load(idDir).count() == docs.count())
    val dePlan = IcebergRead.planFiles(idDir, conf, Some(("lang", "de")))
    assert(dePlan.nonEmpty &&
      dePlan.size < IcebergRead.planFiles(idDir, conf, None).size)
    assert(dePlan.forall(_.path.contains("_pv=de")))
    val de = spark.read.format(fmt).load(idDir).filter(col("lang") === "de")
    assert(de.count() == docs.filter(col("lang") === "de").count())
    assert(de.rdd.getNumPartitions == dePlan.size)
    // truncate[100] on doc_id (0..499 -> 5 partitions); long-typed
    // bounds drive the manifest-list prune
    val trDir = tempDir("graft_src") + "/iceberg_trunc"
    IcebergWrite.write(docs, trDir, "doc_id", "truncate[100]")
    assert(spark.read.format(fmt).load(trDir).count() == docs.count())
    val p250 = IcebergRead.planFiles(trDir, conf, Some(("doc_id", 250L)))
    assert(p250.nonEmpty &&
      p250.size < IcebergRead.planFiles(trDir, conf, None).size)
    assert(p250.forall(_.path.contains("_pv=200")))
    val probe = spark.read.format(fmt).load(trDir).filter(col("doc_id") === 250L)
    assert(probe.count() == 1)
    // width-mismatch regression (ADVICE r6): manifest-list bounds must
    // decode by their STORED byte width, not the probe's runtime class.
    // identity on an INT column (4-byte bounds) probed with a Long used
    // to throw BufferUnderflow; the inverse (Int probe vs 8-byte long
    // bounds) silently compared only the low 4 LE bytes. Both widths of
    // the same probe must prune identically.
    val wdir = tempDir("graft_src") + "/iceberg_idint"
    IcebergWrite.write(docs.withColumn("ki", (col("doc_id") % 5).cast("int")),
      wdir, "ki", "identity")
    val pL = IcebergRead.planFiles(wdir, conf, Some(("ki", 3L)))
    val pI = IcebergRead.planFiles(wdir, conf, Some(("ki", 3)))
    assert(pL.nonEmpty && pL.map(_.path).toSet == pI.map(_.path).toSet,
      "Long and Int probes against int identity bounds prune differently")
    assert(pL.size < IcebergRead.planFiles(wdir, conf, None).size)
  }

  test("S16h: Iceberg per-column bounds skip files on NON-partition predicates") {
    import graft.sources.{IcebergRead, IcebergWrite}
    import graft.sources.IcebergRead.ColRange
    val conf = spark.sparkContext.hadoopConfiguration
    val fmt = "graft.sources.IcebergSource"
    val dir = tempDir("graft_src") + "/iceberg_bounds"
    // 4 identity partitions on grp; v and s are NOT partition columns
    // but their per-file ranges are disjoint by construction, so the
    // data_file lower/upper bounds can prove most files irrelevant
    val rows = for { g <- 1 to 4; i <- 0 until 10 }
      yield (g.toLong * 1000 + i, g, g.toLong * 100 + i, f"g${g}_row$i%02d")
    val df0 = spark.createDataFrame(rows).toDF("id", "grp", "v", "s").repartition(1)
    // nullable schema: the DSv2 Group reader projects optional columns
    val df = spark.createDataFrame(df0.rdd,
      org.apache.spark.sql.types.StructType(df0.schema.map(_.copy(nullable = true))))
    IcebergWrite.write(df, dir, "grp", "identity")
    val all = IcebergRead.planFiles(dir, conf, None)
    assert(all.size == 4, s"expected one file per partition, got ${all.size}")
    // equality on non-partition long column v: only grp=2's file admits 205
    val eq205 = IcebergRead.planFiles(dir, conf, None,
      ranges = Seq(ColRange("v", Some(205L), Some(205L))))
    assert(eq205.size == 1 && eq205.head.path.contains("_pv=2"), eq205.toString)
    // range probe [150, 399] admits exactly the grp=2 and grp=3 files
    val range = IcebergRead.planFiles(dir, conf, None,
      ranges = Seq(ColRange("v", Some(150L), Some(399L))))
    assert(range.size == 2 && range.forall(f =>
      f.path.contains("_pv=2") || f.path.contains("_pv=3")), range.toString)
    // string bounds prune too (UTF-8 byte order)
    val sEq = IcebergRead.planFiles(dir, conf, None,
      ranges = Seq(ColRange("s", Some("g3_row05"), Some("g3_row05"))))
    assert(sEq.size == 1 && sEq.head.path.contains("_pv=3"), sEq.toString)
    // a probe outside every file's bounds prunes to zero files, and the
    // vectorized path returns an empty (not failing) result
    assert(IcebergRead.planFiles(dir, conf, None,
      ranges = Seq(ColRange("v", Some(9999L), Some(9999L)))).isEmpty)
    assert(IcebergRead.toDataFrame(spark, dir,
      ranges = Seq(ColRange("v", Some(9999L), Some(9999L)))).count() == 0)
    // DSv2: a filter on the non-partition column plans only the
    // admitted file (one InputPartition) and still lands the exact row
    val back = spark.read.format(fmt).load(dir)
    val probe = back.filter(col("v") === 205L)
    assert(probe.rdd.getNumPartitions == 1, s"expected 1 file, got ${probe.rdd.getNumPartitions}")
    assert(probe.count() == 1)
    assert(probe.select("s").collect().head.getString(0) == "g2_row05")
    // range predicates push the same way
    val probeRange = back.filter(col("v") >= 150L && col("v") <= 399L)
    assert(probeRange.rdd.getNumPartitions == 2)
    assert(probeRange.count() == 20)
    // appends carry bounds as well: the new batch's file is found by
    // its own disjoint range, old files stay pruned away
    val more0 = spark.createDataFrame(
      (0 until 10).map(i => (5000L + i, 5, 500L + i, f"g5_row$i%02d")))
      .toDF("id", "grp", "v", "s").repartition(1)
    val more = spark.createDataFrame(more0.rdd,
      org.apache.spark.sql.types.StructType(more0.schema.map(_.copy(nullable = true))))
    IcebergWrite.append(more, dir)
    val eq505 = IcebergRead.planFiles(dir, conf, None,
      ranges = Seq(ColRange("v", Some(505L), Some(505L))))
    assert(eq505.size == 1 && eq505.head.path.contains("data-s2"), eq505.toString)
    assert(spark.read.format(fmt).load(dir).filter(col("v") === 505L).count() == 1)
  }

  test("S16d: Iceberg temporal transforms — year/month/day on DATE, hour on TIMESTAMP (spec epoch offsets)") {
    import graft.sources.{IcebergRead, IcebergWrite}
    val conf = spark.sparkContext.hadoopConfiguration
    val fmt = "graft.sources.IcebergSource"
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_date"),
        col("o_totalprice"))
    val dir = tempDir("graft_src") + "/iceberg_month"
    IcebergWrite.write(orders, dir, "o_date", "month")
    assert(spark.read.format(fmt).load(dir).count() == orders.count())
    val probeDate = orders.agg(max(col("o_date"))).collect().head.getDate(0)
    val ld = probeDate.toLocalDate
    val expectedPv = (ld.getYear - 1970) * 12 + ld.getMonthValue - 1
    val all = IcebergRead.planFiles(dir, conf, None)
    val pruned = IcebergRead.planFiles(dir, conf, Some(("o_date", probeDate)))
    assert(pruned.nonEmpty && pruned.size < all.size)
    assert(pruned.forall(_.path.contains(s"_pv=$expectedPv")))
    // DSv2 date-equality pushdown prunes to the same file set; residual
    // filter still lands the exact rows
    val probe = spark.read.format(fmt).load(dir).filter(col("o_date") === probeDate)
    assert(probe.rdd.getNumPartitions == pruned.size)
    assert(probe.count() == orders.filter(col("o_date") === probeDate).count())
    // hour transform on a TIMESTAMP column (writer pins the spec's
    // int64-micros physical type; INT96 is not legal Iceberg). Spread
    // orders across hours so the prune is selective.
    val tsOrders = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"),
        (col("o_orderdate") + expr("make_interval(0, 0, 0, 0, CAST(o_orderkey % 24 AS INT), 0, 0)"))
          .cast("timestamp").as("o_ts"),
        col("o_totalprice"))
    val hDir = tempDir("graft_src") + "/iceberg_hour"
    IcebergWrite.write(tsOrders, hDir, "o_ts", "hour")
    val back = spark.read.format(fmt).load(hDir)
    assert(back.count() == tsOrders.count())
    // timestamps survive micros round trip exactly
    assert(back.agg(max(col("o_ts"))).collect().head.getTimestamp(0) ==
      tsOrders.agg(max(col("o_ts"))).collect().head.getTimestamp(0))
    val probeTs = tsOrders.agg(max(col("o_ts"))).collect().head.getTimestamp(0)
    val hPruned = IcebergRead.planFiles(hDir, conf, Some(("o_ts", probeTs)))
    assert(hPruned.nonEmpty &&
      hPruned.size < IcebergRead.planFiles(hDir, conf, None).size)
    val hProbe = spark.read.format(fmt).load(hDir).filter(col("o_ts") === probeTs)
    assert(hProbe.rdd.getNumPartitions == hPruned.size)
    assert(hProbe.count() == tsOrders.filter(col("o_ts") === probeTs).count())
  }

  test("S16e: Iceberg schema evolution — rename resolves via field-ids in old files, add surfaces NULL") {
    import graft.sources.{IcebergRead, IcebergWrite}
    val conf = spark.sparkContext.hadoopConfiguration
    val fmt = "graft.sources.IcebergSource"
    val dir = tempDir("graft_src") + "/iceberg_evolve"
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val first = docs.filter(col("doc_id") < 400)
    IcebergWrite.write(first, dir, "doc_id", 8)
    val baseSum = first.agg(sum(col("n_chars"))).collect().head.getLong(0)
    // RENAME a data column and the PARTITION SOURCE column — pure
    // metadata commits; the data files still carry the old names
    IcebergWrite.renameColumn(spark, dir, "n_chars", "char_count")
    IcebergWrite.renameColumn(spark, dir, "doc_id", "document_id")
    val back = spark.read.format(fmt).load(dir)
    assert(back.columns.contains("char_count") && !back.columns.contains("n_chars"))
    assert(back.columns.contains("document_id") && !back.columns.contains("doc_id"))
    // values resolve through field-ids (the files' parquet schema says
    // n_chars/doc_id; only the ids connect them to the new names)
    assert(back.agg(sum(col("char_count"))).collect().head.getLong(0) == baseSum)
    // partition pruning follows the rename: the probe uses the NEW
    // source-column name, the spec's source-id indirection finds it
    val all = IcebergRead.planFiles(dir, conf, None)
    val pruned = IcebergRead.planFiles(dir, conf, Some(("document_id", 42L)))
    assert(pruned.nonEmpty && pruned.size < all.size)
    assert(back.filter(col("document_id") === 42L).count() == 1)
    // the vectorized path resolves ids too (Spark's fieldId.read)
    val viaParquet = IcebergRead.toDataFrame(spark, dir, Some(("document_id", 42L)))
    assert(viaParquet.filter(col("document_id") === 42L).count() == 1)
    assert(viaParquet.agg(sum(col("char_count"))).collect().head.getLong(0) > 0)
    // APPEND after the rename: new files carry the new names, same ids;
    // a read spanning old-name and new-name files still resolves all
    val second = docs.filter(col("doc_id") >= 400)
      .withColumnRenamed("doc_id", "document_id")
      .withColumnRenamed("n_chars", "char_count")
    IcebergWrite.append(second, dir)
    val merged = spark.read.format(fmt).load(dir)
    assert(merged.count() == docs.count())
    assert(merged.agg(sum(col("char_count"))).collect().head.getLong(0) ==
      docs.agg(sum(col("n_chars"))).collect().head.getLong(0))
    // ADD a column: old files predate its id -> NULL everywhere, row
    // count unchanged, and writing it never touched a data file
    IcebergWrite.addColumn(spark, dir, "quality_score", "long")
    val withAdd = spark.read.format(fmt).load(dir)
    assert(withAdd.columns.contains("quality_score"))
    assert(withAdd.filter(col("quality_score").isNotNull).count() == 0)
    assert(withAdd.count() == docs.count())
  }

  test("S16m: incremental read returns exactly the rows appended in the snapshot range") {
    import graft.sources.{IcebergRead, IcebergWrite}
    val dir = tempDir("graft_src") + "/iceberg_incr"
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val base = docs.filter(col("doc_id") < 300)
    val add1 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val add2 = docs.filter(col("doc_id") >= 400)
    IcebergWrite.write(base, dir, "doc_id", 8)
    IcebergWrite.append(add1, dir)
    IcebergWrite.append(add2, dir)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // each append range in isolation, then the union of both
    assert(ids(IcebergRead.incrementalRead(spark, dir, 1L, 2L)) == ids(add1))
    assert(ids(IcebergRead.incrementalRead(spark, dir, 2L, 3L)) == ids(add2))
    assert(ids(IcebergRead.incrementalRead(spark, dir, 1L, 3L)) ==
      ids(add1.unionByName(add2)))
    // from == to → empty, schema intact
    val empty = IcebergRead.incrementalRead(spark, dir, 3L, 3L)
    assert(empty.count() == 0 && empty.columns.contains("text"))
    // a replace/overwrite snapshot in range fails fast: the file diff
    // would replay surviving rows as if added
    IcebergWrite.mergeUpsert(
      docs.filter(col("doc_id") === 5L)
        .withColumn("text", lit("changed")), dir, "doc_id")
    val e = intercept[IllegalArgumentException] {
      IcebergRead.incrementalRead(spark, dir, 3L, 4L).collect()
    }
    assert(e.getMessage.contains("incremental"), e.getMessage)
    // ranges that END before the merge still serve
    assert(ids(IcebergRead.incrementalRead(spark, dir, 2L, 3L)) == ids(add2))
  }

  test("S16j: compaction re-lays the table under the current spec and unblocks merge") {
    import graft.sources.{IcebergRead, IcebergWrite}
    val conf = spark.sparkContext.hadoopConfiguration
    val fmt = "graft.sources.IcebergSource"
    val dir = tempDir("graft_src") + "/iceberg_compact"
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    IcebergWrite.write(docs.filter(col("doc_id") < 300), dir, "doc_id", 8)
    IcebergWrite.append(docs.filter(col("doc_id") >= 300), dir)
    IcebergWrite.evolveSpec(spark, dir, "lang", "identity")
    // merge after spec evolution must refuse (old-spec manifests)
    val en0 = docs.filter(col("lang") === "en").orderBy("doc_id").collect().head
    val upd = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        en0.getAs[Long]("doc_id"), "patched", "en", en0.getAs[String]("source"), 7L)),
      docs.schema)
    val ex = intercept[IllegalArgumentException] {
      IcebergWrite.mergeUpsert(upd, dir, "doc_id")
    }
    assert(ex.getMessage.contains("compact first"))
    // compact: full rewrite under the CURRENT (identity-on-lang) spec
    val filesBefore = IcebergRead.planFiles(dir, conf, None).map(_.path).toSet
    IcebergWrite.compact(spark, dir)
    val after = spark.read.format(fmt).load(dir)
    assert(after.count() == docs.count())
    assert(after.agg(sum(col("n_chars"))).collect().head.getLong(0) ==
      docs.agg(sum(col("n_chars"))).collect().head.getLong(0))
    // all-new files in the new layout; lang probe now prunes strictly
    val filesAfter = IcebergRead.planFiles(dir, conf, None).map(_.path).toSet
    assert(filesAfter.intersect(filesBefore).isEmpty)
    val pruned = IcebergRead.planFiles(dir, conf, Some(("lang", "en")))
    assert(pruned.nonEmpty && pruned.size < filesAfter.size)
    // earlier snapshots still read the pre-compaction files
    assert(spark.read.format(fmt).option("snapshot_id", "2").load(dir).count() == docs.count())
    // and merge now commits cleanly on the normalized table
    IcebergWrite.mergeUpsert(upd, dir, "doc_id")
    val merged = spark.read.format(fmt).load(dir)
    assert(merged.count() == docs.count())
    assert(merged.filter(col("doc_id") === en0.getAs[Long]("doc_id"))
      .collect().head.getAs[String]("text") == "patched")
  }

  test("S16f: Iceberg partition-spec evolution — old manifests prune under their own spec, no data rewrite") {
    import graft.sources.{IcebergRead, IcebergWrite}
    val conf = spark.sparkContext.hadoopConfiguration
    val fmt = "graft.sources.IcebergSource"
    val dir = tempDir("graft_src") + "/iceberg_spec_evolve"
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val first = docs.filter(col("doc_id") < 400)
    val second = docs.filter(col("doc_id") >= 400)
    IcebergWrite.write(first, dir, "doc_id", 8) // spec 0: bucket[8] on doc_id
    val dataFilesBefore = IcebergRead.planFiles(dir, conf, None).map(_.path).toSet
    // re-layout going forward: identity on lang — a pure metadata commit
    IcebergWrite.evolveSpec(spark, dir, "lang", "identity")
    // no data file was touched by the evolution itself
    assert(IcebergRead.planFiles(dir, conf, None).map(_.path).toSet == dataFilesBefore)
    IcebergWrite.append(second, dir) // lands under spec 1
    val merged = spark.read.format(fmt).load(dir)
    assert(merged.count() == docs.count())
    assert(merged.agg(sum(col("n_chars"))).collect().head.getLong(0) ==
      docs.agg(sum(col("n_chars"))).collect().head.getLong(0))
    val all = IcebergRead.planFiles(dir, conf, None)
    // probe on the NEW layout's column: spec-1 files prune to one lang
    // partition, spec-0 files (bucket on doc_id) are all kept — never
    // dropped, so the result stays exact
    val lang = docs.select(col("lang")).distinct().limit(1).collect().head.getString(0)
    val langPruned = IcebergRead.planFiles(dir, conf, Some(("lang", lang)))
    assert(langPruned.size < all.size)
    assert(dataFilesBefore.subsetOf(langPruned.map(_.path).toSet))
    assert(spark.read.format(fmt).load(dir).filter(col("lang") === lang).count() ==
      docs.filter(col("lang") === lang).count())
    // probe on the OLD layout's column: spec-0 files prune to one
    // bucket, every spec-1 file is kept
    val idPruned = IcebergRead.planFiles(dir, conf, Some(("doc_id", 42L)))
    assert(idPruned.size < all.size)
    val spec1Files = all.map(_.path).toSet -- dataFilesBefore
    assert(spec1Files.subsetOf(idPruned.map(_.path).toSet))
    assert(spark.read.format(fmt).load(dir).filter(col("doc_id") === 42L).count() == 1)
    // a second evolution stacks: truncate[200] on doc_id becomes spec 2
    IcebergWrite.evolveSpec(spark, dir, "doc_id", "truncate[200]")
    IcebergWrite.append(
      docs.filter(lit(false)), dir) // empty append just exercises the new default
    val meta = graft.sources.IcebergMeta.load(dir, conf)
    assert(meta.specs.keySet == Set(0, 1, 2) && meta.defaultSpecId == 2)
    assert(spark.read.format(fmt).load(dir).count() == docs.count())
  }

  test("S16n: column names and summary values with quotes and backslashes round-trip the metadata") {
    // the partition column stays plain: Avro names (the manifest's
    // partition tuple) forbid both characters
    import graft.sources.{IcebergInspect, IcebergRead, IcebergWrite}
    import org.apache.spark.sql.Row
    val dir = tempDir("graft_src") + "/iceberg_escape"
    val quoted = "say \"hi\""
    val slashed = "back\\slash"
    val schema = StructType(Seq(StructField("id", LongType), StructField(quoted, StringType),
      StructField(slashed, LongType)))
    def rows(ids: Long*) = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(i => Row(i, s"v$i", i * 10))), schema)
    val note = "a \"quoted\" \\ value"
    IcebergWrite.write(rows(1L, 2L), dir, "id", "identity", Map("note" -> note))
    IcebergWrite.append(rows(3L), dir, Map("note" -> note))
    val added = "new \"col\" \\ x"
    IcebergWrite.addColumn(spark, dir, added, "long")
    val back = IcebergRead.toDataFrame(spark, dir)
    assert(back.columns.toSeq == Seq("id", quoted, slashed, added))
    assert(back.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.isNullAt(3))).toSeq ==
      Seq((1L, "v1", 10L, true), (2L, "v2", 20L, true), (3L, "v3", 30L, true)))
    val summaries = IcebergInspect.snapshots(spark, dir).collect().map(_.getAs[String]("summary"))
    assert(summaries.length == 2 && summaries.forall(_.contains(s"note=$note")), summaries.toSeq)
  }

  test("S16o: a DataFrame loaded before an append counts the appended rows on its next action") {
    // the table metadata is resolved once per scan builder, i.e. per
    // action, and never cached on the loaded table
    import graft.sources.IcebergWrite
    val dir = tempDir("graft_src") + "/iceberg_fresh"
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val first = docs.filter(col("doc_id") < 400)
    IcebergWrite.write(first, dir, "doc_id", 8)
    val loaded = spark.read.format("graft.sources.IcebergSource").load(dir)
    assert(loaded.count() == first.count())
    IcebergWrite.append(docs.filter(col("doc_id") >= 400), dir)
    assert(loaded.count() == docs.count())
    assert(loaded.filter(col("doc_id") >= 400).count() == docs.count() - first.count())
  }

  test("M1b: HLL COMPUTE STATS matches the exact variant within rsd, with no Expand in its plan") {
    val exact = SparkEntry.queries("stats_table")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val approxDf = SparkEntry.queries("stats_table_ndv")(spark, sf0001)
    val approx = approxDf.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (c, nd) =>
      assert(math.abs(approx(c) - nd) <= math.max(2.0, 0.15 * nd),
        s"$c: hll ${approx(c)} vs exact $nd")
    }
    // the point of the HLL form: one scan, no Expand (the exact
    // 4×count-DISTINCT plan multiplies the fact 4× through Expand)
    val plan = approxDf.queryExecution.sparkPlan.toString
    assert(!plan.contains("Expand"), s"HLL stats plan still expands:\n${plan.take(600)}")
    val exactPlan = SparkEntry.queries("stats_table")(spark, sf0001)
      .queryExecution.sparkPlan.toString
    assert(exactPlan.contains("Expand"), "exact variant no longer expands — update this contrast test")
  }

  test("M1c: incremental per-partition stats merge to the whole-table numbers") {
    val rows = SparkEntry.queries("stats_table_incremental")(spark, sf0001).collect()
    val (tableRows, partRows) = rows.partition(_.getString(0) == "TABLE")
    assert(tableRows.length == 1 && partRows.nonEmpty)
    val table = tableRows.head
    // partition row counts sum EXACTLY to the merged table row
    assert(partRows.map(_.getLong(1)).sum == table.getLong(1))
    assert(partRows.map(_.getLong(2)).sum == table.getLong(2))
    // merged HLL ndv matches the exact whole-table distinct within rsd
    val t = Tables(spark, sf0001)
    val exact = t.orders.agg(
      countDistinct(col("o_custkey")), countDistinct(col("o_orderpriority")))
      .collect().head
    assert(math.abs(table.getLong(3) - exact.getLong(0)) <=
      math.max(2.0, 0.15 * exact.getLong(0)),
      s"merged cust ndv ${table.getLong(3)} vs exact ${exact.getLong(0)}")
    assert(math.abs(table.getLong(4) - exact.getLong(1)) <=
      math.max(2.0, 0.15 * exact.getLong(1)),
      s"merged prio ndv ${table.getLong(4)} vs exact ${exact.getLong(1)}")
    // the incremental property: a partition's ndv never exceeds the
    // merged table ndv (sketch union is monotone)
    partRows.foreach { p =>
      assert(p.getLong(3) <= table.getLong(3) + 2, s"partition ${p.getString(0)}")
    }
  }

  test("M4: compaction merges small files to the byte-sized target count, losslessly") {
    import graft.operators.TableOps
    val in = tempDir("graft_src") + "/shattered"
    val out = tempDir("graft_src") + "/compacted"
    li.repartition(32).write.mode(SaveMode.Overwrite).parquet(in)
    def parquetFiles(d: String) =
      new java.io.File(d).listFiles.filter(_.getName.endsWith(".parquet"))
    val inFiles = parquetFiles(in)
    assert(inFiles.length == 32)
    val totalBytes = inFiles.map(_.length).sum
    val target = math.max(1L, totalBytes / 4) // aim for ~4 output files
    val compacted = TableOps.compactFiles(spark, in, out, target)
    val outFiles = parquetFiles(out)
    val expected = ((totalBytes + target - 1) / target).toInt
    assert(outFiles.length == expected, s"got ${outFiles.length}, want $expected")
    assert(outFiles.length < inFiles.length)
    // lossless: same rows (counts and a content checksum)
    assert(compacted.count() == li.count())
    val sumIn = li.agg(sum(col("l_orderkey") * col("l_linenumber"))).collect().head.get(0)
    val sumOut = compacted.agg(sum(col("l_orderkey") * col("l_linenumber"))).collect().head.get(0)
    assert(sumIn == sumOut)
  }

  test("S8: dynamic partition pruning injects a runtime filter from the dim side") {
    // Impala parity: partition-key runtime filters
    // (apache-impala-4.1.0/be/src/runtime/runtime-filter.h) — Spark's
    // twin is DPP: the broadcast dim's join keys prune fact PARTITIONS
    // at scan time, visible as a dynamicpruning PartitionFilter.
    import spark.implicits._
    val dir = tempDir("graft_src")
    li.write.partitionBy("l_returnflag").mode(SaveMode.Overwrite).parquet(dir)
    val fact = spark.read.parquet(dir)
    // dim must be file-backed: a LocalRelation would constant-fold the
    // filter away and DPP sees no selective predicate to derive from
    val dimDir = tempDir("graft_src")
    Seq(("R", "returned"), ("A", "acknowledged"), ("N", "none"))
      .toDF("flag", "meaning").write.mode(SaveMode.Overwrite).parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val j = fact.join(dim.filter(col("meaning") === "returned"),
      col("l_returnflag") === col("flag"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(2500))
    assert(j.count() == li.filter(col("l_returnflag") === "R").count())
  }

  test("S9: DataSource V2 custom source with column pruning and id-range pushdown") {
    val df = spark.read.format("graft.sources.SeqSource")
      .option("rows", 1000).option("numPartitions", 8).load()
    assert(df.count() == 1000)
    // range pushdown narrows partition spans BEFORE scheduling
    val filtered = df.filter(col("id") >= 250 && col("id") < 500).select("id", "val")
    assert(filtered.count() == 250)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("graft_seq range=[250,500)"), scan.take(1500))
    // column pruning reaches the reader
    assert(scan.contains("cols=id,val"), scan.take(1500))
    // values are the deterministic synthetic ones
    val r = df.filter(col("id") === 7).collect().head
    assert(r.getAs[Double]("val") == graft.sources.SeqSource.valOf(7))
    assert(r.getAs[String]("label") == "L7")
    // an unsatisfiable range plans zero partitions → empty, no tasks
    assert(df.filter(col("id") > 5000).count() == 0)
  }

  test("S9b: SeqSource rejects a mismatched user schema; Int filters still prune") {
    // Round-2 advisor: a user-supplied schema was silently ignored. Spark 4
    // rejects it at the DataFrameReader level (supportsExternalMetadata is
    // false); getTable's own require() backstops direct V2 callers.
    val bad = intercept[Exception] {
      spark.read.format("graft.sources.SeqSource")
        .schema("wrong STRING").option("rows", 10).load().collect()
    }
    assert(bad.getMessage.contains("does not support user-specified schema")
      || bad.getMessage.contains("fixed schema"), bad.getMessage)
    val direct = intercept[IllegalArgumentException] {
      new graft.sources.SeqSource().getTable(
        org.apache.spark.sql.types.StructType.fromDDL("wrong STRING"),
        Array.empty, new java.util.HashMap[String, String]())
    }
    assert(direct.getMessage.contains("fixed schema"), direct.getMessage)
    // Int-boxed (not just Long-boxed) range values must still narrow spans.
    val sb = new graft.sources.SeqScanBuilder(1000, 8)
    sb.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", Integer.valueOf(250)),
      org.apache.spark.sql.sources.LessThan("id", Integer.valueOf(500))))
    assert(sb.pushedFilters().length == 2)
    val scan = sb.build()
    assert(scan.description().contains("range=[250,500)"), scan.description())
  }

  test("S10: zorder64 range-partitioned write narrows per-file min/max spans") {
    // The layout claim behind layout_zorder: files written in Morton-key
    // ranges carry narrow min/max stats on BOTH dimensions, so a
    // 2-D-filtered scan row-group-prunes. Quantify: per-file span of
    // l_partkey under zorder layout vs the same data round-robin'd.
    val dir = tempDir("graft_zorder")
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_partkey"), col("l_suppkey"))
      .withColumn("zkey", call_function("zorder64", col("l_partkey"), col("l_suppkey")))
    li.repartitionByRange(8, col("zkey")).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/zordered")
    li.repartition(8).write.mode(SaveMode.Overwrite).parquet(s"$dir/shuffled")
    def meanSpan(path: String): Double = {
      val spans = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max("l_partkey") - min("l_partkey")).cast("double").as("span"))
        .collect().map(_.getAs[Double]("span"))
      spans.sum / spans.length
    }
    val (z, s) = (meanSpan(s"$dir/zordered"), meanSpan(s"$dir/shuffled"))
    // round-robin files span ~the whole key domain; zorder files a fraction
    assert(z < s * 0.7, s"zorder mean partkey span $z not narrower than shuffled $s")
  }

  test("S11: malformed CSV rows — PERMISSIVE captures, DROPMALFORMED skips") {
    // Impala scans tolerate bad rows and surface them as warnings/error
    // rows (hdfs-scan-node error handling); Spark's twin is the CSV
    // parse-mode contract, pinned here for both modes.
    val dir = tempDir("graft_badcsv")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/data.csv"),
      "1,alpha,10.5\n2,beta,not_a_number\n3,gamma,30.25\n".getBytes("UTF-8"))
    val schema = new StructType()
      .add("id", LongType).add("name", StringType).add("v", DoubleType)
      .add("_corrupt", StringType)
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt")
      .csv(dir).cache()
    assert(permissive.count() == 3)
    val bad = permissive.filter(col("_corrupt").isNotNull).collect()
    assert(bad.length == 1 && bad.head.getAs[Long]("id") == 2)
    permissive.unpersist()
    val dropped = spark.read.schema(new StructType()
        .add("id", LongType).add("name", StringType).add("v", DoubleType))
      .option("mode", "DROPMALFORMED").csv(dir)
    // Trap: count() prunes all columns, so the bad double is never
    // parsed and NOTHING drops (count=3). Malformation is only
    // detected for columns the query actually reads — select v.
    val rows = dropped.select("id", "v").collect()
    assert(rows.length == 2, s"expected bad row dropped, got ${rows.length}")
    assert(rows.map(_.getDouble(1)).sum == 40.75)
  }

  test("S2: ORC round trip") {
    val dir = tempDir("graft_src")
    li.limit(100).write.mode(SaveMode.Overwrite).orc(dir)
    assert(spark.read.orc(dir).count() == 100)
  }

  test("S3: CSV round trip with explicit schema") {
    val dir = tempDir("graft_src")
    val subset = li.select("l_orderkey", "l_quantity", "l_returnflag").limit(50)
    subset.write.mode(SaveMode.Overwrite).option("header", "true").csv(dir)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_quantity", DoubleType),
      StructField("l_returnflag", StringType)))
    val back = spark.read.schema(schema).option("header", "true").csv(dir)
    assert(back.count() == 50)
    assert(back.schema == schema)
  }

  test("S4: JSON round trip preserves nested structs") {
    val dir = tempDir("graft_src")
    val df = li.limit(20).select(col("l_orderkey"),
      struct(col("l_quantity"), col("l_discount")).as("metrics"))
    df.write.mode(SaveMode.Overwrite).json(dir)
    val back = spark.read.json(dir)
    assert(back.count() == 20)
    assert(back.select("metrics.l_quantity").count() == 20)
  }

  test("S5: predicate and projection pushdown reach the parquet scan") {
    val q = li.filter(col("l_quantity") > 40.0).select("l_orderkey", "l_quantity")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("l_quantity"))
    assert(scan.contains("ReadSchema") && !scan.contains("l_comment"))
  }

  test("S3b: text format round trip") {
    val dir = tempDir("graft_src")
    li.select(concat_ws("|", col("l_orderkey"), col("l_returnflag")).as("value"))
      .limit(30).write.mode(SaveMode.Overwrite).text(dir)
    val back = spark.read.text(dir)
    assert(back.count() == 30)
    assert(back.schema.fieldNames.sameElements(Array("value")))
  }

  test("S1b: parquet compression codecs (snappy, zstd) round trip") {
    for (codec <- Seq("snappy", "zstd")) {
      val dir = tempDir("graft_src")
      li.limit(200).write.mode(SaveMode.Overwrite)
        .option("compression", codec).parquet(dir)
      assert(spark.read.parquet(dir).count() == 200, codec)
    }
  }

  test("S6: dynamic partition overwrite replaces only the written partition") {
    val dir = tempDir("graft_src")
    SparkSpec.withConf("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      li.write.partitionBy("l_returnflag").mode(SaveMode.Overwrite).parquet(dir)
      val before = spark.read.parquet(dir).filter(col("l_returnflag") =!= "R").count()
      // overwrite only partition R with a single row
      spark.read.parquet(dir).filter(col("l_returnflag") === "R").limit(1)
        .write.partitionBy("l_returnflag").mode(SaveMode.Overwrite).parquet(dir)
      val after = spark.read.parquet(dir)
      assert(after.filter(col("l_returnflag") === "R").count() == 1)
      assert(after.filter(col("l_returnflag") =!= "R").count() == before)
    }
  }

  // ---------------------------------------------------------------
  // S18: Hive ACID table reads (public Hive 3 base/delta layout;
  // reference semantics: AcidUtils.java + acid-metadata-utils.cc)
  // ---------------------------------------------------------------

  import graft.sources.HiveAcid
  import graft.sources.HiveAcid.ValidWriteIds

  test("S18: ACID dir-name parsing — base/delta/delete_delta, stmt ids, visibility txns") {
    assert(HiveAcid.parseBase("base_0000005").contains(HiveAcid.ParsedBase(5L, -1L)))
    assert(HiveAcid.parseBase("base_0000003_v0003217").contains(HiveAcid.ParsedBase(3L, 3217L)))
    assert(HiveAcid.parseBase("delta_1_1").isEmpty)
    assert(HiveAcid.parseDelta("delta_0000006_0000006")
      .contains(HiveAcid.ParsedDelta(6L, 6L, -1L, -1L, isDelete = false)))
    assert(HiveAcid.parseDelta("delta_0000009_0000009_0000")
      .contains(HiveAcid.ParsedDelta(9L, 9L, 0L, -1L, isDelete = false)))
    assert(HiveAcid.parseDelta("delta_0000001_0000005_v0000099")
      .contains(HiveAcid.ParsedDelta(1L, 5L, -1L, 99L, isDelete = false)))
    assert(HiveAcid.parseDelta("delete_delta_0000008_0000008")
      .contains(HiveAcid.ParsedDelta(8L, 8L, -1L, -1L, isDelete = true)))
    assert(HiveAcid.parseDelta("base_0000005").isEmpty)
    assert(HiveAcid.parseDelta("delta_0000001_0000005_v0000099").get.isCompacted)
  }

  test("S18: bucket property encodes BucketCodec V1 (version | bucketId | statementId)") {
    // 1<<29 | bucket<<16 | stmt — the reference's GetBucketProperty layout
    assert(HiveAcid.bucketProperty("delta_0000001_0000001_0007/bucket_00001") ==
      ((1 << 29) | (1 << 16) | 7))
    assert(HiveAcid.bucketProperty("/w/t/delta_0000001_0000001/bucket_00042") ==
      ((1 << 29) | (42 << 16)))
    // original files: leading int is the bucket id; base dirs carry stmt 0
    assert(HiveAcid.bucketProperty("base_0000005/000002_0") == ((1 << 29) | (2 << 16)))
    assert(HiveAcid.bucketProperty("000003_0_copy_1") == ((1 << 29) | (3 << 16)))
    // names matching neither pattern → -1 (the reference's sentinel)
    assert(HiveAcid.bucketProperty("delta_0000001_0000001/part-0000.parquet") == -1)
  }

  test("S18: ValidWriteIds parses the Hive ValidReaderWriteIdList string") {
    // table:hwm:minOpen:open:aborted
    val ids = ValidWriteIds.parse("db.tbl:7:4:4,6:3")
    assert(ids.highWatermark == 7L && ids.open == Set(4L, 6L) && ids.aborted == Set(3L))
    assert(ids.isValid(5L) && !ids.isValid(4L) && !ids.isValid(3L) && !ids.isValid(8L))
    val noneOpen = ValidWriteIds.parse("db.tbl:5:9223372036854775807::")
    assert(noneOpen == ValidWriteIds(5L))
  }

  test("S18: base supersedes older bases, originals and covered deltas") {
    val st = HiveAcid.selectDirs(Seq(
      "000000_0", "base_0000003", "base_0000005", "delta_0000004_0000004",
      "delta_0000005_0000005", "delta_0000006_0000006", "_SUCCESS"),
      ValidWriteIds(6L))
    assert(st.base.contains("base_0000005"))
    assert(st.originals.isEmpty) // folded into the base by compaction
    assert(st.deltas == Seq("delta_0000006_0000006"))
  }

  test("S18: originals (pre-upgrade files) read only when no base exists") {
    val st = HiveAcid.selectDirs(Seq("000000_0", "000001_0", "delta_0000001_0000001"),
      ValidWriteIds(1L))
    assert(st.base.isEmpty && st.originals == Seq("000000_0", "000001_0"))
    assert(st.deltas == Seq("delta_0000001_0000001"))
  }

  test("S18: minor compaction output supersedes the deltas it folded in") {
    val st = HiveAcid.selectDirs(Seq(
      "delta_0000001_0000001", "delta_0000002_0000002", "delta_0000003_0000003",
      "delta_0000001_0000003_v0000077", "delta_0000004_0000004"),
      ValidWriteIds(4L))
    assert(st.deltas == Seq("delta_0000001_0000003_v0000077", "delta_0000004_0000004"))
  }

  test("S18: aborted and open (beyond-watermark) write ids are excluded") {
    val st = HiveAcid.selectDirs(Seq(
      "delta_0000001_0000001", "delta_0000002_0000002", "delta_0000003_0000003",
      "delta_0000004_0000004"),
      ValidWriteIds(3L, aborted = Set(2L)))
    assert(st.deltas == Seq("delta_0000001_0000001", "delta_0000003_0000003"))
  }

  test("S18: a base covering an OPEN write id is unusable; aborted ids do not invalidate it") {
    val open = HiveAcid.selectDirs(Seq("base_0000005", "delta_0000006_0000006"),
      ValidWriteIds(6L, open = Set(3L)))
    assert(open.base.isEmpty) // write 3 still open below base_5
    val aborted = HiveAcid.selectDirs(Seq("base_0000005", "delta_0000006_0000006"),
      ValidWriteIds(6L, aborted = Set(3L)))
    assert(aborted.base.contains("base_0000005")) // compactor dropped aborted rows
  }

  test("S18: all statement deltas of one multi-statement txn are kept") {
    val st = HiveAcid.selectDirs(Seq(
      "delta_0000002_0000002_0000", "delta_0000002_0000002_0001",
      "delta_0000003_0000003"), ValidWriteIds(3L))
    assert(st.deltas.toSet ==
      Set("delta_0000002_0000002_0000", "delta_0000002_0000002_0001",
        "delta_0000003_0000003"))
  }

  test("S18: delete_delta pairs with its matching range; Hive Streaming side-file throws") {
    val st = HiveAcid.selectDirs(Seq(
      "base_0000001", "delta_0000002_0000002", "delete_delta_0000002_0000002"),
      ValidWriteIds(2L))
    assert(st.deltas == Seq("delta_0000002_0000002"))
    assert(st.deleteDeltas == Seq("delete_delta_0000002_0000002"))
    intercept[IllegalStateException] {
      HiveAcid.selectDirs(Seq("delta_0000002_0000002", "delta_0000002_0000002_flush_length"),
        ValidWriteIds(2L))
    }
  }

  test("S18: rangeValidity answers by set arithmetic — exact on multi-million-id ranges") {
    // a minor-compacted range spanning millions must answer without an
    // id-by-id walk (this is driver-side, per directory, per listing)
    val wide = ValidWriteIds(highWatermark = 4000000L,
      open = Set(7L), aborted = Set(3000000L))
    assert(wide.rangeValidity(1L, 4000000L) == HiveAcid.RangeSome)
    assert(wide.rangeValidity(8L, 2999999L) == HiveAcid.RangeAll)
    assert(wide.rangeValidity(4000001L, 5000000L) == HiveAcid.RangeNone)
    assert(wide.rangeValidity(7L, 7L) == HiveAcid.RangeNone)
    assert(wide.rangeValidity(3999999L, 4000002L) == HiveAcid.RangeSome)
    // brute-force equivalence over every window of a small id space
    val small = ValidWriteIds(10L, open = Set(3L, 9L), aborted = Set(5L))
    for (mn <- 1L to 12L; mx <- mn to 12L) {
      val flags = (mn to mx).map(small.isValid)
      val expect =
        if (flags.forall(identity)) HiveAcid.RangeAll
        else if (flags.exists(identity)) HiveAcid.RangeSome
        else HiveAcid.RangeNone
      assert(small.rangeValidity(mn, mx) == expect, s"[$mn,$mx]")
    }
    assert(small.noOpenIn(4L, 8L) && !small.noOpenIn(2L, 4L) && !small.noOpenIn(8L, 11L))
  }

  test("S18: mid-write or txn-invisible compaction output cannot supersede (batch gate)") {
    val root = tempDir("graft_src")
    def docs(ids: Long*) = {
      import org.apache.spark.sql.Row
      spark.createDataFrame(
        spark.sparkContext.parallelize(ids.map(id => Row(id))),
        StructType(Seq(StructField("doc_id", LongType))))
    }
    docs(1L).write.parquet(s"$root/delta_0000001_0000001")
    docs(2L).write.parquet(s"$root/delta_0000002_0000002")
    docs(3L).write.parquet(s"$root/delta_0000003_0000003")
    // the compactor has STARTED base_0000003_v0000099 (dir exists, only
    // an in-flight _temporary inside) — name presence must not let it
    // swallow the three deltas it claims to cover
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/base_0000003_v0000099/_temporary"))
    val ids = ValidWriteIds(highWatermark = 3L)
    def read(txns: Option[Set[Long]] = None) =
      HiveAcid.readInsertOnly(spark, root, ids, visibleTxns = txns)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(read() == Seq(1L, 2L, 3L)) // base mid-write: deltas stand
    // base completes — distinguishable payload proves WHICH dirs read
    docs(101L, 102L, 103L).write.mode("overwrite")
      .parquet(s"$root/base_0000003_v0000099")
    assert(read() == Seq(101L, 102L, 103L)) // committed base supersedes
    // with a valid-txn list that does NOT contain compactor txn 99, the
    // base is invisible again (the reference's ValidTxnList gate)
    assert(read(Some(Set(98L))) == Seq(1L, 2L, 3L))
    assert(read(Some(Set(99L))) == Seq(101L, 102L, 103L))
  }

  test("S18 property: selectDirs covers every visible id exactly once over random legal layouts") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.Parameters
    // Model: ids 1..n split committed/aborted; snapshot hwm; dirs that
    // Hive could legally leave on disk — single-id deltas for committed
    // ids (and, until the cleaner runs, for aborted ones), optionally a
    // base_k (k <= hwm, folding everything <= k) and a minor compaction
    // delta_a_b (above the base, range accounted, b <= hwm) — with the
    // cleaner having removed a RANDOM subset of the folded inputs.
    val genCase = for {
      n <- Gen.choose(5, 20)
      aborted <- Gen.someOf(1 to n)
      hwm <- Gen.choose(0, n)
      baseK <- Gen.oneOf(0 +: (1 to hwm))
      abortedDirs <- Gen.someOf(aborted) // uncleaned aborted-write dirs
      compact <- {
        val starts = (baseK + 1) to hwm
        val legal = for {
          a <- starts
          b <- a to hwm
          if (a to b).nonEmpty && b > a // multi-id ranges only
        } yield (a, b)
        Gen.oneOf((0, 0) +: legal)
      }
      cleaned <- Gen.someOf(1 to n) // cleaner candidates (filtered below)
    } yield (n, aborted.toSet, hwm, baseK, abortedDirs.toSet, compact, cleaned.toSet)
    val prop = Prop.forAll(genCase) {
      case (n, aborted, hwm, baseK, abortedDirs, (ca, cb), cleaned) =>
        val committed = (1 to n).filterNot(aborted).toSet
        // a plain dir may be cleaned only if a base or compaction folded it
        def folded(i: Int) = i <= baseK || (ca > 0 && i >= ca && i <= cb)
        val plainIds = ((committed ++ abortedDirs) -- cleaned.filter(folded))
          .filterNot(i => ca > 0 && i >= ca && i <= cb && cleaned(i))
        val names =
          plainIds.toSeq.sorted.map(i => f"delta_$i%07d_$i%07d") ++
            (if (baseK > 0) Seq(f"base_$baseK%07d") else Nil) ++
            (if (ca > 0) Seq(f"delta_$ca%07d_$cb%07d_v0000099") else Nil)
        val ids = HiveAcid.ValidWriteIds(hwm.toLong,
          aborted = aborted.map(_.toLong))
        val st = HiveAcid.selectDirs(names, ids)
        // coverage of each selected data dir, in ids
        def cover(d: String): Seq[Int] = d match {
          case s if s.startsWith("base_") => 1 to baseK
          case _ =>
            val m = """delta_(\d+)_(\d+).*""".r
            val m(a, b) = d: @unchecked
            a.toInt to b.toInt
        }
        val covered = st.dataDirs.flatMap(cover)
        // visible = committed, <= hwm, and covered by SOME surviving dir
        val visible = committed.filter(v => v <= hwm &&
          (v <= baseK || plainIds(v) || (ca > 0 && v >= ca && v <= cb)))
        // every visible id exactly once; no plain dir beyond the hwm or
        // aborted sneaks in (multi-id dirs may cover aborted ids — the
        // compactor dropped their rows inside the files)
        val counts = covered.groupBy(identity).view.mapValues(_.size)
        val exactlyOnce = visible.forall(v => counts.getOrElse(v, 0) == 1)
        val noInvisiblePlain = !st.deltas.exists { d =>
          val c = cover(d)
          c.size == 1 && (c.head > hwm || aborted(c.head))
        }
        Prop(exactlyOnce && noInvisiblePlain)
    }
    val res = org.scalacheck.Test.check(
      Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(res.passed, res.status.toString)
  }

  test("S18d: REAL Hive ACID ORC event files read through the direct ORC reader") {
    import graft.sources.{AcidOrc, HiveAcidQueries}
    // Spark's own ORC datasource cannot produce a USABLE read of the
    // acid wrapper (orc-core SchemaEvolution hijacks the field pattern:
    // empty and column projections mis-map — probed AIOOBE /
    // StructColumnVector casts; exact failure shape varies with the
    // projection). Regression-pin "unusable", so if a Spark upgrade
    // ever fixes it we notice and simplify AcidOrc away.
    val root = HiveAcidQueries.nestedOrc.ensure(spark, sf0001)
    val sparkPathUsable = scala.util.Try {
      val d = spark.read.orc(s"$root/base_0000001")
      val n = d.count()
      d.select("rowId").count() == n && d.select("row.o_orderkey").count() == n
    }.getOrElse(false)
    assert(!sparkPathUsable,
      "Spark's ORC datasource now reads acid wrappers correctly — simplify AcidOrc away")
    // the direct reader: event wrapper detected, user schema from the
    // row struct, meta + user columns flat
    val files = new org.apache.hadoop.fs.Path(s"$root/base_0000001")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new org.apache.hadoop.fs.Path(s"$root/base_0000001"))
      .map(_.getPath.toString).filter(!_.contains("_SUCCESS")).toSeq
    assert(AcidOrc.isEventFile(spark, files.head))
    val user = AcidOrc.rowSchema(spark, files.head)
    assert(user.fieldNames.contains("o_orderkey") && user.fieldNames.contains("o_orderstatus"))
    val flat = AcidOrc.read(spark, files, user)
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val expect = orders.filter(pmod(col("o_orderkey"), lit(3L)) === 0)
    assert(flat.count() == expect.count())
    assert(flat.agg(min("currentTransaction"), max("currentTransaction"))
      .first.toSeq == Seq(1L, 1L))
    // per-file evolution: a user column the file's row struct lacks
    // NULL-fills instead of failing
    val evolved = AcidOrc.read(spark, files,
      StructType(user.fields :+ StructField("added_later", LongType)))
    assert(evolved.select("added_later").distinct().collect().map(_.isNullAt(0)).toSeq == Seq(true))
    // full e2e incl. the delete anti-join is the src_hive_acid_orc
    // oracle row; here pin the row-count algebra once more
    val visible = graft.sources.HiveAcid.readFullAcid(spark, root,
      graft.sources.HiveAcid.ValidWriteIds(3L), format = "orc")
    val want = orders.filter(
      (pmod(col("o_orderkey"), lit(3L)) === 0 && pmod(col("o_orderkey"), lit(7L)) =!= 0) ||
        pmod(col("o_orderkey"), lit(3L)) === 1)
    assert(visible.count() == want.count())
    assert(visible.columns.toSeq == user.fieldNames.toSeq) // acid meta never leaks
  }

  test("S18: insert-only end-to-end — snapshot sees base+committed deltas only") {
    val root = graft.sources.HiveAcidQueries.insertOnly.ensure(spark, sf0001)
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val visible = HiveAcid.readInsertOnly(spark, root,
      ValidWriteIds(highWatermark = 5L, aborted = Set(4L)))
    val expected = orders.filter(pmod(col("o_orderkey"), lit(7L)).isin(0L, 1L, 2L, 4L))
    assert(visible.count() == expected.count())
    assert(visible.select(sum("o_orderkey")).head.getLong(0) ==
      expected.select(sum("o_orderkey")).head.getLong(0))
    // snapshot moves: a LATER reader (hwm=6) additionally sees delta 6
    val later = HiveAcid.readInsertOnly(spark, root,
      ValidWriteIds(highWatermark = 6L, aborted = Set(4L)))
    assert(later.count() ==
      orders.filter(pmod(col("o_orderkey"), lit(7L)).isin(0L, 1L, 2L, 4L, 5L)).count())
  }

  test("S18: full-ACID end-to-end — delete-delta anti-join and aborted exclusion") {
    val root = graft.sources.HiveAcidQueries.fullAcid.ensure(spark, sf0001)
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val visible = HiveAcid.readFullAcid(spark, root,
      ValidWriteIds(highWatermark = 4L, aborted = Set(4L)))
    // ACID metadata columns do not leak into the user schema
    assert(visible.columns.toSeq == orders.columns.toSeq)
    val expected = orders.filter(
      (pmod(col("o_orderkey"), lit(3L)) === 0L && pmod(col("o_orderkey"), lit(9L)) =!= 0L) ||
        pmod(col("o_orderkey"), lit(3L)) === 1L)
    assert(visible.count() == expected.count())
    assert(visible.select(sum("o_orderkey")).head.getLong(0) ==
      expected.select(sum("o_orderkey")).head.getLong(0))
    // the delete side rides ONE equi join (anti) — no cartesian
    val joins = visible.queryExecution.sparkPlan.collect {
      case p if p.nodeName.contains("Join") => p.nodeName }
    assert(joins.nonEmpty && !joins.exists(_.contains("Cartesian")))
  }

  test("S18: insert-only reads dispatch non-parquet data formats (ORC) through the same selection") {
    // the format parameter is the MM table's declared file format —
    // directory selection is format-agnostic, the reader is not
    val root = tempDir("graft_s18_orc")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    def slice(m: Long) = docs.filter(pmod(col("doc_id"), lit(3L)) === m)
    slice(0).write.orc(s"$root/base_0000001")
    slice(1).write.orc(s"$root/delta_0000002_0000002")
    slice(2).write.orc(s"$root/delta_0000003_0000003") // beyond hwm
    val back = HiveAcid.readInsertOnly(spark, root,
      ValidWriteIds(highWatermark = 2L), format = "orc")
    val expected = docs.filter(pmod(col("doc_id"), lit(3L)) < 2L)
    assert(back.count() == expected.count())
    assert(back.select(sum("n_chars")).head.getLong(0) ==
      expected.select(sum("n_chars")).head.getLong(0))
  }

  test("S18: original files surface with synthesized acid metadata; " +
       "delete deltas land on the synthesized (bucket, rowId)") {
    val root = graft.sources.HiveAcidQueries.originals.ensure(spark, sf0001)
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val visible = HiveAcid.readFullAcid(spark, root, ValidWriteIds(highWatermark = 3L))
    // acid columns synthesized internally, never leaked
    assert(visible.columns.toSeq == orders.columns.toSeq)
    // expected: bucket-0 originals lose every 4th row BY IN-FILE
    // ORDINAL (= o_orderkey rank: the file was written sorted); bucket-1
    // originals and the writeId-2 delta survive whole
    val w = org.apache.spark.sql.expressions.Window.orderBy("o_orderkey")
    val b0kept = orders.filter(pmod(col("o_orderkey"), lit(3L)) === 0L)
      .withColumn("rn", row_number().over(w) - 1)
      .filter(pmod(col("rn"), lit(4L)) =!= 0L).drop("rn")
    val rest = orders.filter(pmod(col("o_orderkey"), lit(3L)).isin(1L, 2L))
    val expected = b0kept.unionByName(rest)
    assert(visible.count() == expected.count())
    assert(visible.select(sum("o_orderkey")).head.getLong(0) ==
      expected.select(sum("o_orderkey")).head.getLong(0))
    // the file-name bucket codec agrees between the Column mirror (read
    // path) and the driver-side utility on both original names
    assert(HiveAcid.bucketProperty(s"$root/000000_0") == (1 << 29))
    assert(HiveAcid.bucketProperty(s"$root/000001_0") == ((1 << 29) | (1 << 16)))
  }

  // ---------------------------------------------------------------
  // S19: per-partition mixed file formats (reference: per-partition
  // fileFormatDescriptor in HdfsPartition.java)
  // ---------------------------------------------------------------

  test("S19: mixed-format table round-trips all five formats losslessly") {
    val root = graft.sources.MixedFormatQueries.table.ensure(spark, sf0001)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val back = graft.sources.MixedFormat.read(spark, root)
    assert(back.count() == docs.count())
    val a = back.select("doc_id", "lang", "source", "n_chars", "text")
      .orderBy("doc_id").collect()
    val b = docs.select("doc_id", "lang", "source", "n_chars", "text")
      .orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("S19: re-running write over an existing target never doubles rows (ADVICE r12)") {
    import spark.implicits._
    val root = tempDir("graft_src") + "/mixed_rewrite"
    val df = (1L to 60L).map(i => (i, s"t$i", (i % 6).toString))
      .toDF("id", "t", "pv")
    graft.sources.MixedFormat.write(df, root, "pv",
      Seq("parquet", "orc", "sequencefile"))
    assert(graft.sources.MixedFormat.read(spark, root).count() == 60)
    // the second write must land the SAME table — root cleanup plus
    // dynamic partition overwrite (not append) on the partitionBy
    // groups make the path idempotent
    graft.sources.MixedFormat.write(df, root, "pv",
      Seq("parquet", "orc", "sequencefile"))
    val back = graft.sources.MixedFormat.read(spark, root)
    assert(back.count() == 60, s"re-write doubled rows: ${back.count()}")
    assert(back.select("id").distinct().count() == 60)
  }

  test("S20: MOR .deltacommit instants never admit base files (RO view is compaction-gated)") {
    import spark.implicits._
    import graft.sources.HudiRO
    // a merge-on-read table's log writes complete as `.deltacommit`;
    // the read-optimized view must show base files only up to the last
    // COMPACTION (.commit) — a base file stamped by a deltacommit-only
    // instant stays invisible
    val root = tempDir("graft_src") + "/hudi_mor"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/.hoodie"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$root/.hoodie/hoodie.properties"), true).close()
    graft.Fs.writeSingleFile(
      Seq((1L, "a")).toDF("doc_id", "text"),
      s"$root/fg0_0-0-0_20240101000000000.parquet")
    graft.Fs.writeSingleFile(
      Seq((2L, "b")).toDF("doc_id", "text"),
      s"$root/fg1_0-0-0_20240102000000000.parquet")
    fs.create(new org.apache.hadoop.fs.Path(
      s"$root/.hoodie/20240101000000000.commit"), true).close()
    fs.create(new org.apache.hadoop.fs.Path(
      s"$root/.hoodie/20240102000000000.deltacommit"), true).close()
    val got = HudiRO.read(spark, root).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L), s"deltacommit-stamped base file leaked: $got")
  }

  test("S19: partition pruning is driver-side — pruned partitions are never scanned") {
    val root = graft.sources.MixedFormatQueries.table.ensure(spark, sf0001)
    val spec = graft.sources.MixedFormat.readSpec(spark, root)
    assert(spec.partitions.map(_.format).distinct.size >= 4)
    val pruned = graft.sources.MixedFormat.read(spark, root, partitions = Seq("de"))
    // structural: exactly ONE scan relation in the pruned plan
    val scans = pruned.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.LeafNode => r }
    assert(scans.size == 1)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    assert(pruned.count() == docs.filter(col("lang") === "de").count())
    // decisive: delete every other partition directory in a COPY — the
    // pruned read still answers (the pruned dirs were never listed)
    val copy = tempDir("graft_src") + "/mixcopy"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(root),
      fs, new org.apache.hadoop.fs.Path(copy), false, spark.sparkContext.hadoopConfiguration)
    spec.partitions.filterNot(_.value == "de").foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$copy/" + p.dir), true))
    val survivor = graft.sources.MixedFormat.read(spark, copy, partitions = Seq("de"))
    assert(survivor.count() == docs.filter(col("lang") === "de").count())
  }

  test("S19: the writer scans the input once per FORMAT, not once per partition value") {
    import org.apache.spark.sql.Row
    val root = tempDir("graft_src") + "/mixjobs"
    // 12 partition values across 3 formats: the old per-partition-value
    // loop ran >= 13 jobs here; the format-grouped writer is bounded by
    // the FORMAT enum (3 write jobs + the distinct-values job + AQE
    // slack), so the job count must stay far below the value domain
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 240).map(i =>
        Row(i.toLong, s"txt $i", s"p${i % 12}"))),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType),
        StructField("pv", StringType))))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.sources.MixedFormat.write(df, root, "pv",
        Seq("parquet", "avro", "sequencefile"))
      // listener delivery is async; a small drain keeps the count stable
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() < 12, s"writer ran ${jobs.get()} jobs for 12 partitions")
    assert(jobs.get() <= 3 + 5, s"writer ran ${jobs.get()} jobs for 3 formats")
    // and the layout it produced reads back whole
    val back = graft.sources.MixedFormat.read(spark, root)
    assert(back.count() == 240)
    assert(graft.sources.MixedFormat.readSpec(spark, root).partitions.size == 12)
  }

  test("S19: partition values are Hive-escaped in dir names; null values are rejected") {
    import org.apache.spark.sql.Row
    val root = tempDir("graft_src") + "/mixesc"
    // '/', '=', ':' and space would corrupt a raw "$col=$v" layout
    val vals = Seq("a/b", "c=d", "has space", "colon:v")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.zipWithIndex.map { case (v, i) =>
        Row(i.toLong, s"text $i", v) }),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType),
        StructField("pv", StringType))))
    graft.sources.MixedFormat.write(df, root, "pv", Seq("parquet", "avro"))
    val spec = graft.sources.MixedFormat.readSpec(spark, root)
    // raw values survive in the spec; dir names carry no raw separators
    assert(spec.partitions.map(_.value).sorted == vals.sorted)
    assert(spec.partitions.forall(p => !p.dir.drop("pv=".length).contains("/")))
    val back = graft.sources.MixedFormat.read(spark, root)
    assert(back.select("pv").distinct().collect().map(_.getString(0))
      .sorted.toSeq == vals.sorted)
    // pruning by the RAW value still lands on the escaped directory
    assert(graft.sources.MixedFormat.read(spark, root, partitions = Seq("a/b"))
      .count() == 1)
    // a null partition value has no Hive-addressable directory — loud
    val withNull = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(9L, "t", null))),
      df.schema)
    intercept[IllegalArgumentException] {
      graft.sources.MixedFormat.write(df.union(withNull), root + "2", "pv",
        Seq("parquet"))
    }
  }

  // ---------------------------------------------------------------
  // S20: Hudi read-optimized (COW) reads — reference: HudiUtil.java's
  // latest-base-file-per-file-group filter, HdfsFileFormat.HUDI_PARQUET
  // ---------------------------------------------------------------

  test("S20: Hudi file-name parse and latest-completed selection per file group") {
    import graft.sources.HudiRO
    assert(HudiRO.parseFile("fg0_0-1-0_20240101000000000.parquet")
      .contains(HudiRO.BaseFile("fg0", "20240101000000000",
        "fg0_0-1-0_20240101000000000.parquet")))
    // fileId containing '_' still parses (token+instant anchor at end)
    assert(HudiRO.parseFile("ab_cd-12_3-4-5_20240101000000000.parquet")
      .map(_.fileId).contains("ab_cd-12"))
    assert(HudiRO.parseFile("_SUCCESS").isEmpty)
    val names = Seq(
      "fg0_0-0-0_20240101000000000.parquet",
      "fg0_0-0-0_20240102000000000.parquet", // newer version of fg0
      "fg0_0-0-0_20240103000000000.parquet", // NOT committed
      "fg1_0-0-0_20240101000000000.parquet")
    val completed = Set("20240101000000000", "20240102000000000")
    assert(HudiRO.selectLatest(names, completed) == Seq(
      "fg0_0-0-0_20240102000000000.parquet",
      "fg1_0-0-0_20240101000000000.parquet"))
  }

  test("S20 property: selectLatest = the max completed instant per file group, exactly") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.Parameters
    import graft.sources.HudiRO
    // random file groups x instants, random completion subset: the
    // RO view must pick exactly the lexicographic-max COMPLETED instant
    // per group, and groups with no completed version must vanish
    val genCase = for {
      nGroups <- Gen.choose(1, 6)
      nInstants <- Gen.choose(1, 6)
      present <- Gen.someOf(for { g <- 0 until nGroups; i <- 0 until nInstants } yield (g, i))
      completed <- Gen.someOf(0 until nInstants)
    } yield (present.toSet, completed.toSet)
    val prop = Prop.forAll(genCase) { case (present, completed) =>
      def inst(i: Int) = f"2024010100000${i}%04d"
      val names = present.toSeq.map { case (g, i) => s"fg$g-uuid_0-1-0_${inst(i)}.parquet" } ++
        Seq("_SUCCESS", ".hoodie_partition_metadata") // noise the parser must skip
      val got = HudiRO.selectLatest(names, completed.map(inst))
      val want = present.groupBy(_._1).flatMap { case (g, fs) =>
        fs.map(_._2).filter(completed).maxOption
          .map(i => s"fg$g-uuid_0-1-0_${inst(i)}.parquet")
      }.toSeq.sorted
      Prop(got == want)
    }
    val res = org.scalacheck.Test.check(
      Parameters.default.withMinSuccessfulTests(1000), prop)
    assert(res.passed, res.status.toString)
  }

  test("S19 property: partition values round-trip Hive escaping for any character content") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.Parameters
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    // the writer's dir names must be path-safe and loss-free for ANY
    // partition value (the spec keeps the raw value; the dir carries
    // the escaped form Spark's own partitionBy would produce)
    val gs = Gen.choose(0, 16).flatMap(n => Gen.listOfN(n,
      Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('/', '=', ':', ' ', '%', '.', '#',
        '\\', '*', '?', '\n'))).map(_.mkString))
    val prop = Prop.forAll(gs) { v =>
      val esc = ExternalCatalogUtils.escapePathName(v)
      Prop(!esc.contains("/") &&
        ExternalCatalogUtils.unescapePathName(esc) == v &&
        (v.isEmpty || esc.nonEmpty))
    }
    val res = org.scalacheck.Test.check(
      Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(res.passed, res.status.toString)
  }

  test("S20: multi-commit supersession end-to-end; a pending commit becomes visible on its marker") {
    import graft.sources.{HudiQueries, HudiRO}
    val root = HudiQueries.table.ensure(spark, sf0001)
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val visible = orders.filter(pmod(col("o_orderkey"), lit(4L)).isin(0L, 2L))
    assert(HudiRO.read(spark, root).count() == visible.count())
    // flip the inflight instant to committed in a COPY of the table:
    // its file group (o_orderkey % 4 = 3) joins the snapshot
    val copy = tempDir("graft_src") + "/hudicopy"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(root),
      fs, new org.apache.hadoop.fs.Path(copy), false,
      spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$copy/.hoodie/20240103000000000.commit"), true).close()
    val after = orders.filter(pmod(col("o_orderkey"), lit(4L)).isin(0L, 2L, 3L))
    assert(HudiRO.read(spark, copy).count() == after.count())
    // pruning is driver-side: delete the other partition dirs in the
    // copy — the pruned read still answers (they were never listed)
    val keep = "o_orderstatus=F"
    fs.listStatus(new org.apache.hadoop.fs.Path(copy)).toSeq
      .map(_.getPath).filter(p => p.getName.startsWith("o_orderstatus=") &&
        p.getName != keep)
      .foreach(p => fs.delete(p, true))
    assert(HudiRO.read(spark, copy, partitions = Seq("F")).count() ==
      after.filter(col("o_orderstatus") === "F").count())
    // a directory without a .hoodie timeline is not a Hudi table
    intercept[IllegalArgumentException] {
      HudiRO.read(spark, tempDir("graft_src") + "/nothudi")
    }
    // MOR log files are invisible to the read-optimized view (the
    // HoodieROTablePathFilter contract): a .log delta beside the base
    // files changes nothing
    fs.create(new org.apache.hadoop.fs.Path(
      s"$copy/$keep/.fg0_20240101000000000.log.1_0-1-0"), true).close()
    assert(HudiRO.read(spark, copy, partitions = Seq("F")).count() ==
      after.filter(col("o_orderstatus") === "F").count())
    // a replacecommit whose body the parser cannot read (here: empty —
    // not JSON) is a loud refusal, not silent duplication (well-formed
    // bodies are handled, S20b below)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$copy/.hoodie/20240104000000000.replacecommit"), true).close()
    intercept[IllegalArgumentException] {
      HudiRO.read(spark, copy, partitions = Seq("F"))
    }
  }

  test("S20d: HudiSink insert/upsert/delete round-trips through HudiRO; untouched groups keep their files; carried rows keep their meta") {
    import graft.sources.{HudiRO, HudiSink}
    import spark.implicits._
    val dir = tempDir("graft_src") + "/hudisink"
    val C1 = "20300101000000001"; val C2 = "20300101000000002"
    val C3 = "20300101000000003"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(p: String): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(p)).toSeq
        .filter(_.isFile).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).toSet
    val b0 = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("k", "p", "v")
    HudiSink.insert(b0, dir, "k", Some("p"), C1)
    val r1 = HudiRO.read(spark, dir)
    assert(r1.columns.take(5).toSeq == HudiSink.MetaCols, r1.columns.toSeq)
    assert(r1.select("k", "v", "p").as[(Long, Double, String)].collect().toSet ==
      Set((1L, 10.0, "a"), (2L, 20.0, "a"), (3L, 30.0, "b")))
    assert(r1.select("_hoodie_commit_time").distinct()
      .as[String].collect().toSeq == Seq(C1))
    assert(r1.filter($"k" === 2L).select("_hoodie_record_key")
      .as[String].head() == "2")
    val bBefore = files(s"$dir/p=b")
    // upsert: k=1 updates in place (its group rewrites whole, SAME
    // fileId, new instant); k=5 is a new key -> new group in p=b
    val b1 = Seq((1L, "a", 15.0), (5L, "b", 50.0)).toDF("k", "p", "v")
    HudiSink.upsert(b1, dir, "k", Some("p"), C2)
    val r2 = HudiRO.read(spark, dir)
    assert(r2.select("k", "v", "p").as[(Long, Double, String)].collect().toSet ==
      Set((1L, 15.0, "a"), (2L, 20.0, "a"), (3L, 30.0, "b"), (5L, 50.0, "b")))
    // p=b's original group file is untouched (k=3 was not in the batch)
    assert(files(s"$dir/p=b").intersect(bBefore) == bBefore)
    // p=a: the rewritten group keeps its fileId across instants
    val aByInstant = files(s"$dir/p=a").flatMap(HudiRO.parseFile)
    assert(aByInstant.map(_.instant) == Set(C1, C2), aByInstant.toString)
    assert(aByInstant.map(_.fileId).size == 1, aByInstant.toString)
    // the carried row keeps its ORIGINAL commit time (the T29b CDC
    // contract); updated/inserted rows carry the new instant
    val metaByK = r2.select("k", "_hoodie_commit_time")
      .as[(Long, String)].collect().toMap
    assert(metaByK == Map(1L -> C2, 2L -> C1, 3L -> C1, 5L -> C2), metaByK.toString)
    // delete the only row of p=b's first group: an EMPTY base file
    // supersedes it (no new slice would resurrect the old one)
    HudiSink.delete(Seq(3L).toDF("k"), dir, "k", C3)
    val r3 = HudiRO.read(spark, dir)
    assert(r3.select("k").as[Long].collect().toSet == Set(1L, 2L, 5L))
    assert(files(s"$dir/p=b").exists(_.endsWith(s"_$C3.parquet")))
    // unpartitioned table: same loop without a partition column
    val u = tempDir("graft_src") + "/hudisink_u"
    HudiSink.insert(Seq((7L, 70.0)).toDF("k", "v"), u, "k", None, C1)
    HudiSink.upsert(Seq((7L, 77.0), (8L, 80.0)).toDF("k", "v"), u, "k", None, C2)
    assert(HudiRO.read(spark, u).select("k", "v").as[(Long, Double)]
      .collect().toSet == Set((7L, 77.0), (8L, 80.0)))
    // partitioning is STICKY: a layout-switching append refuses loudly
    // in both directions (an unpartitioned append into a partitioned
    // table, and a partitioned append that would shadow root data)
    intercept[IllegalArgumentException] {
      HudiSink.insert(Seq((9L, "c", 90.0)).toDF("k", "p", "v"),
        dir, "k", None, "20300101000000009")
    }
    intercept[IllegalArgumentException] {
      HudiSink.insert(Seq((9L, 90.0)).toDF("k", "v"),
        u, "k", Some("k"), "20300101000000009")
    }
    // upsert routes NEW keys by the table's OWN layout even when the
    // caller passes no partition hint
    HudiSink.upsert(Seq((6L, "a", 60.0)).toDF("k", "p", "v"),
      dir, "k", None, "20300101000000004")
    assert(HudiRO.read(spark, dir).filter($"k" === 6L)
      .select("v", "p").as[(Double, String)].head() == ((60.0, "a")))
  }

  test("S20e: the writer's clustering replacecommit compacts groups; visible rows identical, old groups dead") {
    import graft.sources.{HudiRO, HudiSink}
    import spark.implicits._
    val dir = tempDir("graft_src") + "/hudicluster"
    val C1 = "20300201000000001"; val C2 = "20300201000000002"
    val C4 = "20300201000000004"
    // two commits -> two file groups per partition
    HudiSink.insert(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "p", "v"),
      dir, "k", Some("p"), C1)
    HudiSink.insert(Seq((3L, "a", 30.0), (4L, "b", 40.0)).toDF("k", "p", "v"),
      dir, "k", Some("p"), C2)
    val before = HudiRO.read(spark, dir)
      .select("k", "v", "p", "_hoodie_commit_time")
      .as[(Long, Double, String, String)].collect().toSet
    assert(before.map(_._1) == Set(1L, 2L, 3L, 4L))
    HudiSink.cluster(spark, dir, C4)
    val after = HudiRO.read(spark, dir)
      .select("k", "v", "p", "_hoodie_commit_time")
      .as[(Long, Double, String, String)].collect().toSet
    // row-identical INCLUDING carried meta (clustering changes layout,
    // never records); a reader ignoring the body would double rows
    assert(after == before, s"diff=${(after -- before) ++ (before -- after)}")
    // per partition the visible slice is now ONE clustered file
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("a", "b").foreach { p =>
      val names = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/p=$p"))
        .toSeq.filter(_.isFile).map(_.getPath.getName)
        .filter(_.endsWith(".parquet"))
      val tl = graft.sources.HudiRO.timeline(spark, dir)
      val visible = graft.sources.HudiRO.selectLatest(names, tl.completed,
        tl.dead(s"p=$p"))
      assert(visible == Seq(s"c${C4}_0-0-0_$C4.parquet"), visible.toString)
    }
    // the timeline carries a completed replacecommit with a parsable body
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/.hoodie/$C4.replacecommit")))
  }

  test("S20f: the upsert key-locator reads ONLY base files whose footer key range intersects the batch") {
    import graft.sources.{HudiRO, HudiSink}
    import spark.implicits._
    val dir = tempDir("graft_src") + "/hudiprune"
    val C = (1 to 9).map(i => s"2030030100000000$i")
    // three inserts -> three file groups with DISJOINT string key ranges
    // (hash routing inside one insert would overlap ranges; separate
    // commits are how range-clustered groups arise in practice)
    HudiSink.insert((1 to 4).map(i => (f"a$i%02d", i * 1.0)).toDF("k", "v"),
      dir, "k", None, C(0))
    HudiSink.insert((1 to 4).map(i => (f"b$i%02d", i * 1.0)).toDF("k", "v"),
      dir, "k", None, C(1))
    HudiSink.insert((1 to 4).map(i => (f"c$i%02d", i * 1.0)).toDF("k", "v"),
      dir, "k", None, C(2))
    // update one b-key: the locator must read ONLY the b-range file
    // (the verdict-#1 asymptotic fix: per-commit upsert cost scales
    // with the files that can hold a batch key, not table size)
    HudiSink.upsert(Seq(("b02", 22.0)).toDF("k", "v"), dir, "k", None, C(3))
    assert(HudiSink.lastRewriteScan.contains((1, 3)),
      s"expected 1-of-3 candidate files, got ${HudiSink.lastRewriteScan}")
    // a brand-new key beyond every file's range: ZERO files scanned,
    // the row still inserts into a fresh group
    HudiSink.upsert(Seq(("d99", 99.0)).toDF("k", "v"), dir, "k", None, C(4))
    assert(HudiSink.lastRewriteScan.contains((0, 3)),
      s"expected 0-of-3 candidate files, got ${HudiSink.lastRewriteScan}")
    // delete prunes the same way (now 4 groups: a, b, c, d)
    HudiSink.delete(Seq("a03").toDF("k"), dir, "k", C(5))
    assert(HudiSink.lastRewriteScan.contains((1, 4)),
      s"expected 1-of-4 candidate files, got ${HudiSink.lastRewriteScan}")
    // an EMPTIED group's base file (zero row groups) is never a
    // candidate: delete d99, then upsert another d-key — 0 candidates
    HudiSink.delete(Seq("d99").toDF("k"), dir, "k", C(6))
    HudiSink.upsert(Seq(("d50", 50.0)).toDF("k", "v"), dir, "k", None, C(7))
    assert(HudiSink.lastRewriteScan.contains((0, 4)),
      s"expected the emptied d-group file pruned, got ${HudiSink.lastRewriteScan}")
    // end state is exact despite all the pruning
    assert(HudiRO.read(spark, dir).select("k", "v").as[(String, Double)]
      .collect().toSet ==
      ((1 to 4).map(i => (f"a$i%02d", i * 1.0)).toSet - (("a03", 3.0))) ++
        (1 to 4).map(i => (f"b$i%02d", i * 1.0)).toSet - (("b02", 2.0)) +
        (("b02", 22.0)) + (("c01", 1.0)) + (("c02", 2.0)) + (("c03", 3.0)) +
        (("c04", 4.0)) + (("d50", 50.0)))
    // the upsert CONTRACT rejects duplicate and null keys loudly (a
    // duplicate pair under one _hoodie_record_key would silently both
    // land in the rewritten group — ADVICE r13)
    intercept[IllegalArgumentException] {
      HudiSink.upsert(Seq(("b01", 1.0), ("b01", 2.0)).toDF("k", "v"),
        dir, "k", None, C(8))
    }
    intercept[IllegalArgumentException] {
      HudiSink.upsert(Seq((null.asInstanceOf[String], 1.0)).toDF("k", "v"),
        dir, "k", None, C(8))
    }
    // single-writer guard (ADVICE r13): reusing a COMPLETED instant is
    // a loud failure, and an instant another writer already REQUESTED
    // (crashed mid-commit or racing) is too — never two interleaved
    // commits under one instant
    intercept[IllegalArgumentException] {
      HudiSink.insert(Seq(("z01", 1.0)).toDF("k", "v"), dir, "k", None, C(0))
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/.hoodie/${C(8)}.commit.requested"), false).close()
    intercept[IllegalStateException] {
      HudiSink.insert(Seq(("z01", 1.0)).toDF("k", "v"), dir, "k", None, C(8))
    }
    // nextInstant skips past the orphaned .requested marker
    assert(HudiSink.nextInstant(spark, dir) > C(8))
  }

  test("S20g: locator key ranges come from commit metadata — ZERO footer probes for sink-written tables; foreign commits fall back") {
    import graft.sources.{HudiRO, HudiSink}
    import spark.implicits._
    val dir = tempDir("graft_src") + "/hudimeta"
    val C = (1 to 9).map(i => s"2030060100000000$i")
    HudiSink.insert((1 to 4).map(i => (f"a$i%02d", i * 1.0)).toDF("k", "v"),
      dir, "k", None, C(0))
    HudiSink.insert((1 to 4).map(i => (f"b$i%02d", i * 1.0)).toDF("k", "v"),
      dir, "k", None, C(1))
    HudiSink.insert((1 to 4).map(i => (f"c$i%02d", i * 1.0)).toDF("k", "v"),
      dir, "k", None, C(2))
    // sink-written table: the prune reads every range from the commit
    // bodies — NOT ONE footer is opened (the r14-verdict-#1 contract:
    // per-commit metadata cost is O(commits to parse), never
    // O(snapshot footers to re-open))
    HudiSink.upsert(Seq(("b02", 22.0)).toDF("k", "v"), dir, "k", None, C(3))
    assert(HudiSink.lastRewriteScan.contains((1, 3)),
      s"expected 1-of-3 candidates, got ${HudiSink.lastRewriteScan}")
    assert(HudiSink.lastRewriteFooterProbes.contains(0),
      s"expected ZERO footer probes, got ${HudiSink.lastRewriteFooterProbes}")
    // an emptied group's base file is recorded emptyFile:true — still
    // never a candidate, still zero probes
    HudiSink.delete((1 to 4).map(i => f"c$i%02d").toDF("k"), dir, "k", C(4))
    HudiSink.upsert(Seq(("c01", 11.0)).toDF("k", "v"), dir, "k", None, C(5))
    assert(HudiSink.lastRewriteScan.contains((0, 3)),
      s"expected the emptied c-group pruned, got ${HudiSink.lastRewriteScan}")
    assert(HudiSink.lastRewriteFooterProbes.contains(0),
      s"expected zero probes, got ${HudiSink.lastRewriteFooterProbes}")
    // FOREIGN/older-writer commit: strip C(0)'s recorded ranges (the
    // body shape real Hudi writes — writeStats without our key fields;
    // C(0)'s a-group base file is still VISIBLE, never rewritten); the
    // cache must not serve the stale parse (its key carries
    // length+mtime), and ONLY that commit's file falls back to a probe
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val body = """{"partitionToWriteStats": {"": [{"fileId": "x",
      | "path": "n%s_0-0-0_%s.parquet"}]}, "operationType": "INSERT"}"""
      .stripMargin.replace("\n", "").format(C(0), C(0))
    val out = fs.create(new org.apache.hadoop.fs.Path(
      s"$dir/.hoodie/${C(0)}.commit"), true)
    out.write(body.getBytes("UTF-8")); out.close()
    HudiSink.upsert(Seq(("b03", 33.0)).toDF("k", "v"), dir, "k", None, C(6))
    assert(HudiSink.lastRewriteScan.contains((1, 4)),
      s"expected 1-of-4 candidates, got ${HudiSink.lastRewriteScan}")
    assert(HudiSink.lastRewriteFooterProbes.contains(1),
      s"expected exactly the foreign file probed, got ${HudiSink.lastRewriteFooterProbes}")
    // SECOND upsert against the still-foreign file: the probe result
    // is immutable per base file, so it comes from the probe cache —
    // ZERO footer probes (r15 verdict #1: a CDC stream into a table
    // real Hudi wrote pays O(new files) probes per batch, not
    // O(snapshot) re-probes)
    HudiSink.upsert(Seq(("b04", 44.0)).toDF("k", "v"), dir, "k", None, C(7))
    assert(HudiSink.lastRewriteScan.contains((1, 4)),
      s"expected 1-of-4 candidates, got ${HudiSink.lastRewriteScan}")
    assert(HudiSink.lastRewriteFooterProbes.contains(0),
      s"expected the foreign probe CACHED, got ${HudiSink.lastRewriteFooterProbes}")
    // end state exact despite the pruning + fallback + cache mix
    assert(HudiRO.read(spark, dir).select("k", "v").as[(String, Double)]
      .collect().toMap ==
      ((1 to 4).map(i => (f"a$i%02d", i * 1.0)) ++
        Seq(("b01", 1.0), ("b02", 22.0), ("b03", 33.0), ("b04", 44.0),
          ("c01", 11.0))).toMap)
  }

  test("S20g: the writer lock refuses a held table up front and releases on success and failure") {
    import graft.sources.{HudiRO, HudiSink}
    import spark.implicits._
    val dir = tempDir("graft_src") + "/hudilock"
    HudiSink.insert(Seq(("a01", 1.0)).toDF("k", "v"), dir, "k", None,
      "20300701000000001")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$dir/.hoodie/.lock")
    // a successful commit leaves no lock behind
    assert(!fs.exists(lock))
    // a held lock is a clean UP-FRONT refusal naming the holder
    val out = fs.create(lock, false)
    out.write("""{"owner":"pid123@elsewhere","instant":"x","op":"UPSERT"}"""
      .getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException] {
      HudiSink.upsert(Seq(("a01", 2.0)).toDF("k", "v"), dir, "k", None,
        "20300701000000002")
    }
    assert(e.getMessage.contains("pid123@elsewhere"), e.getMessage)
    fs.delete(lock, false)
    // an in-process FAILURE (duplicate instant) still releases the lock
    intercept[IllegalArgumentException] {
      HudiSink.insert(Seq(("z01", 1.0)).toDF("k", "v"), dir, "k", None,
        "20300701000000001")
    }
    assert(!fs.exists(lock), "a failed commit must not wedge the table")
    // and the table still writes + reads normally afterwards
    HudiSink.upsert(Seq(("a01", 3.0)).toDF("k", "v"), dir, "k", None,
      "20300701000000003")
    assert(HudiRO.read(spark, dir).select("k", "v").as[(String, Double)]
      .collect().toMap == Map("a01" -> 3.0))
  }

  test("S20g: racing writers — every loser refuses CLEANLY (lock or marker), never interleaves; the table stays exact") {
    import graft.sources.{HudiRO, HudiSink}
    import spark.implicits._
    val dir = tempDir("graft_src") + "/hudirace"
    HudiSink.insert(Seq(("seed", 0.0)).toDF("k", "v"), dir, "k", None,
      "20300901000000000")
    // 8 threads race DISTINCT instants at once: the single-writer
    // contract says losers refuse up front (IllegalStateException via
    // the lock) — what must NEVER happen is a silent interleave or a
    // corrupted table. Successes are timing-dependent (1..8); the
    // invariant is successes + clean refusals == 8 and the visible
    // rows == exactly the successful commits' rows.
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[String, String]]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        start.await()
        val inst = f"2030090100000000$i"
        try {
          HudiSink.insert(Seq((f"r$i%02d", i * 1.0)).toDF("k", "v"),
            dir, "k", None, inst)
          results.add(Right(f"r$i%02d")); ()
        } catch {
          case e: IllegalStateException
              if e.getMessage.contains("locked by another writer") =>
            results.add(Left("lock")); ()
          case e: IllegalStateException =>
            results.add(Left("marker")); ()
        }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val rs = results.asScala.toSeq
    val won = rs.collect { case Right(k) => k }.toSet
    assert(rs.size == 8 && won.nonEmpty,
      s"expected 8 outcomes with >=1 success, got $rs")
    // the lock is gone and the table holds EXACTLY seed + the winners
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/.hoodie/.lock")))
    val visible = HudiRO.read(spark, dir).select("k").as[String].collect().toSet
    assert(visible == won + "seed", s"visible=$visible won=$won")
    // and the table still accepts a NEW commit afterwards
    HudiSink.upsert(Seq(("seed", 1.0)).toDF("k", "v"), dir, "k", None,
      HudiSink.nextInstant(spark, dir))
    assert(HudiRO.read(spark, dir).filter($"k" === "seed")
      .select("v").as[Double].head() == 1.0)
  }

  test("S20g: lock lease — a dead holder's lock is taken over after the TTL; a fresh (live) lock still refuses; the heartbeat keeps a long commit alive") {
    import graft.sources.{HudiRO, HudiSink}
    import spark.implicits._
    val dir = tempDir("graft_src") + "/hudilease"
    HudiSink.insert(Seq(("a01", 1.0)).toDF("k", "v"), dir, "k", None,
      "20301101000000001")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$dir/.hoodie/.lock")
    val oldTtl = HudiSink.lockTtlMs
    try {
      HudiSink.lockTtlMs = 400L
      // a crashed JVM's lock: no heartbeat, mtime far past the TTL —
      // the next writer takes it over WITHOUT manual deletion
      val out = fs.create(lock, false)
      out.write("""{"owner":"dead@gone","instant":"x","op":"UPSERT"}"""
        .getBytes("UTF-8")); out.close()
      fs.setTimes(lock, System.currentTimeMillis() - 60000L, -1L)
      HudiSink.upsert(Seq(("a01", 2.0)).toDF("k", "v"), dir, "k", None,
        "20301101000000002")
      assert(HudiRO.read(spark, dir).select("v").as[Double].head() == 2.0)
      assert(!fs.exists(lock), "takeover must release the lock after commit")
      // a FRESH lock (mtime now — a live writer between heartbeats)
      // is NOT presumed dead: clean refusal naming the holder
      val o2 = fs.create(lock, false)
      o2.write("""{"owner":"alive@here","instant":"y","op":"UPSERT"}"""
        .getBytes("UTF-8")); o2.close()
      val e = intercept[IllegalStateException] {
        HudiSink.upsert(Seq(("a01", 9.0)).toDF("k", "v"), dir, "k", None,
          "20301101000000003")
      }
      assert(e.getMessage.contains("alive@here"), e.getMessage)
      fs.delete(lock, false)
      // heartbeat: during a commit LONGER than the TTL, the holder
      // refreshes the lock's mtime (ttl/3 cadence) so a contender
      // never sees a stale lease — sample mtimes while a slow insert
      // (many file groups) holds the lock
      val samples = scala.collection.mutable.ArrayBuffer.empty[Long]
      val writer = new Thread(() => {
        HudiSink.insert(
          (1 to 2000).map(i => (f"h$i%05d", i * 1.0)).toDF("k", "v"),
          dir, "k", None, "20301101000000004", recordsPerGroup = 25L)
      })
      writer.start()
      while (writer.isAlive) {
        try {
          val st = fs.getFileStatus(lock)
          samples += st.getModificationTime
        } catch { case _: Exception => () } // lock not created yet / released
        Thread.sleep(100L)
      }
      writer.join()
      // the slow commit held the lock well past the 400ms TTL; if we
      // observed the lease at least a TTL apart, it must have been
      // REFRESHED (distinct mtimes) — otherwise a contender could
      // have presumed the live holder dead
      if (samples.size >= 5)
        assert(samples.distinct.size >= 2,
          s"lock mtime never refreshed across ${samples.size} samples")
      assert(HudiRO.read(spark, dir).count() == 2001)
    } finally HudiSink.lockTtlMs = oldTtl
  }

  test("S20g: createExclusive error taxonomy — a transient non-local I/O failure surfaces as ITSELF, never as 'already exists'") {
    import graft.sources.HudiSink
    import org.apache.hadoop.fs.{FSDataOutputStream, FilterFileSystem, Path => HPath}
    val raw = new org.apache.hadoop.fs.RawLocalFileSystem()
    raw.initialize(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    // a NON-local FS (FilterFileSystem matches neither Local branch)
    // whose next exclusive create throws the injected exception —
    // the ADVICE-r15 scenario: on HDFS/object stores a network blip
    // during lock creation must NOT read as "locked by another
    // writer", which invites an unsafe manual lock deletion
    class FlakyFs(var failWith: Option[java.io.IOException])
        extends FilterFileSystem(raw) {
      override def create(f: HPath, overwrite: Boolean): FSDataOutputStream =
        failWith match {
          case Some(e) if !overwrite => failWith = None; throw e
          case _ => super.create(f, overwrite)
        }
    }
    val dir = tempDir("graft_src") + "/hudiflaky"
    new java.io.File(dir).mkdirs()
    val p = new HPath(s"$dir/.lock")
    // 1) transient blip while the path does NOT exist: propagates as itself
    val flaky = new FlakyFs(Some(new java.io.IOException("transient blip")))
    val e = intercept[java.io.IOException](HudiSink.createExclusive(flaky, p))
    assert(e.getMessage == "transient blip")
    assert(!new java.io.File(s"$dir/.lock").exists())
    // 2) clean exclusive create succeeds
    assert(HudiSink.createExclusive(flaky, p))
    // 3) an explicit FileAlreadyExistsException is a collision
    val faee = new FlakyFs(Some(
      new org.apache.hadoop.fs.FileAlreadyExistsException("exists")))
    assert(!HudiSink.createExclusive(faee, p))
    // 4) a store signalling the collision as a PLAIN IOException while
    //    the path exists: the exists re-check reads it as a collision
    val plain = new FlakyFs(Some(new java.io.IOException("opaque store error")))
    assert(!HudiSink.createExclusive(plain, p))
  }

  test("S20g: the writer lock is held across PLANNING — a held lock refuses BEFORE the snapshot read (no stale-snapshot lost update)") {
    import graft.sources.{HudiRO, HudiSink}
    import spark.implicits._
    val dir = tempDir("graft_src") + "/hudiplanlock"
    HudiSink.insert(Seq(("a01", 1.0)).toDF("k", "v"), dir, "k", None,
      "20301001000000001")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$dir/.hoodie/.lock")
    fs.create(lock, false).close()
    // a DISTINCT-instant upsert against the held table refuses before
    // reading the snapshot: the locator seam never runs (the ADVICE-r15
    // lost-update scenario — two interleaved rewrites where the second
    // plans from a snapshot that predates the first's commit)
    HudiSink.lastRewriteScan = None
    intercept[IllegalStateException] {
      HudiSink.upsert(Seq(("a01", 2.0)).toDF("k", "v"), dir, "k", None,
        "20301001000000002")
    }
    assert(HudiSink.lastRewriteScan.isEmpty,
      "upsert PLANNED against a snapshot while the table was locked")
    // clustering takes the same lock around its planning
    intercept[IllegalStateException] {
      HudiSink.cluster(spark, dir, "20301001000000003")
    }
    fs.delete(lock, false)
    HudiSink.upsert(Seq(("a01", 3.0)).toDF("k", "v"), dir, "k", None,
      "20301001000000004")
    assert(HudiRO.read(spark, dir).select("k", "v").as[(String, Double)]
      .collect().toMap == Map("a01" -> 3.0))
  }

  test("S20g property: hex key-range encoding round-trips EVERY byte sequence, and recorded ranges prune identically to footer probes") {
    import graft.sources.HudiSink
    // the commit body carries key bounds as hex because a
    // parquet-truncated bound rounded up need not be valid UTF-8 — the
    // encoding must round-trip arbitrary BYTES, not just strings
    val rnd = new scala.util.Random(20300801L) // fixed seed: deterministic
    (1 to 500).foreach { _ =>
      val b = new Array[Byte](rnd.nextInt(24)); rnd.nextBytes(b)
      val rt = HudiSink.fromHex(HudiSink.toHex(b))
      assert(java.util.Arrays.equals(rt, b),
        s"hex round-trip broke: ${b.toSeq} -> ${rt.toSeq}")
    }
    // and the round-tripped bounds compare EXACTLY like the originals
    (1 to 500).foreach { _ =>
      val x = new Array[Byte](rnd.nextInt(12)); rnd.nextBytes(x)
      val y = new Array[Byte](rnd.nextInt(12)); rnd.nextBytes(y)
      val direct = Integer.signum(HudiSink.cmpU(x, y))
      val viaHex = Integer.signum(HudiSink.cmpU(
        HudiSink.fromHex(HudiSink.toHex(x)), HudiSink.fromHex(HudiSink.toHex(y))))
      assert(direct == viaHex, s"cmpU drifted through hex: ${x.toSeq} vs ${y.toSeq}")
    }
    intercept[IllegalArgumentException](HudiSink.fromHex("abc")) // odd length
    intercept[IllegalArgumentException](HudiSink.fromHex("zz")) // garbage
    // Integer.parseInt(_, 16) accepts leading signs — an even-length
    // signed value must THROW, never silently parse to wrong bytes
    // (ADVICE r15: a wrong range could prune a file holding a live key)
    intercept[IllegalArgumentException](HudiSink.fromHex("-1ab0"))
    intercept[IllegalArgumentException](HudiSink.fromHex("+f"))
    intercept[IllegalArgumentException](HudiSink.fromHex("+0f0a"))
  }

  test("S20f: key-range pruning orders by UTF-8 BYTES — keys where Java String order disagrees stay correct") {
    import graft.sources.{HudiRO, HudiSink}
    import spark.implicits._
    // U+FF61 (EF BD A1) vs U+10000 (F0 90 80 80, a surrogate pair):
    // Java compareTo puts "𐀀" BELOW "｡" (code-unit
    // order), but UTF-8 bytes/parquet stats/Spark's UTF8String put it
    // ABOVE. A prune comparing in String order would wrongly drop the
    // supplementary-key file; cmpU compares bytes so it cannot.
    val dir = tempDir("graft_src") + "/hudiprune_utf8"
    val kSupp = "𐀀a" // U+10000 + 'a'
    HudiSink.insert(Seq(("｡a", 1.0), ("｡b", 2.0)).toDF("k", "v"),
      dir, "k", None, "20300401000000001")
    HudiSink.insert(Seq((kSupp, 3.0)).toDF("k", "v"),
      dir, "k", None, "20300401000000002")
    HudiSink.upsert(Seq((kSupp, 33.0)).toDF("k", "v"),
      dir, "k", None, "20300401000000003")
    // only the supplementary-key file is a candidate (byte order puts
    // the batch range above the FF61 file's max; String order would
    // have inverted this)
    assert(HudiSink.lastRewriteScan.contains((1, 2)),
      s"expected 1-of-2 candidates, got ${HudiSink.lastRewriteScan}")
    val got = HudiRO.read(spark, dir).select("k", "v")
      .as[(String, Double)].collect().toMap
    assert(got == Map("｡a" -> 1.0, "｡b" -> 2.0, kSupp -> 33.0), got)
    // unsigned-compare unit check: the byte order the prune uses
    assert(HudiSink.cmpU(kSupp.getBytes("UTF-8"), "｡a".getBytes("UTF-8")) > 0)
    assert(kSupp.compareTo("｡a") < 0) // the String order that would lie
  }

  test("T31/T33: lastCommittedBatchId returns the NEWEST batch per query id under interleaved writers") {
    import graft.sources.{HudiSink, HiveAcidSink}
    import spark.implicits._
    val dir = tempDir("graft_src") + "/hudi_batchids"
    val df = Seq((1L, 1.0)).toDF("k", "v")
    // two query ids interleave commits; each must see only ITS newest
    HudiSink.insert(df, dir, "k", None, "20300501000000001",
      extraMetadata = Map("streaming-query-id" -> "qa", "streaming-batch-id" -> "0"))
    HudiSink.insert(df, dir, "k", None, "20300501000000002",
      extraMetadata = Map("streaming-query-id" -> "qb", "streaming-batch-id" -> "5"))
    HudiSink.insert(df, dir, "k", None, "20300501000000003",
      extraMetadata = Map("streaming-query-id" -> "qa", "streaming-batch-id" -> "2"))
    assert(HudiSink.lastCommittedBatchId(spark, dir, "qa").contains(2L))
    assert(HudiSink.lastCommittedBatchId(spark, dir, "qb").contains(5L))
    assert(HudiSink.lastCommittedBatchId(spark, dir, "qc").isEmpty)
    // ACID twin: newest delta (highest write id) wins per query id
    val adir = tempDir("graft_src") + "/acid_batchids"
    HiveAcidSink.insertOnly(df, adir, 1L,
      sidecar = Map("streaming-query-id" -> "qa", "streaming-batch-id" -> "0"))
    HiveAcidSink.insertOnly(df, adir, 2L,
      sidecar = Map("streaming-query-id" -> "qb", "streaming-batch-id" -> "7"))
    HiveAcidSink.insertOnly(df, adir, 3L,
      sidecar = Map("streaming-query-id" -> "qa", "streaming-batch-id" -> "1"))
    assert(HiveAcidSink.lastCommittedBatchId(spark, adir, "qa").contains(1L))
    assert(HiveAcidSink.lastCommittedBatchId(spark, adir, "qb").contains(7L))
    assert(HiveAcidSink.lastCommittedBatchId(spark, adir, "qc").isEmpty)
  }

  test("S18f: the full-ACID write descope is BEHAVIORAL — insertOnly refuses full-ACID tables loudly") {
    import graft.sources.HiveAcidSink
    import spark.implicits._
    val batch = Seq((1L, "x")).toDF("k", "v")
    // signature 1: a delete_delta dir marks a full-ACID table
    val t1 = tempDir("graft_src") + "/acid_full_dd"
    val fs = new org.apache.hadoop.fs.Path(t1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    batch.write.parquet(s"$t1/delta_0000001_0000001")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$t1/delete_delta_0000002_0000002"))
    intercept[IllegalArgumentException] {
      HiveAcidSink.insertOnly(batch, t1, 3L)
    }
    // signature 2: acid EVENT-wrapped files in an existing delta
    // (the real Hive 3 full-ACID ORC shape, the S18d fixture device)
    val t2 = tempDir("graft_src") + "/acid_full_ev"
    batch.select(lit(0).as("operation"), lit(1L).as("originalTransaction"),
      lit(0).as("bucket"), col("k").as("rowId"),
      lit(1L).as("currentTransaction"),
      struct(col("k"), col("v")).as("row"))
      .coalesce(1).write.orc(s"$t2/delta_0000001_0000001")
    intercept[IllegalArgumentException] {
      HiveAcidSink.insertOnly(batch, t2, 2L)
    }
    // and the parquet-flavored event shape (fixture-shaped full ACID)
    val t3 = tempDir("graft_src") + "/acid_full_evpq"
    batch.select(lit(0).as("operation"), lit(1L).as("originalTransaction"),
      lit(0).as("bucket"), col("k").as("rowId"),
      lit(1L).as("currentTransaction"), col("k"), col("v"))
      .coalesce(1).write.parquet(s"$t3/delta_0000001_0000001")
    intercept[IllegalArgumentException] {
      HiveAcidSink.insertOnly(batch, t3, 2L)
    }
    // a genuine insert-only table keeps accepting writes
    val t4 = tempDir("graft_src") + "/acid_mm_ok"
    HiveAcidSink.insertOnly(batch, t4, 1L)
    HiveAcidSink.insertOnly(Seq((2L, "y")).toDF("k", "v"), t4, 2L)
    assert(spark.read.parquet(s"$t4/delta_0000001_0000001",
      s"$t4/delta_0000002_0000002").count() == 2)
    // ADVICE r14: event files appearing only in the NEWEST delta (a
    // table converted to full-ACID mid-life) must still refuse — the
    // guard probes both ends of the delta range
    val t5 = tempDir("graft_src") + "/acid_full_late"
    batch.write.parquet(s"$t5/delta_0000001_0000001") // plain MM delta
    batch.select(lit(0).as("operation"), lit(1L).as("originalTransaction"),
      lit(0).as("bucket"), col("k").as("rowId"),
      lit(1L).as("currentTransaction"), col("k"), col("v"))
      .coalesce(1).write.parquet(s"$t5/delta_0000002_0000002")
    intercept[IllegalArgumentException] {
      HiveAcidSink.insertOnly(batch, t5, 3L)
    }
    // ...while an MM table whose USER schema merely starts
    // (operation, originalTransaction) is NOT falsely refused: the
    // signature is the full five-column acid event prefix
    val t6 = tempDir("graft_src") + "/acid_mm_opnames"
    HiveAcidSink.insertOnly(
      Seq((0, 1L, "x")).toDF("operation", "originalTransaction", "payload"),
      t6, 1L)
    HiveAcidSink.insertOnly(
      Seq((1, 2L, "y")).toDF("operation", "originalTransaction", "payload"),
      t6, 2L)
    assert(spark.read.parquet(s"$t6/delta_0000001_0000001",
      s"$t6/delta_0000002_0000002").count() == 2)
  }

  test("S18d: ORC DATE columns decode to the external java.sql.Date on the batch path") {
    import graft.sources.AcidOrc
    // ADVICE r12: the batch (Row-encoder) path previously surfaced the
    // internal day-ordinal Int for DATE and crashed createDataFrame;
    // pin the external type end-to-end incl. a pre-epoch day and NULL
    val root = tempDir("graft_src") + "/acid_orc_date/base_0000001"
    import spark.implicits._
    val rows = Seq(
      (1L, java.sql.Date.valueOf("2024-03-01")),
      (2L, java.sql.Date.valueOf("1969-12-31")), // epoch day -1
      (3L, null)
    ).toDF("doc_id", "d")
    rows.select(lit(0).as("operation"), lit(1L).as("originalTransaction"),
      lit(0).as("bucket"), col("doc_id").as("rowId"),
      lit(1L).as("currentTransaction"),
      struct(col("doc_id"), col("d")).as("row"))
      .coalesce(1).write.mode("overwrite").orc(root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.toString).filter(f => !f.contains("_SUCCESS")).toSeq
    val user = AcidOrc.rowSchema(spark, files.head)
    assert(user("d").dataType == org.apache.spark.sql.types.DateType)
    val got = AcidOrc.read(spark, files, user)
      .select("doc_id", "d").collect()
      .map(r => r.getLong(0) -> Option(r.getDate(1)).map(_.toString)).toMap
    assert(got == Map(1L -> Some("2024-03-01"), 2L -> Some("1969-12-31"),
      3L -> None), got.toString)
  }

  test("S13c: a file carrying both an alias's old and new name cannot mask another file's absence") {
    import graft.sources.AvroSource
    import org.apache.spark.sql.types._
    // ADVICE r12: presence was counted per FIELD OCCURRENCE, so file1
    // carrying (a, b) under alias b:a reached seen(b) == 2 == #files
    // and kept b non-nullable while file2 NULL-fills it
    val f1 = StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false)))
    val f2 = StructType(Seq(StructField("x", StringType, nullable = false)))
    val merged = AvroSource.mergeSchemas(Seq(f1, f2), Map("b" -> Seq("a")))
    assert(merged("b").nullable, "b is absent from file2 — must merge nullable")
    assert(merged("x").nullable, "x is absent from file1 — must merge nullable")
    // control: a field present in EVERY file keeps its non-nullability
    val f3 = StructType(Seq(StructField("x", StringType, nullable = false),
      StructField("b", LongType, nullable = false)))
    assert(!AvroSource.mergeSchemas(Seq(f3, f3), Map.empty)("x").nullable)
  }

  test("S20: Hive-escaped partition values unescape for pruning and rematerialization") {
    import graft.sources.HudiRO
    // ADVICE r12: a partition value with ':' and ' ' escapes in the dir
    // name; the user prunes by the RAW value and the column must carry
    // the RAW value back
    import spark.implicits._
    val root = tempDir("graft_src") + "/hudi_escaped"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/.hoodie"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$root/.hoodie/hoodie.properties"), true).close()
    val raw = "a b:c"
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(raw)
    assert(esc != raw) // the value genuinely escapes
    Seq(esc, "plain").foreach { seg =>
      val pd = s"$root/p=$seg"
      fs.mkdirs(new org.apache.hadoop.fs.Path(pd))
      fs.create(new org.apache.hadoop.fs.Path(
        s"$pd/.hoodie_partition_metadata"), true).close()
      graft.Fs.writeSingleFile(
        Seq((1L, seg)).toDF("doc_id", "text"),
        s"$pd/fg0_0-0-0_20240101000000000.parquet")
    }
    fs.create(new org.apache.hadoop.fs.Path(
      s"$root/.hoodie/20240101000000000.commit"), true).close()
    // pruning by the RAW value finds the escaped dir
    val pruned = HudiRO.read(spark, root, partitions = Seq(raw))
    assert(pruned.count() == 1)
    // ...and the rematerialized column carries the RAW value
    assert(pruned.select("p").collect().map(_.getString(0)).toSeq == Seq(raw))
    val all = HudiRO.read(spark, root)
    assert(all.select("p").collect().map(_.getString(0)).sorted.toSeq ==
      Seq(raw, "plain").sorted)
  }

  test("S20: numeric-looking partition values stay STRING without touching the session conf") {
    import graft.sources.HudiRO
    // ADVICE r12: HudiRO.read used to flip the session-global
    // partitionColumnTypeInference conf around the read — a concurrent
    // query could observe it disabled. Now an explicit user schema pins
    // the partition column to STRING; the conf is never written.
    import spark.implicits._
    val root = tempDir("graft_src") + "/hudi_numpart"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/.hoodie"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$root/.hoodie/hoodie.properties"), true).close()
    Seq("01", "2").foreach { seg =>
      val pd = s"$root/p=$seg"
      fs.mkdirs(new org.apache.hadoop.fs.Path(pd))
      fs.create(new org.apache.hadoop.fs.Path(
        s"$pd/.hoodie_partition_metadata"), true).close()
      graft.Fs.writeSingleFile(
        Seq((1L, seg)).toDF("doc_id", "text"),
        s"$pd/fg${seg}_0-0-0_20240101000000000.parquet")
    }
    fs.create(new org.apache.hadoop.fs.Path(
      s"$root/.hoodie/20240101000000000.commit"), true).close()
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val before = spark.conf.getOption(inferKey)
    val df = HudiRO.read(spark, root)
    // "01" must NOT round-trip as int 1 (inference would strip the 0)
    assert(df.schema("p").dataType == org.apache.spark.sql.types.StringType)
    assert(df.select("p").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("01", "2"))
    assert(spark.conf.getOption(inferKey) == before,
      "HudiRO.read must not write the session conf")
  }

  test("S20b: clustering replacecommit — replaced groups dead, new base file visible, ONE scan relation") {
    import graft.sources.{HudiQueries, HudiRO}
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = HudiQueries.clustered.ensure(spark, sf0001)
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val df = HudiRO.read(spark, root)
    // post-clustering snapshot = every row exactly once (a reader that
    // ignored partitionToReplaceFileIds would double %4 in {0,1,2})
    assert(df.count() == orders.count())
    assert(df.select("o_orderkey").distinct().count() == orders.count())
    // the partition column survives discovery as a STRING and prunes
    val f = HudiRO.read(spark, root, partitions = Seq("F"))
    assert(f.schema("o_orderstatus").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(f.count() ==
      orders.filter(col("o_orderstatus") === "F").count())
    // a multi-partition read plans ONE scan relation (basePath-anchored
    // single parquet relation), not a per-partition union — the
    // 1000-partition table's driver plan stays O(1) in partition count
    val scans = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1, s"expected one Hudi scan relation, got ${scans.size}")
  }

  test("S20c: unrecognized replacecommit body shapes refuse loudly") {
    import graft.sources.{HudiQueries, HudiRO}
    val root = HudiQueries.clustered.ensure(spark, sf0001)
    val copy = tempDir("graft_src") + "/hudicluster_bad"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(root),
      fs, new org.apache.hadoop.fs.Path(copy), false,
      spark.sparkContext.hadoopConfiguration)
    val rc = s"$copy/.hoodie/20240102000000000.replacecommit"
    def put(body: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(rc), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    // no partitionToReplaceFileIds at all
    put("""{"operationType": "CLUSTER"}""")
    val e1 = intercept[IllegalArgumentException] { HudiRO.read(spark, copy) }
    assert(e1.getMessage.contains("partitionToReplaceFileIds"))
    // the field is not an object
    put("""{"partitionToReplaceFileIds": 7}""")
    intercept[IllegalArgumentException] { HudiRO.read(spark, copy) }
    // a partition's value is not an array of strings
    put("""{"partitionToReplaceFileIds": {"o_orderstatus=F": [1, 2]}}""")
    intercept[IllegalArgumentException] { HudiRO.read(spark, copy) }
    // not JSON
    put("not json at all")
    intercept[IllegalArgumentException] { HudiRO.read(spark, copy) }
  }

  test("S16p: an Iceberg commit refuses a metadata version another writer already took") {
    import graft.sources.IcebergWrite
    import java.nio.file.{Files, Paths}
    val dir = tempDir("graft_src") + "/iceberg_taken"
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    IcebergWrite.write(docs.filter(col("doc_id") < 400), dir, "doc_id", 8)
    // a second writer that read version 1 too committed v2 first (the
    // hint not moved yet)
    val meta = Paths.get(dir, "metadata")
    Files.copy(meta.resolve("v1.metadata.json"), meta.resolve("v2.metadata.json"))
    val taken = Files.readAllBytes(meta.resolve("v2.metadata.json"))
    val e = intercept[IllegalStateException] {
      IcebergWrite.append(docs.filter(col("doc_id") >= 400), dir)
    }
    assert(e.getMessage.contains("v2.metadata.json"), e.getMessage)
    assert(java.util.Arrays.equals(Files.readAllBytes(meta.resolve("v2.metadata.json")), taken))
    assert(Files.readString(meta.resolve("version-hint.text")).trim == "1")
  }

  test("S16q: a column named with quotes and a space reads through the Iceberg DSv2 source and a Hudi stream") {
    import graft.sources.{HudiSink, IcebergWrite}
    import org.apache.spark.sql.Row
    val quoted = "say \"hi\""
    val schema = StructType(Seq(StructField("id", LongType), StructField(quoted, StringType)))
    val rows = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "a"), Row(2L, "b"))), schema)
    val want = Seq((1L, "a"), (2L, "b"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col(quoted)).collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val root = tempDir("graft_src")
    IcebergWrite.write(rows, s"$root/iceberg", "id", "identity")
    assert(pairs(spark.read.format("graft.sources.IcebergSource").load(s"$root/iceberg")) == want)
    HudiSink.insert(rows, s"$root/hudi", "id", None, "20300101000000001")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = spark.readStream.format("graft.sources.HudiStreamSource").load(s"$root/hudi")
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got ++= pairs(df) }; ()
      }.option("checkpointLocation", s"$root/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    assert(got.sortBy(_._1).toSeq == want)
  }

  test("S20h: one upsert lists the timeline once and the table directory once while it holds the writer lock") {
    import graft.sources.{HudiRO, HudiSink}
    import spark.implicits._
    CountingFs.register(spark)
    val local = tempDir("graft_src") + "/hudicount"
    val dir = s"counting:$local"
    HudiSink.insert(Seq(("a", 1L, "x"), ("b", 2L, "y")).toDF("k", "v", "p"), dir, "k",
      Some("p"), "20300101000000001")
    CountingFs.events.clear()
    HudiSink.upsert(Seq(("a", 10L, "x"), ("c", 3L, "y")).toDF("k", "v", "p"), dir, "k",
      Some("p"), "20300101000000002")
    val log = CountingFs.events.toArray(Array.empty[String]).toSeq
    // held: from the owner write into the just-taken lock to its release
    val lock = s"$local/.hoodie/.lock"
    val from = log.indexOf(s"create $lock")
    val to = log.indexOf(s"delete $lock")
    assert(from >= 0 && to > from, log.mkString("\n"))
    val held = log.slice(from, to)
    val timelineLists = held.count(_ == s"list $local/.hoodie")
    val tableLists = held.count(_ == s"list $local")
    assert((timelineLists, tableLists) == ((1, 1)), held.filter(_.startsWith("list")).mkString("\n"))
    assert(HudiRO.read(spark, dir).count() == 3)
  }
}

/** The local filesystem under its own scheme, `counting:`, logging each
  * `listStatus`, `create` and `delete` as "<op> <path>" in call order,
  * so a spec can count the listings a writer makes while it holds its
  * lock. */
class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path}
  override def getUri: java.net.URI = java.net.URI.create("counting:///")
  override def getScheme: String = "counting"
  private def note(op: String, p: Path): Unit = CountingFs.events.add(s"$op ${p.toUri.getPath}")
  override def listStatus(p: Path): Array[FileStatus] = { note("list", p); super.listStatus(p) }
  override def create(p: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    note("create", p); super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = { note("delete", p); super.delete(p, recursive) }
}

object CountingFs {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Maps the `counting:` scheme to this filesystem in the session's
    * Hadoop configuration. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.counting.impl", classOf[CountingFs].getName)
}
