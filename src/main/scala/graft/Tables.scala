package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Mirrors the table surface of the reference engine's test schema
  * (apache-impala-4.1.0/testdata/datasets/tpch) plus the pipeline tables
  * (documents, embeddings, events). One parquet scan per table; column
  * pruning / predicate pushdown is left to Catalyst — callers select.
  *
  * Every accessor lists the table path once and resolves its schema
  * through a small metadata catalog, the way the reference engine's
  * catalog service spares each query the file footers: a plain
  * `spark.read.parquet` runs a one-task Spark job to infer the schema
  * (about 100 ms per read at sf0.1), and a query reads 2–6 tables. The
  * catalog maps a content key — the path, every listed file's (path,
  * length, mtime), and the session values of the confs that change an
  * inferred parquet schema ([[Tables.SchemaConfs]]) — to the inferred
  * `StructType`; a hit reads with `spark.read.schema(cached)`, which
  * runs no job. Rewriting a file, adding or removing one, or flipping
  * one of those confs changes the key, so a stale schema is never
  * served. Only the schema is cached: no data, result or resolved
  * relation, so Spark still lists the files and plans every scan
  * fresh, and each query gets fresh expression IDs (a table read twice
  * in one self-join stays unambiguous). If the listing fails, the read
  * is the plain uncached one, so errors (a missing path's
  * PATH_NOT_FOUND) surface exactly as Spark reports them and nothing
  * is cached for them. The same listing feeds the input-spread gate
  * ([[spread]]). */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = read(name)._1

  /** The table's DataFrame and the listing its schema was keyed by
    * (None when the listing failed). */
  private def read(name: String): (DataFrame, Option[Seq[Tables.FileId]]) = {
    val path = s"$dir/$name.parquet"
    val files = Tables.list(spark, path)
    (Tables.parquet(spark, path, files), files)
  }

  /** Guide §2.5 ("input skew: one huge unsplittable file — repartition
    * immediately after the read"), applied scale-adaptively and OPT-IN
    * PER CONSUMER. The driver testdata ships each table as ONE parquet
    * file with ONE row group; Spark cannot split a row group, so every
    * scan stage otherwise runs as a single task and ALL pre-exchange
    * compute (decode, filters, shingle hashing, partial aggregation)
    * single-threads regardless of core count. When the file layout
    * cannot feed the session's parallelism — strictly fewer potential
    * input splits than cores — spread rows round-robin right after the
    * read. On any layout with >= cores splits (every production table,
    * multi-file Spark-written dirs) the gate is false and NO exchange
    * is added, so the rewrite costs nothing at 100 TB; the gate derives
    * from input size and session parallelism, never a local constant.
    *
    * Why opt-in and not the default (r16, measured): the spread
    * exchange itself costs one extra stage (~0.2–0.4 s on the bench
    * box), so it pays ONLY where post-scan per-row compute dominates —
    * tokenizers, shingle/regex pipelines, full-fact decimal aggregates,
    * multi-distinct Expands, parallel sink writes (interleaved A/B
    * ledger: bench_control_r16b/c.json; e.g. text_langid 2.4×,
    * pipe_token_fertility 2.2×, stats_table 1.56× faster with the
    * spread, but q03 1.7× SLOWER — a filtered scan plus a cheap
    * aggregate loses more to the extra exchange than the parallel
    * compute wins back). Cheap scan→filter→aggregate paths therefore
    * keep the bare single-task scan. Round-robin is retry-safe
    * (sortBeforeRepartition stays on) and results are partitioning-
    * independent: every declared query aggregates through exact decimal
    * sums / total orders (re-verified against the DuckDB oracle at all
    * three SFs with the spread active). */
  private def spread(name: String): DataFrame = {
    val (df, files) = read(name)
    val cores = spark.sparkContext.defaultParallelism
    // a failed listing falls back to "no spread", so the gate can never
    // make a readable table unreadable
    val (splits, bytes) = files.fold((Long.MaxValue, 0L))(Tables.layoutBound(spark, _))
    // bytes is an upper bound on the row count a repartition could ever
    // use (every row occupies >= 1 byte), so min() keeps the exchange
    // width from exceeding what the table can possibly fill — a
    // tiny-dim accessor swap can never plan a wider-than-data exchange
    // (r16 verdict #7).
    if (splits >= cores) df
    else df.repartition(Tables.spreadWidth(cores, bytes))
  }

  /** events.ts arrives as either int64 nanoseconds (TIMESTAMP(NANOS)
    * parquet under spark.sql.legacy.parquet.nanosAsLong — the original
    * testdata encoding) or as a genuine timestamp column (micros, the
    * round-7 regeneration). Every consumer was written against the
    * bigint-nanos contract (`ts div 1000000000` → epoch seconds), so
    * normalize HERE, at the single choke point, rather than teaching
    * each of the ~10 event/as-of/band queries both encodings. The
    * timestamp→nanos conversion is exact (micros * 1000) and the cast
    * to TimestampType is identity-safe because every session in this
    * repo pins spark.sql.session.timeZone=UTC. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(
            df.col("ts").cast(org.apache.spark.sql.types.TimestampType)) * 1000L)
    }

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")
  def events: DataFrame = normalizeTs(t("events"))
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** Input-spread variants (see [[spread]]) — used by the queries whose
    * measured post-scan compute dominates the spread exchange; every
    * call site is an entry in the bench_control_r16b/c.json A/B ledger
    * (or shares its operator with one, noted inline). */
  def ordersSpread: DataFrame = spread("orders")
  def lineitemSpread: DataFrame = spread("lineitem")
  def eventsSpread: DataFrame = normalizeTs(spread("events"))
  def documentsSpread: DataFrame = spread("documents")
  def embeddingsSpread: DataFrame = spread("embeddings")
}

object Tables {
  /** One listed file: (qualified path, length, mtime). */
  private[graft] type FileId = (String, Long, Long)

  /** The session confs that change the schema parquet inference
    * returns for the same files (nanos as bigint, binary as string,
    * INT96 and NTZ timestamp mapping, merging every file's schema). */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private type SchemaKey = (String, Seq[FileId], Seq[Option[String]])

  /** Inferred schemas by content key (see the [[Tables]] scaladoc).
    * Per-entry LRU, the HudiSink discipline: a schema is a few KB and
    * the key holds one tuple per file, so 256 entries bound driver
    * memory while holding every table of several scale-factor dirs. */
  private val schemaCache = Lru[SchemaKey, StructType](256)

  /** The files Spark's file index would list under `path` (a file or a
    * directory tree): hidden '_' and '.' names are skipped, mirroring
    * InMemoryFileIndex.shouldFilterOutPathName, except partition dirs
    * ('=' in the name) and the parquet summary files, which schema
    * inference reads first. Any listing failure — not just
    * IOException; object-store clients surface RuntimeException
    * wrappers — yields None. */
  private def list(spark: SparkSession, path: String): Option[Seq[FileId]] = {
    def visible(n: String) =
      n.startsWith("_metadata") || n.startsWith("_common_metadata") ||
        !(n.startsWith(".") || (n.startsWith("_") && !n.contains("=")))
    def walk(fs: FileSystem, p: Path): Seq[FileId] =
      fs.listStatus(p).toSeq.filter(st => visible(st.getPath.getName)).flatMap { st =>
        if (st.isDirectory) walk(fs, st.getPath)
        else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
      }
    val hp = new Path(path)
    try Some(walk(hp.getFileSystem(spark.sessionState.newHadoopConf()), hp))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Reads `path` with its cached schema on a key hit. On a miss the
    * plain read infers it; the schema is stored only if a second
    * listing still matches the first, so a table rewritten during
    * inference cannot pin the new schema to the old files' key. */
  private def parquet(spark: SparkSession, path: String,
                      files: Option[Seq[FileId]]): DataFrame = files match {
    case None => spark.read.parquet(path)
    case Some(listed) =>
      val key = (path, listed, SchemaConfs.map(spark.conf.getOption))
      Option(schemaCache.get(key)) match {
        case Some(schema) => spark.read.schema(schema).parquet(path)
        case None =>
          val df = spark.read.parquet(path)
          if (list(spark, path) == files) schemaCache.put(key, df.schema)
          df
      }
  }

  /** Lower bound on how many scan tasks the file layout can feed —
    * per-file ceil(bytes / maxPartitionBytes), i.e. the split count
    * Spark would plan BEFORE row-group snapping (a single-row-group
    * file yields its splits but only one is non-empty, so this bound
    * is also optimistic — never repartitions too eagerly) — plus the
    * total data bytes (an upper bound on row count for the spread's
    * width guard). Summary files and empty files hold no rows and
    * count for neither. It is derived from the read's own listing, so
    * a table rewritten mid-run is judged by its current layout. */
  private def layoutBound(spark: SparkSession, files: Seq[FileId]): (Long, Long) = {
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    files.collect { case (p, len, _) if len > 0 && !new Path(p).getName.startsWith("_") => len }
      .foldLeft((0L, 0L)) { case ((s, b), len) => (s + (len + maxSplit - 1) / maxSplit, b + len) }
  }

  /** Width of the input-spread exchange: the session's parallelism,
    * capped by the table's byte length (>= its row count — every row
    * occupies at least one byte), so the spread can never plan an
    * exchange wider than the data could fill (r16 verdict #7). */
  private[graft] def spreadWidth(cores: Int, bytes: Long): Int =
    math.max(1L, math.min(cores.toLong, bytes)).toInt
}
