package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Table-maintenance operations (SURVEY.md §2 M1/M2) — the reference's
  * statement-level surface re-expressed as relational queries.
  *
  * - `stats_table`: COMPUTE STATS parity (apache-impala-4.1.0/fe/src/
  *   main/java/org/apache/impala/analysis/ComputeStatsStmt.java —
  *   per-column row count / null count / NDV / min / max / avg size,
  *   gathered in ONE scan of the table exactly like Impala's
  *   child-query batching). NDV here is exact countDistinct so the row
  *   is oracle-checkable; the approximate path is `agg_approx_ndv`.
  * - `merge_upsert`: UPSERT parity (InsertStmt.java upsert mode /
  *   ModifyStmt.java): updates win over the base snapshot per key,
  *   delete-set rows drop out — expressed as union + per-key
  *   row_number (one shuffle) + left-anti join, the scalable shape (no
  *   full-outer join with its two-sided null handling; priority order
  *   extends to n sources unchanged).
  */
object TableOps extends graft.QueryModule {

  /** M4: small-file compaction — the table-maintenance pass every
    * streaming/incremental parquet lake needs (each micro-batch or
    * task writes a file; thousands of small files kill scan planning
    * and NameNode/liststatus time). Sizes the output file count from
    * the ACTUAL input bytes (ceil(bytes / targetFileBytes)) and
    * round-robins rows into exactly that many files. Returns the
    * re-read compacted relation; file-count/size assertions live in
    * SourcesSpec. The Iceberg analogue is rewrite_data_files; Impala
    * users run INSERT OVERWRITE ... SELECT for the same effect. */
  def compactFiles(spark: SparkSession, inDir: String, outDir: String,
                   targetFileBytes: Long = 128L * 1024 * 1024): DataFrame = {
    val in = new org.apache.hadoop.fs.Path(inDir)
    val fs = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(in).filter(_.isFile)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    spark.read.parquet(inDir)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(outDir)
    spark.read.parquet(outDir)
  }

  private val compactIn = new graft.TmpPath("compact_in")
  private val compactOut = new graft.TmpPath("compact_out")
  private val dynDir = new graft.TmpPath("dyn_overwrite")

  /** M5: DYNAMIC partition overwrite — the reference's
    * `INSERT OVERWRITE ... PARTITION` with dynamic partition values
    * (apache-impala-4.1.0/be/src/exec/hdfs-table-sink.cc: only the
    * partitions the inserted rows name are clobbered). Spark-side this
    * is the file-source `partitionOverwriteMode=dynamic` write: the
    * overwrite batch replaces exactly the partition directories its
    * rows land in; untouched partitions keep their files byte-for-byte
    * (SourcesSpec asserts the file listing). Static overwrite — the
    * default — would truncate the whole table first. */
  def dynamicOverwrite(spark: SparkSession, tableDir: String,
                       batch: DataFrame, partCol: String): Unit =
    batch.write.partitionBy(partCol)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(tableDir)

  val queries: Map[String, Q] = Map(
    // M5 end-to-end: partition documents by lang, dynamically
    // overwrite ONE partition with rewritten rows, and aggregate the
    // re-read table; the oracle recomputes the merged state
    // relationally, so a hash match proves untouched partitions
    // survived and the named partition was replaced (not appended).
    "m5_dynamic_overwrite" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val p = dynDir(dir)
      t.documents.write.partitionBy("lang").mode("overwrite").parquet(p)
      val batch = t.documents.filter(col("lang") === "en")
        .withColumn("text", concat(lit("REWRITTEN:"), col("doc_id").cast("string")))
      dynamicOverwrite(spark, p, batch, "lang")
      spark.read.parquet(p).groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(col("doc_id")).as("sum_id"),
          sum(when(col("text").startsWith("REWRITTEN:"), 1L).otherwise(0L)).as("n_rewritten"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),
    // M4 end-to-end: shatter documents into 64 tiny files, compact,
    // and aggregate the re-read table — the oracle computes the same
    // aggregate from the ORIGINAL parquet, so a hash match proves the
    // compaction pass lost/duplicated nothing. (File-count and
    // target-size behavior is asserted in SourcesSpec — env-specific,
    // not oracle-able.)
    "m4_compact_small_files" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.documents.repartition(64).write.mode("overwrite").parquet(compactIn(dir))
      val compacted = compactFiles(spark, compactIn(dir), compactOut(dir), 32L * 1024 * 1024)
      compacted.groupBy("lang")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("nd"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang")
    }),
    // M1: one-pass per-column table stats over orders. Numeric min/max
    // go through DECIMAL(18,2) so both engines render identical strings.
    // Formulation note: the single .agg with 4 countDistincts plans as
    // ONE scan + Expand ×5 (each input row replicated per distinct
    // group) — Impala's COMPUTE STATS child-query batching. The
    // 4-independent-aggregates UNION alternative re-scans per column;
    // at 100 TB the single scan wins (I/O-bound), so Expand stays.
    // r16 input spread (Tables.ordersSpread): the 4-way countDistinct
    // Expand multiplies every row — interleaved A/B 1.56×
    // (bench_control_r16c.json).
    "stats_table" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val a = t.ordersSpread.agg(
        count(lit(1)).as("n"),
        count(col("o_orderstatus")).as("nn_status"),
        countDistinct(col("o_orderstatus")).as("ndv_status"),
        min(col("o_orderstatus")).as("min_status"),
        max(col("o_orderstatus")).as("max_status"),
        round(avg(length(col("o_orderstatus"))), 4).as("len_status"),
        count(col("o_orderpriority")).as("nn_prio"),
        countDistinct(col("o_orderpriority")).as("ndv_prio"),
        min(col("o_orderpriority")).as("min_prio"),
        max(col("o_orderpriority")).as("max_prio"),
        round(avg(length(col("o_orderpriority"))), 4).as("len_prio"),
        count(col("o_custkey")).as("nn_cust"),
        countDistinct(col("o_custkey")).as("ndv_cust"),
        min(col("o_custkey")).cast("decimal(18,2)").cast("string").as("min_cust"),
        max(col("o_custkey")).cast("decimal(18,2)").cast("string").as("max_cust"),
        count(col("o_totalprice")).as("nn_price"),
        countDistinct(col("o_totalprice")).as("ndv_price"),
        min(col("o_totalprice")).cast("decimal(18,2)").cast("string").as("min_price"),
        max(col("o_totalprice")).cast("decimal(18,2)").cast("string").as("max_price"))
      a.select(expr(
        """stack(4,
          |  'o_orderstatus',   n, n - nn_status, ndv_status, min_status, max_status, len_status,
          |  'o_orderpriority', n, n - nn_prio,   ndv_prio,   min_prio,   max_prio,   len_prio,
          |  'o_custkey',       n, n - nn_cust,   ndv_cust,   min_cust,   max_cust,   CAST(NULL AS DOUBLE),
          |  'o_totalprice',    n, n - nn_price,  ndv_price,  min_price,  max_price,  CAST(NULL AS DOUBLE)
          |) AS (col_name, n_rows, n_nulls, ndv, min_val, max_val, avg_len)""".stripMargin))
        .orderBy("col_name")
    }),

    // M1b — the reference's ACTUAL COMPUTE STATS semantics: NDV comes
    // from ndv() (HLL), not an exact DISTINCT
    // (fe/src/.../analysis/ComputeStatsStmt.java builds per-column
    // ndv() aggregates). This is also the 100 TB-right plan: the exact
    // variant above plans 4 count(DISTINCT) through a 4× Expand of the
    // fact, while HLL sketches keep ONE pass, ONE partial-aggregated
    // scan, no expand. Approx by design → rows-only; the spec bounds
    // each estimate against the exact variant (HLL++ at rsd 0.05).
    "stats_table_ndv" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val a = t.orders.agg(
        count(lit(1)).as("n"),
        count(col("o_orderstatus")).as("nn_status"),
        approx_count_distinct(col("o_orderstatus")).as("ndv_status"),
        count(col("o_orderpriority")).as("nn_prio"),
        approx_count_distinct(col("o_orderpriority")).as("ndv_prio"),
        count(col("o_custkey")).as("nn_cust"),
        approx_count_distinct(col("o_custkey")).as("ndv_cust"),
        count(col("o_totalprice")).as("nn_price"),
        approx_count_distinct(col("o_totalprice")).as("ndv_price"))
      a.select(expr(
        """stack(4,
          |  'o_orderstatus',   n, n - nn_status, ndv_status,
          |  'o_orderpriority', n, n - nn_prio,   ndv_prio,
          |  'o_custkey',       n, n - nn_cust,   ndv_cust,
          |  'o_totalprice',    n, n - nn_price,  ndv_price
          |) AS (col_name, n_rows, n_nulls, ndv)""".stripMargin))
        .orderBy("col_name")
    }),

    // M1c — COMPUTE INCREMENTAL STATS parity: the reference's
    // incremental path (apache-impala-4.1.0/fe/src/main/java/org/
    // apache/impala/analysis/ComputeStatsStmt.java, the isIncremental_
    // branch) computes per-PARTITION stats whose NDV state is a
    // mergeable sketch, so re-statting one newly-ingested partition
    // updates table-level stats without rescanning the others. Twin:
    // per-partition (year of o_orderdate stands in for the partition
    // key) counts + DataSketches HLL sketches, then a merge view that
    // unions the partition sketches into the TABLE row — the merge is
    // over |partitions| sketch blobs, never the fact. Approx by design
    // -> rows-only; SourcesSpec asserts the merged estimates match the
    // M1b whole-table numbers and the partition rows sum exactly.
    "stats_table_incremental" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val perPart = t.orders
        .groupBy(year(col("o_orderdate")).cast("long").as("p_year"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("o_custkey")).as("nn_cust"),
          hll_sketch_agg(col("o_custkey")).as("cust_hll"),
          hll_sketch_agg(col("o_orderpriority")).as("prio_hll"))
      val merged = perPart.agg(
        sum("n_rows").as("n_rows"),
        sum("nn_cust").as("nn_cust"),
        hll_sketch_estimate(hll_union_agg(col("cust_hll"))).as("ndv_cust"),
        hll_sketch_estimate(hll_union_agg(col("prio_hll"))).as("ndv_prio"))
      perPart
        .select(col("p_year").cast("string").as("partition"),
          col("n_rows"), col("nn_cust"),
          hll_sketch_estimate(col("cust_hll")).as("ndv_cust"),
          hll_sketch_estimate(col("prio_hll")).as("ndv_prio"))
        .unionByName(merged.select(lit("TABLE").as("partition"),
          col("n_rows"), col("nn_cust"), col("ndv_cust"), col("ndv_prio")))
        .orderBy("partition")
    }),

    // M2: upsert + delete merge. Keys are bounded for verify-output
    // size only; the plan is scale-free (shuffle on the merge key).
    "merge_upsert" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val o = t.orders.filter(col("o_orderkey") < 20000)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      val base = o.filter(col("o_orderkey") % 2 === 1)
        .withColumn("src", lit("base")).withColumn("pri", lit(1))
      val updates = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), (col("price_cents") + 1000L).as("price_cents"),
          lit("upd").as("src"), lit(0).as("pri"))
      val deletes = o.filter(col("o_orderkey") % 7 === 0).select(col("o_orderkey"))
      val w = Window.partitionBy("o_orderkey").orderBy("pri")
      updates.unionByName(base)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn", "pri")
        .join(deletes, Seq("o_orderkey"), "left_anti")
        .orderBy("o_orderkey")
    }),

    // M3: Z-order clustering key (graft.functions.ZOrder64) — the
    // multi-column layout transform: sort/range-partition a fact by
    // zorder64(partkey, suppkey) before writing and min/max stats
    // prune scans filtered on EITHER dimension. Key values are
    // oracle-exact (DuckDB mirrors the interleave bit-by-bit).
    "layout_zorder" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem.filter(col("l_orderkey") < 400)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          call_function("zorder64", col("l_partkey"), col("l_suppkey")).as("zkey"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
  )

  override val rowsOnly: Map[String, String] = Map(
    "stats_table_incremental" -> ("approx-estimator: incremental HLL-NDV merge — register state " +
      "unreplayable; exact twin stats_table IS oracle-checked"),
    "stats_table_ndv" -> ("approx-estimator: HLL column NDV — register state unreplayable; exact " +
      "twin stats_table IS oracle-checked"),
  )

  val oracles: Map[String, String] = Map(
    // the relational meaning of a dynamic overwrite: non-named
    // partitions verbatim, the named partition replaced by the batch
    "m5_dynamic_overwrite" ->
      """WITH merged AS (
        |  SELECT doc_id, text, lang, n_chars FROM documents WHERE lang <> 'en'
        |  UNION ALL
        |  SELECT doc_id, 'REWRITTEN:' || CAST(doc_id AS VARCHAR), lang, n_chars
        |  FROM documents WHERE lang = 'en')
        |SELECT lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |  sum(CASE WHEN text LIKE 'REWRITTEN:%' THEN 1 ELSE 0 END)::BIGINT AS n_rewritten,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM merged GROUP BY lang ORDER BY lang""".stripMargin,

    // over the ORIGINAL table — equality proves the compaction round trip
    "m4_compact_small_files" ->
      """SELECT lang, count(*) AS n, count(DISTINCT doc_id) AS nd,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "stats_table" ->
      """WITH a AS (SELECT
        |  count(*) AS n,
        |  count(o_orderstatus) AS nn_status, count(DISTINCT o_orderstatus) AS ndv_status,
        |  min(o_orderstatus) AS min_status, max(o_orderstatus) AS max_status,
        |  round(avg(length(o_orderstatus)), 4) AS len_status,
        |  count(o_orderpriority) AS nn_prio, count(DISTINCT o_orderpriority) AS ndv_prio,
        |  min(o_orderpriority) AS min_prio, max(o_orderpriority) AS max_prio,
        |  round(avg(length(o_orderpriority)), 4) AS len_prio,
        |  count(o_custkey) AS nn_cust, count(DISTINCT o_custkey) AS ndv_cust,
        |  CAST(CAST(min(o_custkey) AS DECIMAL(18,2)) AS VARCHAR) AS min_cust,
        |  CAST(CAST(max(o_custkey) AS DECIMAL(18,2)) AS VARCHAR) AS max_cust,
        |  count(o_totalprice) AS nn_price, count(DISTINCT o_totalprice) AS ndv_price,
        |  CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS min_price,
        |  CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS max_price
        |FROM orders)
        |SELECT 'o_orderstatus' AS col_name, n AS n_rows, n - nn_status AS n_nulls,
        |       ndv_status AS ndv, min_status AS min_val, max_status AS max_val,
        |       len_status AS avg_len FROM a
        |UNION ALL SELECT 'o_orderpriority', n, n - nn_prio, ndv_prio, min_prio, max_prio, len_prio FROM a
        |UNION ALL SELECT 'o_custkey', n, n - nn_cust, ndv_cust, min_cust, max_cust, NULL FROM a
        |UNION ALL SELECT 'o_totalprice', n, n - nn_price, ndv_price, min_price, max_price, NULL FROM a
        |ORDER BY col_name""".stripMargin,
    "merge_upsert" ->
      """WITH o AS (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders WHERE o_orderkey < 20000),
        |unioned AS (
        |  SELECT o_orderkey, price_cents + 1000 AS price_cents, 'upd' AS src, 0 AS pri
        |  FROM o WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, price_cents, 'base' AS src, 1 AS pri
        |  FROM o WHERE o_orderkey % 2 = 1),
        |merged AS (
        |  SELECT o_orderkey, price_cents, src,
        |         row_number() OVER (PARTITION BY o_orderkey ORDER BY pri) AS rn
        |  FROM unioned)
        |SELECT o_orderkey, price_cents, src FROM merged
        |WHERE rn = 1 AND o_orderkey NOT IN (SELECT o_orderkey FROM o WHERE o_orderkey % 7 = 0)
        |ORDER BY o_orderkey""".stripMargin,

    "layout_zorder" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(list_sum([(((l_partkey >> i) & 1) << (2*i + 1)) +
        |                 (((l_suppkey >> i) & 1) << (2*i))
        |                 for i in range(0, 32)]) AS BIGINT) AS zkey
        |FROM lineitem WHERE l_orderkey < 400
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
  )

  override val tmp: Map[String, Seq[graft.TmpPath]] = Map(
    "m4_compact_small_files" -> Seq(compactIn, compactOut),
    "m5_dynamic_overwrite" -> Seq(dynDir),
  )
}
