package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Fixture, Tables, TmpPath}

/** Nested complex types stored IN parquet — arrays of structs and maps
  * as physical columns, read back and unnested (SURVEY.md §2 S12). The
  * reference scans parquet collection types natively
  * (apache-impala-4.1.0/be/src/exec/parquet/hdfs-parquet-scanner.cc
  * collection readers; path resolution in
  * fe/src/main/java/org/apache/impala/analysis/Path.java) and
  * correlates them back to the parent row — the `SELECT ... FROM t,
  * t.items` shape. In Spark the same semantics are the parquet
  * writer/reader's nested groups plus `explode` (correlated unnest);
  * nested-schema pruning keeps a projection of one struct field from
  * dragging the whole collection off disk (asserted in SourcesSpec).
  *
  * The query is an end-to-end round trip: build per-order line-item
  * collections, WRITE them to parquet, read the file back, unnest. The
  * DuckDB oracle reads THE SAME FILE — an independent parquet
  * implementation decoding our nested layout — so a hash match verifies
  * the physical file format, not just the in-session values.
  */
object NestedParquet extends graft.QueryModule {

  /** lineitem rolled up to one row per order: items as a sorted
    * array<struct>, per-returnflag counts as a map<string,bigint>. ONE
    * shuffle: both collections come out of a single groupBy — the flag
    * counts are folded from the per-order flag list with higher-order
    * functions (orders have ≤7 lines, so the per-row fold is O(1)) —
    * instead of a second aggregate + join on the same key. */
  def buildNested(li: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey"))
      .agg(
        sort_array(collect_list(struct(
          col("l_linenumber"), col("l_partkey"), col("l_quantity")))).as("items"),
        collect_list(col("l_returnflag")).as("flag_list"))
      .select(col("l_orderkey"), col("items"),
        map_from_entries(transform(
          array_sort(array_distinct(col("flag_list"))),
          f => struct(f, size(filter(col("flag_list"), x => x === f)).cast("long"))))
          .as("flags"))

  /** The nested file, the query's input fixture. Static path, not per
    * JVM: the DuckDB oracle reads it after Verify exits, so the oracle
    * SQL names it; the suffix is the SF directory name so a bench run at
    * one scale factor never overwrites the file between a verify run at
    * another and its DuckDB compare. The oracle pins the driver's
    * verification scale, sf0.01. */
  val nested = new Fixture("nested_parquet", perJvm = false)((spark, dir, p) =>
    buildNested(Tables(spark, dir).lineitem).write.mode("overwrite").parquet(p))

  /** S12b: the same collections stored in ORC, written from the nested
    * parquet file. DuckDB reads no ORC, so the oracle reads that parquet
    * file (the S18 device): a hash match proves our ORC write+read of
    * nested groups returns exactly what an independent engine decodes
    * from the identical data. */
  val orc = new Fixture("nested_orc")((spark, dir, p) =>
    spark.read.parquet(nested.ensure(spark, dir)).write.mode("overwrite").orc(p))

  val queries: Map[String, Q] = Map(
    "src_nested_parquet" -> ((spark, dir) => {
      val back = spark.read.parquet(nested.ensure(spark, dir))
      // correlated unnest: each item row re-joined with its parent's
      // scalars + a map lookup; the l_orderkey filter pushes down to
      // the nested file's row groups
      back.filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), size(col("items")).cast("long").as("n_items"),
          explode(col("items")).as("item"),
          element_at(col("flags"), "N").as("flag_n"))
        .select(col("l_orderkey"), col("n_items"),
          col("item.l_linenumber"), col("item.l_partkey"), col("item.l_quantity"),
          col("flag_n"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    }),
    // S12b: the same correlated-unnest shape read from ORC collections
    // (reference: orc-column-readers.h:513-727 reads list/map/struct
    // natively). Distinct projection from the parquet query so both
    // collection kinds are exercised on the ORC decode path too.
    "src_nested_orc" -> ((spark, dir) => {
      val back = spark.read.orc(orc.ensure(spark, dir))
      back.filter(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey"),
          element_at(col("flags"), "R").as("flag_r"),
          explode(col("items")).as("item"))
        .select(col("l_orderkey"), col("flag_r"),
          col("item.l_linenumber"), col("item.l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
  )

  val oracles: Map[String, String] = Map(
    // DuckDB reads the Spark-written nested file directly: unnest the
    // struct array recursively (flattens fields under their own names),
    // list-extract the map value ([] -> NULL for absent keys, matching
    // element_at).
    "src_nested_parquet" ->
      s"""SELECT * FROM (
         |  SELECT l_orderkey, CAST(len(items) AS BIGINT) AS n_items,
         |         unnest(items, recursive := true),
         |         flags['N'][1] AS flag_n
         |  FROM read_parquet('${nested("sf0.01")}/*.parquet')
         |  WHERE l_orderkey < 2000)
         |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin,
    // DuckDB reads the parquet file the ORC file was written from
    // (DuckDB has no ORC reader — the S18 device).
    "src_nested_orc" ->
      s"""SELECT l_orderkey, flag_r, l_linenumber, l_quantity FROM (
         |  SELECT l_orderkey, flags['R'][1] AS flag_r,
         |         unnest(items, recursive := true)
         |  FROM read_parquet('${nested("sf0.01")}/*.parquet')
         |  WHERE l_orderkey % 7 = 0)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
  )

  override val tmp: Map[String, Seq[TmpPath]] = Map(
    "src_nested_parquet" -> Seq(nested),
    "src_nested_orc" -> Seq(orc, nested),
  )
}
