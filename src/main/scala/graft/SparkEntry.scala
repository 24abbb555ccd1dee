package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** One family of named queries, how each one is checked, and the /tmp
  * paths each query touches. Every query has exactly one check: DuckDB
  * SQL in `oracles` that recomputes the same result over the same
  * parquet tables, or a reason in `rowsOnly` why no such SQL exists. */
trait QueryModule {
  type Q = (SparkSession, String) => DataFrame
  val queries: Map[String, Q]
  val oracles: Map[String, String]
  /** Why a query has no oracle; it then gets only a rows > 0 check, a
    * weaker gate, so each reason names the oracle-exact twin that checks
    * the same machinery over a replayable regime, or says why no replay
    * exists. Each reason starts with its category: `approx-estimator`
    * (sketch state, not a portable value), `seeded-rng` (engine-local
    * seeded RNG), `float-centroid` (float k-means/EM training, whose
    * reduction order differs by topology), `sequential-argmin` (an
    * order-dependent greedy loop), `codec` (engine-local binary or
    * string codec), `env` (engine identity) or `fake-codec` (a
    * multimodal decode through a fake codec; pinned-value specs check
    * the values). */
  val rowsOnly: Map[String, String] = Map.empty
  /** Every /tmp path a query reads or writes: the [[Fixture]]s it reads
    * and the [[TmpPath]]s it writes on each run. [[Fixtures]] derives
    * its prepare and cleanup hooks from this. */
  val tmp: Map[String, Seq[TmpPath]] = Map.empty
}

/** Entry-point contract (`entry`, `queries`, `oracleSql`) — see SURVEY.md §7. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Regional revenue rollup: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
    * region — the canonical star-join shape. Only fixed-cardinality
    * dims (nation=25, region=5) carry broadcast hints; customer grows
    * with scale factor, so AQE decides its join strategy. */
  def entry(spark: SparkSession): DataFrame = {
    val t = Tables(spark, "/root/testdata/sf0.001")
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("r_name")
  }

  /** Every query module, listed once; `queries` and `oracleSql` are both
    * derived from this list. Lazy, so `entry` alone loads no module. */
  private lazy val registry = merge(Seq(
    TpchQueries, TpchQueries2, TpcdsQueries, TpcdsQueries2, TpcdsQueries3,
    TpcdsQueries4, TpcdsQueries5, TpcdsQueries6, TypedQueries, Skew,
    RelationalQueries, AggQueries, WindowQueries, FunctionQueries,
    FunctionQueries2, FunctionQueries3, FunctionQueries4, TableOps,
    EventQueries, AsOfJoin, BandJoin,
    graft.pipeline.Dedup, graft.pipeline.Similarity,
    graft.pipeline.TextAnalysis, graft.pipeline.Corpus,
    graft.pipeline.Multimodal, graft.pipeline.Splits,
    graft.pipeline.Curation, graft.pipeline.Tokenizer, graft.pipeline.Cluster,
    graft.sources.NestedParquet, graft.sources.AvroQueries,
    graft.sources.SequenceQueries, graft.sources.RcFileQueries,
    graft.sources.IcebergQueries, graft.sources.HiveAcidQueries,
    graft.sources.HudiQueries, graft.sources.MixedFormatQueries))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = registry._1

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. The other keys get a rows-only check. */
  def oracleSql: Map[String, String] = registry._2

  /** Why each query outside `oracleSql` has no oracle ([[QueryModule.rowsOnly]]). */
  def rowsOnly: Map[String, String] = registry._3

  /** The /tmp paths each query reads or writes ([[QueryModule.tmp]]). */
  def tmpPaths: Map[String, Seq[TmpPath]] = registry._4

  /** Unions the modules' maps, failing on the first access instead of
    * letting `Map ++` keep the last of two same-named entries: a name
    * declared twice, an oracle, rows-only reason or /tmp paths for a
    * name no module declares, and a query with both an oracle and a
    * reason or with neither, throw. */
  private[graft] def merge(modules: Seq[QueryModule]): (Map[String, (SparkSession, String) => DataFrame],
      Map[String, String], Map[String, String], Map[String, Seq[TmpPath]]) = {
    def unique[V](what: String, entries: Seq[(String, V)]): Map[String, V] = {
      val dup = entries.groupBy(_._1).collect { case (k, es) if es.size > 1 => k }
      require(dup.isEmpty, s"$what declared by more than one module: ${dup.toSeq.sorted.mkString(", ")}")
      entries.toMap
    }
    val queries = unique("query names", modules.flatMap(_.queries))
    def declared[V](what: String, entries: Seq[(String, V)]): Map[String, V] = {
      val m = unique(what, entries)
      val orphans = m.keys.filterNot(queries.contains).toSeq.sorted
      require(orphans.isEmpty, s"$what for no registered query: ${orphans.mkString(", ")}")
      m
    }
    val oracles = declared("oracle SQL", modules.flatMap(_.oracles))
    val rowsOnly = declared("rows-only reasons", modules.flatMap(_.rowsOnly))
    val tmp = declared("/tmp paths", modules.flatMap(_.tmp))
    val both = oracles.keySet.intersect(rowsOnly.keySet).toSeq.sorted
    require(both.isEmpty, s"both oracle SQL and a rows-only reason: ${both.mkString(", ")}")
    val unchecked = queries.keys.filterNot(k => oracles.contains(k) || rowsOnly.contains(k)).toSeq.sorted
    require(unchecked.isEmpty, s"neither oracle SQL nor a rows-only reason: ${unchecked.mkString(", ")}")
    (queries, oracles, rowsOnly, tmp)
  }
}
