package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import Exact._

/** Round-11 TPC-DS batch 7 (SURVEY.md §2 DS63–DS64), adapting
  * apache-impala-4.1.0/testdata/workloads/tpcds/queries/
  * tpcds-q{45,70}.test — the two planner shapes the first 62 genuinely
  * don't reach (q4/q34/q47/q51 drafts were dropped on discovering
  * batch 1 already carries those exact shapes):
  *
  *  - q45:  DISJUNCTIVE membership — a local predicate OR an
  *    IN-subquery. Neither a plain filter nor a semi-join alone can
  *    answer an OR'd IN, so Catalyst plans an ExistenceJoin (the
  *    subquery becomes a boolean `exists` column consumed by the OR) —
  *    a join kind no other inventory entry exercises;
  *  - q70:  RANK WITHIN ROLLUP — a rollup over (nation, segment) with
  *    GROUPING()-derived hierarchy levels and a rank() window
  *    PARTITIONED BY the hierarchy level, plus the top-k prefilter
  *    (nations ranked by total revenue in a windowed subquery gating
  *    the detail) — windows over Expand output.
  *
  * Scale discipline: q45's existence join hashes the FILTERED part
  * subquery (bounded build side); q70 pre-aggregates the fact to the
  * (nation, segment) grain BEFORE the rollup Expand (the §5 rule —
  * Expand multiplies the grain, never the fact) and every window runs
  * on rollup output (≤ 25×5 + 25 + 1 rows).
  *
  * Exactness: money → DECIMAL(38,6) → integer micros; ranks cast to
  * BIGINT; rollup NULL keys coalesce to sentinel labels so both
  * engines sort/compare identical strings. */
object TpcdsQueries6 extends graft.QueryModule {

  private val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  private def views(spark: SparkSession, dir: String): Unit = {
    val t = Tables(spark, dir)
    t.lineitem.createOrReplaceTempView("lineitem")
    t.orders.createOrReplaceTempView("orders")
    t.customer.createOrReplaceTempView("customer")
    t.part.createOrReplaceTempView("part")
    t.nation.createOrReplaceTempView("nation")
  }

  val queries: Map[String, Q] = Map(
    // DS63 (q45 shape): DISJUNCTIVE membership — a local dim predicate
    // OR an IN-subquery over part plans an ExistenceJoin whose build
    // side is the filtered subquery.
    "ds_q45_disjunct_exists" -> ((spark, dir) => {
      views(spark, dir)
      spark.sql(
        """SELECT l_returnflag, count(*) AS n,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) * 1000000 AS BIGINT)
          |    AS price_micros
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment IN ('BUILDING')
          |   OR l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 1)
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    // DS64 (q70 shape): revenue rollup over (nation, segment) gated to
    // the top-10 nations (windowed-rank subquery), with
    // GROUPING()-derived hierarchy levels and rank() WITHIN each
    // rollup parent. The fact pre-aggregates to the grain before the
    // Expand; every window runs on rollup output.
    "ds_q70_rollup_rank" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val grain = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), col("c_mktsegment").as("segment"))
        .agg(micros(rev).as("rev"))
      // top-10 nations by total revenue (the q70 s_state prefilter).
      // r17: this gate used to be a SEPARATE aggregate of `grain`
      // semi-joined back — but a DataFrame referenced twice is planned
      // twice, so the whole lineitem⋈orders⋈customer⋈nation pass and
      // its (nation, segment) exchange ran TWICE (two full fact scans,
      // plans/r17/ds_q70_rollup_rank_before.txt). The gate is
      // derivable from the ≤125-row grain itself (guide §2.4 — remove
      // duplicate subtrees/shuffles outright): nat_rev as a window sum
      // per nation, and the nation's rank as dense_rank over
      // (nat_rev DESC, nation) — identical to rank() on the
      // one-row-per-nation aggregate because the nation tie-break
      // makes every sort key distinct, so ranks are gapless positions
      // and a nation's grain rows all carry its position. Exact:
      // rev is integer micros, so nat_rev is addition-order-free.
      val natRev = Window.partitionBy(col("nation"))
      val byNation = Window.orderBy(col("nat_rev").desc, col("nation"))
      val rolled = grain
        .withColumn("nat_rev", sum(col("rev")).over(natRev))
        .withColumn("rk", dense_rank().over(byNation))
        .filter(col("rk") <= 10)
        .drop("nat_rev", "rk")
        .rollup(col("nation"), col("segment"))
        .agg(sum(col("rev")).as("rev"),
          (grouping(col("nation")) + grouping(col("segment")))
            .cast("int").as("lochierarchy"),
          grouping(col("segment")).cast("int").as("gseg"))
      val withinParent = Window
        .partitionBy(col("lochierarchy"),
          when(col("gseg") === 0, col("nation")))
        .orderBy(col("rev").desc)
      rolled
        .withColumn("rank_within_parent", rank().over(withinParent).cast("long"))
        .select(col("lochierarchy"),
          coalesce(col("nation"), lit("ALL")).as("nation"),
          coalesce(col("segment"), lit("ALL")).as("segment"),
          col("rev"), col("rank_within_parent"))
        .orderBy(col("lochierarchy").desc, col("nation"), col("segment"))
    }),
  )

  val oracles: Map[String, String] = Map(
    "ds_q45_disjunct_exists" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) * 1000000 AS BIGINT)
        |    AS price_micros
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment IN ('BUILDING')
        |   OR l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 1)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "ds_q70_rollup_rank" ->
      s"""WITH grain AS (
         |  SELECT n_name AS nation, c_mktsegment AS segment,
         |    ${sqlMicros("l_extendedprice * (1 - l_discount)")} AS rev
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  GROUP BY 1, 2),
         |top AS (
         |  SELECT nation FROM (
         |    SELECT nation, rank() OVER (ORDER BY sum(rev) DESC, nation) AS rk
         |    FROM grain GROUP BY nation)
         |  WHERE rk <= 10),
         |rolled AS (
         |  SELECT nation, segment, CAST(sum(rev) AS BIGINT) AS rev,
         |    CAST(grouping(nation) + grouping(segment) AS INT) AS lochierarchy,
         |    CAST(grouping(segment) AS INT) AS gseg
         |  FROM grain WHERE nation IN (SELECT nation FROM top)
         |  GROUP BY ROLLUP(nation, segment))
         |SELECT lochierarchy,
         |  coalesce(nation, 'ALL') AS nation,
         |  coalesce(segment, 'ALL') AS segment, rev,
         |  CAST(rank() OVER (
         |    PARTITION BY lochierarchy,
         |      CASE WHEN gseg = 0 THEN nation END
         |    ORDER BY rev DESC) AS BIGINT) AS rank_within_parent
         |FROM rolled
         |ORDER BY lochierarchy DESC, nation, segment""".stripMargin,
  )
}
