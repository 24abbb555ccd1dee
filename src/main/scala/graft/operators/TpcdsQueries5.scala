package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Exact._

/** Round-11 TPC-DS batch 6 (SURVEY.md §2 DS60–DS62): the three
  * heaviest planner stress-tests of the reference's own TPC-DS suite
  * (apache-impala-4.1.0/testdata/workloads/tpcds/queries/
  * tpcds-q{64,72,95}.test), adapted onto the driver's star schema —
  * the shapes real BI workloads break planners with:
  *
  *  - q64:  the buy/return/re-buy chain — a gated (HAVING
  *    sale > 2×refund) item set feeding a per-(item, geo, year)
  *    aggregate that SELF-JOINS across two consecutive year slices
  *    with a count inequality (cs2.cnt <= cs1.cnt);
  *  - q72:  the 3-fact inventory join — sales ⋈ weekly inventory
  *    aligned on (supplier, week) with TWO inequality residuals (the
  *    d3 > d1 + 5 days ship-date offset and the on-hand < ordered
  *    quantity gap) and a LEFT-joined promotion dim counted by
  *    null-ness;
  *  - q95:  the double-EXISTS with distinct-supplier semantics — the
  *    literal form self-joins the fact on order number with
  *    supplier <> supplier and correlates a second EXISTS over the
  *    returns through that same CTE.
  *
  * Scale discipline (how each differs from its literal form while
  * computing the identical result):
  *  - q64 aggregates the fact ONCE on the (item, nation, year) grain;
  *    the item gate re-aggregates that GRAIN (not the fact) and the
  *    year slices are filters above the same aggregate, so Catalyst's
  *    ReuseExchange materializes one shuffle for all three consumers.
  *    The final self-join runs on the aggregate grain — thousands of
  *    rows, never the fact.
  *  - q72's inventory is one extra fact pass (it IS a second fact);
  *    the (supplier, week) join is a pure composite equi-join with the
  *    two inequalities as residual filters — no cartesian, no banded
  *    explode needed because the week ALIGNMENT is equality (the J2
  *    band machinery would bound it if it were a ±k-week band).
  *    Promotion nulls are counted in the same pass; the supplier NAME
  *    joins onto the post-aggregation grain, not the fact.
  *  - q95 computes both EXISTS flags in ONE fact aggregate
  *    (count-distinct suppliers ≥ 2 ∧ has-return) and semi-joins it —
  *    the O(n²)-shaped ws_wh self-join reduced to its aggregate
  *    meaning; the oracle runs the literal self-join + double IN.
  *
  * Exactness: money folds to DECIMAL(38,6) → integer micros;
  * quantities lift to BIGINT before any sum (double sums are
  * shuffle-order-dependent); weeks are integer days-since-epoch DIV 7;
  * every LIMIT carries a total ORDER over its group keys.
  */
object TpcdsQueries5 extends graft.QueryModule {

  /** Integer week index: days since epoch DIV 7 (both engines exact —
    * the dates are midnight timestamps). */
  private def wk(c: Column): Column =
    floor(datediff(c.cast("date"), lit("1970-01-01").cast("date")) / 7).cast("long")

  val queries: Map[String, Q] = Map(
    // DS60 (q64 shape): gated items' per-(item, nation, year) sales
    // compared across 1996→1997 with cnt2 <= cnt1. The LITERAL form
    // (the oracle runs it) is a grain self-join plus a gate subquery —
    // three consumers of one aggregate; filter pushdown below the
    // aggregate would defeat ReuseExchange and re-scan the fact per
    // consumer (the first draft measured SEVEN lineitem scans). This
    // plan consumes the grain ONCE: the item gate is a window total
    // over the grain (sale > 2×refund per item) and the year slices
    // fold by conditional aggregation on the (item, nation) grain —
    // the ds_q2 grain-pivot discipline. One fact pass, period.
    "ds_q64_rebuy_chain" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val pgate = t.part.filter(col("p_retailprice").between(905, 915))
      // r17: input spread measured and REJECTED — interleaved A/B at
      // cpus=32 lost 0.93× (bench_control_r17_batch32.json). The
      // grain's own (partkey, nation, year) exchange redistributes
      // right after the folds anyway. Bare scan stays.
      val grain = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        // no broadcast hint: part grows with SF (a filtered constant
        // fraction is still linear growth — the X5 audit's criterion);
        // AQE broadcasts it when the filtered size warrants
        .join(pgate.select("p_partkey"),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey"), col("c_nationkey"),
          year(col("o_orderdate")).cast("int").as("syear"))
        .agg(count(lit(1)).as("cnt"),
          micros(col("l_extendedprice")).as("s1"),
          micros(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("s2"),
          micros(col("l_extendedprice") * col("l_tax")).as("s3"),
          microsIf(col("l_returnflag") === "R", col("l_extendedprice")).as("ret"))
      // cs_ui gate as a WINDOW total on the grain (bounded: <= 25
      // nations x 7 years rows per item) — no second grain consumer
      val wByItem = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
      val gated = grain
        .withColumn("sale", sum(col("s1")).over(wByItem))
        .withColumn("refund", sum(col("ret")).over(wByItem))
        .filter(col("sale") > col("refund") * 2)
      def yr(y: Int, c: String) = max(when(col("syear") === y, col(c)))
      gated.filter(col("syear").isin(1996, 1997))
        .groupBy("l_partkey", "c_nationkey")
        .agg(yr(1996, "cnt").as("cnt1"), yr(1996, "s1").as("s1_1"),
          yr(1996, "s2").as("s2_1"), yr(1996, "s3").as("s3_1"),
          yr(1997, "cnt").as("cnt2"), yr(1997, "s1").as("s1_2"),
          yr(1997, "s2").as("s2_2"), yr(1997, "s3").as("s3_2"))
        .filter(col("cnt1").isNotNull && col("cnt2").isNotNull &&
          col("cnt2") <= col("cnt1"))
        .join(pgate.select(col("p_partkey"), col("p_name")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .select(col("l_partkey").as("item_sk"), col("p_name").as("product_name"),
          col("n_name").as("nation"),
          col("cnt1"), col("s1_1"), col("s2_1"), col("s3_1"),
          col("cnt2"), col("s1_2"), col("s2_2"), col("s3_2"))
        .orderBy("item_sk", "nation")
    }),

    // DS61 (q72 shape): sales ⋈ weekly supplier inventory on the
    // (supplier, week) composite with the 5-day ship-date offset and
    // the on-hand < 2×ordered gap; LEFT-joined promotion dim counted
    // by null-ness; top-100 (supplier, week) cells by volume.
    "ds_q72_inventory_gap" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      // r17: the two fact branches aggregate different grains —
      // (supplier, ship-week) inventory vs the filtered sales join —
      // so they cannot fuse into one pass; input spread on both was
      // measured and REJECTED (interleaved A/B at cpus=32 lost 0.70×,
      // bench_control_r17_batch32.json — two extra full-fact hops).
      val inv = t.lineitem
        .groupBy(col("l_suppkey").as("sk"), wk(col("l_shipdate")).as("iwk"))
        .agg(sum(col("l_quantity").cast("long")).as("inv_qty"))
      val fact = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer.filter(col("c_mktsegment") === "BUILDING"),
          col("o_custkey") === col("c_custkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 5 DAYS"))
      val promo = t.part.filter(col("p_size") <= 10).select(col("p_partkey"))
      val cells = fact
        .join(inv, col("l_suppkey") === col("sk") &&
          wk(col("o_orderdate")) === col("iwk"))
        .filter(col("inv_qty") < col("l_quantity").cast("long") * 2)
        .join(promo, col("l_partkey") === col("p_partkey"), "left_outer")
        .groupBy(col("l_suppkey"), col("iwk").as("wk"))
        .agg(sum(when(col("p_partkey").isNull, 1L).otherwise(0L)).as("no_promo"),
          sum(when(col("p_partkey").isNotNull, 1L).otherwise(0L)).as("promo"),
          count(lit(1)).as("total_cnt"))
      cells.join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("wk"), col("no_promo"), col("promo"),
          col("total_cnt"))
        .orderBy(col("total_cnt").desc, col("s_name"), col("wk"))
        .limit(100)
    }),

    // DS62 (q95 shape): orders shipped by >= 2 distinct suppliers AND
    // carrying a returned line (the double-EXISTS through ws_wh), both
    // flags from ONE fact aggregate; 60-day window + segment filter.
    "ds_q95_double_exists" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val flags = t.lineitem.groupBy("l_orderkey")
        .agg(countDistinct(col("l_suppkey")).as("nsupp"),
          max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("has_ret"))
      val qual = flags.filter(col("nsupp") >= 2 && col("has_ret") === 1)
        .select("l_orderkey")
      t.orders
        .filter(col("o_orderdate").between(
          lit("1996-03-01").cast("timestamp"), lit("1996-04-30").cast("timestamp")))
        .join(t.customer.filter(col("c_mktsegment") === "HOUSEHOLD"),
          col("o_custkey") === col("c_custkey"))
        .join(qual, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .agg(countDistinct(col("o_orderkey")).as("order_count"),
          micros(col("o_totalprice")).as("total_price_micros"))
    }),
  )

  val oracles: Map[String, String] = Map(
    // literal CTE form: gate subquery, grain CTE, year-slice self-join
    "ds_q64_rebuy_chain" ->
      s"""WITH pg AS (
         |  SELECT p_partkey, p_name FROM part
         |  WHERE p_retailprice BETWEEN 905 AND 915),
         |grain AS (
         |  SELECT l_partkey, c_nationkey,
         |    CAST(year(o_orderdate) AS INT) AS syear,
         |    count(*) AS cnt,
         |    ${sqlMicros("l_extendedprice")} AS s1,
         |    ${sqlMicros("l_extendedprice * (1 - l_discount)")} AS s2,
         |    ${sqlMicros("l_extendedprice * l_tax")} AS s3,
         |    ${sqlMicrosIf("l_returnflag = 'R'", "l_extendedprice")} AS ret
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  WHERE l_partkey IN (SELECT p_partkey FROM pg)
         |  GROUP BY 1, 2, 3),
         |gate AS (
         |  SELECT l_partkey FROM grain GROUP BY 1
         |  HAVING sum(s1) > 2 * sum(ret))
         |SELECT cs1.l_partkey AS item_sk, pg.p_name AS product_name,
         |  n.n_name AS nation,
         |  cs1.cnt AS cnt1, cs1.s1 AS s1_1, cs1.s2 AS s2_1, cs1.s3 AS s3_1,
         |  cs2.cnt AS cnt2, cs2.s1 AS s1_2, cs2.s2 AS s2_2, cs2.s3 AS s3_2
         |FROM grain cs1
         |JOIN grain cs2 ON cs1.l_partkey = cs2.l_partkey
         |  AND cs1.c_nationkey = cs2.c_nationkey
         |JOIN pg ON cs1.l_partkey = pg.p_partkey
         |JOIN nation n ON cs1.c_nationkey = n.n_nationkey
         |WHERE cs1.syear = 1996 AND cs2.syear = 1997
         |  AND cs2.cnt <= cs1.cnt
         |  AND cs1.l_partkey IN (SELECT l_partkey FROM gate)
         |ORDER BY item_sk, nation""".stripMargin,
    "ds_q72_inventory_gap" ->
      """WITH inv AS (
        |  SELECT l_suppkey AS sk,
        |    datediff('day', TIMESTAMP '1970-01-01', l_shipdate) // 7 AS iwk,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS inv_qty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT s.s_name,
        |  datediff('day', TIMESTAMP '1970-01-01', o_orderdate) // 7 AS wk,
        |  CAST(sum(CASE WHEN pp.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS no_promo,
        |  CAST(sum(CASE WHEN pp.p_partkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS promo,
        |  count(*) AS total_cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN inv ON inv.sk = l_suppkey
        |  AND inv.iwk = datediff('day', TIMESTAMP '1970-01-01', o_orderdate) // 7
        |JOIN supplier s ON l_suppkey = s.s_suppkey
        |LEFT JOIN (SELECT p_partkey FROM part WHERE p_size <= 10) pp
        |  ON l_partkey = pp.p_partkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 5 DAY
        |  AND c_mktsegment = 'BUILDING'
        |  AND inv.inv_qty < 2 * CAST(l_quantity AS BIGINT)
        |GROUP BY 1, 2
        |ORDER BY total_cnt DESC, s_name, wk
        |LIMIT 100""".stripMargin,
    // literal double-IN through the self-join CTE (the O(n^2) form the
    // Spark side reduces to one aggregate)
    "ds_q95_double_exists" ->
      s"""WITH ws_wh AS (
         |  SELECT l1.l_orderkey FROM lineitem l1, lineitem l2
         |  WHERE l1.l_orderkey = l2.l_orderkey
         |    AND l1.l_suppkey <> l2.l_suppkey),
         |ret AS (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
         |SELECT count(DISTINCT o_orderkey) AS order_count,
         |  ${sqlMicros("o_totalprice")} AS total_price_micros
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |WHERE o_orderdate BETWEEN TIMESTAMP '1996-03-01' AND TIMESTAMP '1996-04-30'
         |  AND c_mktsegment = 'HOUSEHOLD'
         |  AND o_orderkey IN (SELECT l_orderkey FROM ws_wh)
         |  AND o_orderkey IN (SELECT r.l_orderkey FROM ret r, ws_wh w
         |                     WHERE r.l_orderkey = w.l_orderkey)""".stripMargin,
  )
}
