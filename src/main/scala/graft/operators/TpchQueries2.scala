package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Exact._

/** Second TPC-H-derived batch (q8/q9/q15/q16/q17/q21 shapes, adapted:
  * no partsupp table, so cost/availability terms are re-expressed over
  * part.p_retailprice and lineitem supplier links — adaptations noted
  * per query). Reference workload: apache-impala-4.1.0/testdata/
  * workloads/tpch/queries/.
  */
object TpchQueries2 extends graft.QueryModule {

  private val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  val queries: Map[String, Q] = Map(
    // q8: national market share within a region's customer base.
    "q08_market_share" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val americaCust = t.customer
        .join(broadcast(t.nation.join(broadcast(t.region.filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))), col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey")
      val suppNation = t.supplier
        .join(broadcast(t.nation.select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "supp_nation")
      t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(americaCust, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(suppNation, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((dsum(when(col("supp_nation") === "NATION_3", rev).otherwise(0.0)) /
          dsum(rev)).as("mkt_share"))
        .orderBy("o_year")
    }),

    // q9: product profit by supplier nation and year. Adaptation: no
    // partsupp.ps_supplycost → cost proxy = 5% of p_retailprice per unit.
    "q09_product_profit" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val amount = rev - col("l_quantity") * col("p_retailprice") * lit(0.05)
      // r17: input spread measured and REJECTED — interleaved A/B at
      // cpus=32 lost 0.82× (bench_control_r17_batch32.json); unlike
      // q01's pure scan→aggregate, the broadcast-probe chain here
      // doesn't repay the extra full-fact exchange. Bare scan stays.
      t.lineitem
        .join(t.part.filter(col("p_name").isNotNull), col("l_partkey") === col("p_partkey"))
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(dsum(amount).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // q15: top supplier(s) by revenue in a quarter (ties kept, like the
    // original's scalar-subquery-on-max formulation). The max is a
    // 1-row scalar aggregate broadcast into a cross join — NOT an
    // empty-partition window, which would funnel every per-supplier
    // row through a single task.
    "q15_top_supplier" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val revenue = t.lineitem
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(dsum(rev).as("total_revenue"))
      val maxRev = revenue.agg(max(col("total_revenue")).as("max_rev"))
      revenue
        .crossJoin(broadcast(maxRev))
        .filter(col("total_revenue") === col("max_rev"))
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    }),

    // q16: distinct supplier count per part attribute, excluding
    // deficit-balance suppliers (stand-in for q16's complaints filter).
    "q16_supplier_count" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val okSupp = t.supplier.filter(col("s_acctbal") >= 0.0).select("s_suppkey")
      t.lineitem
        .join(t.part.filter(col("p_size").isin(1, 5, 9, 13)),
          col("l_partkey") === col("p_partkey"))
        .join(okSupp, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),

    // q17: revenue impact of small-quantity orders: lineitems below 50%
    // of their part's average quantity, for one part type.
    "q17_small_quantity" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val partAvg = t.lineitem.groupBy(col("l_partkey").as("pk"))
        .agg(davg(col("l_quantity")).as("avg_qty"))
      t.lineitem
        .join(t.part.filter(col("p_type") === "ECONOMY"),
          col("l_partkey") === col("p_partkey"))
        .join(partAvg, col("l_partkey") === col("pk"))
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
    }),

    // q21: suppliers whose 'F' orders involved ≥2 distinct suppliers —
    // the multi-supplier-order shape of q21 without l_receiptdate.
    // Single lineitem pass (round 3): the distinct-supplier count per
    // order is a window collect_set over the SAME l_orderkey shuffle
    // the orders join reuses — the agg-then-semi-join formulation
    // scanned and shuffled lineitem twice. Per-order partitions are ≤7
    // rows, so the in-window set is O(1)-bounded.
    "q21_multi_supplier_orders" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("l_orderkey")
      t.lineitem
        .withColumn("n_supp", size(collect_set(col("l_suppkey")).over(w)))
        .filter(col("n_supp") >= 2)
        .join(t.orders.filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy(col("n_orders").desc, col("n_name"))
    }),

    // q20 (potential part promotion): suppliers holding excess stock of
    // 'small%' parts — the correlated-subquery-over-(part,supplier)
    // shape. The testdata ships NO partsupp table, so one is
    // synthesized with the TPC-H spec's own supplier-assignment
    // formula — supplier_i(p) = (p + i·(S/4 + (p−1)/S)) mod S for
    // i∈0..3 (4 suppliers per part, spread over the key space) — and a
    // deterministic availqty; both engines derive the identical
    // relation from part ⋈ supplier-count, so the oracle stays exact.
    // In production partsupp is a stored table and the CTE disappears.
    "q20_potential_promotion" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.part.createOrReplaceTempView("part")
      t.supplier.createOrReplaceTempView("supplier")
      t.lineitem.createOrReplaceTempView("lineitem")
      spark.sql(
        """WITH ps AS (
          |  SELECT p_partkey AS ps_partkey,
          |    (p_partkey + i.i * (s.n DIV 4 + (p_partkey - 1) DIV s.n)) % s.n + 1 AS ps_suppkey,
          |    (p_partkey * 47 + i.i * 31) % 9999 + 1 AS ps_availqty
          |  FROM part
          |  CROSS JOIN (SELECT count(*) AS n FROM supplier) s
          |  LATERAL VIEW explode(sequence(0, 3)) i AS i
          |  WHERE p_name LIKE 'small%')
          |SELECT s_suppkey, s_name FROM supplier
          |WHERE s_suppkey IN (
          |  SELECT ps_suppkey FROM ps
          |  WHERE ps_availqty > (
          |    SELECT 0.5 * sum(l_quantity) FROM lineitem
          |    WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          |      AND l_shipdate >= TIMESTAMP '1996-01-01'
          |      AND l_shipdate <  TIMESTAMP '1997-01-01'))
          |ORDER BY s_suppkey""".stripMargin)
    }),

    // q2 (min-cost supplier): the cost-based-selection shape — for each
    // qualifying part, keep the region's suppliers whose synthesized
    // ps_supplycost equals the part's regional minimum (correlated-min
    // subquery; Catalyst decorrelates it to an aggregate + join).
    // partsupp synthesis extends q20's with the TPC-H spec's own
    // supplycost formula (§4.2.3: (90000 + (partkey/10 mod 20001) +
    // 100·(partkey mod 1000)) / 100) — cost is a function of the part
    // alone, exactly like dbgen, so the min matches every regional
    // supplier of the part, preserving real q2's tie behavior. The
    // part predicate is applied INSIDE the synthesis, so at scale
    // partsupp is only materialized for the filtered parts.
    // Reference: testdata/workloads/tpch/queries/tpch-q2.test.
    "q02_min_cost_supplier" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.part.createOrReplaceTempView("part")
      t.supplier.createOrReplaceTempView("supplier")
      t.nation.createOrReplaceTempView("nation")
      t.region.createOrReplaceTempView("region")
      spark.sql(
        """WITH ps AS (
          |  SELECT p_partkey AS ps_partkey, p_brand,
          |    (p_partkey + i.i * (s.n DIV 4 + (p_partkey - 1) DIV s.n)) % s.n + 1 AS ps_suppkey,
          |    CAST(90000 + (p_partkey DIV 10) % 20001 + 100 * (p_partkey % 1000) AS DOUBLE) / 100 AS ps_supplycost
          |  FROM part
          |  CROSS JOIN (SELECT count(*) AS n FROM supplier) s
          |  LATERAL VIEW explode(sequence(0, 3)) i AS i
          |  WHERE p_size <= 10 AND p_type = 'STANDARD'),
          |cand AS (
          |  SELECT ps_partkey AS p_partkey, p_brand, ps_supplycost,
          |         s_acctbal, s_name, n_name
          |  FROM ps
          |  JOIN supplier ON ps_suppkey = s_suppkey
          |  JOIN nation ON s_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey
          |  WHERE r_name = 'EUROPE')
          |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
          |       round(ps_supplycost, 2) AS ps_supplycost
          |FROM cand c
          |WHERE ps_supplycost = (
          |  SELECT min(ps_supplycost) FROM cand c2
          |  WHERE c2.p_partkey = c.p_partkey)
          |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
          |LIMIT 100""".stripMargin)
    }),

    // q11 (important stock): per-part stock value within one geography
    // vs a fraction of the geography's total — the HAVING-over-scalar-
    // subquery value-share shape. Adaptation: geography is a REGION
    // (the synthetic supplier table is too small for single-nation
    // filters to be stable across SFs) and the fraction is 0.001.
    // Both the per-part sums and the global total come from the same
    // supplier-joined synthesis; sums are DECIMAL(38,6)-exact in both
    // engines. Reference: testdata/workloads/tpch/queries/tpch-q11.test.
    "q11_important_stock" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.part.createOrReplaceTempView("part")
      t.supplier.createOrReplaceTempView("supplier")
      t.nation.createOrReplaceTempView("nation")
      t.region.createOrReplaceTempView("region")
      spark.sql(
        """WITH ps AS (
          |  SELECT p_partkey AS ps_partkey,
          |    (p_partkey + i.i * (s.n DIV 4 + (p_partkey - 1) DIV s.n)) % s.n + 1 AS ps_suppkey,
          |    (p_partkey * 47 + i.i * 31) % 9999 + 1 AS ps_availqty,
          |    CAST(90000 + (p_partkey DIV 10) % 20001 + 100 * (p_partkey % 1000) AS DOUBLE) / 100 AS ps_supplycost
          |  FROM part
          |  CROSS JOIN (SELECT count(*) AS n FROM supplier) s
          |  LATERAL VIEW explode(sequence(0, 3)) i AS i),
          |g AS (
          |  SELECT ps_partkey, ps_supplycost, ps_availqty
          |  FROM ps
          |  JOIN supplier ON ps_suppkey = s_suppkey
          |  JOIN nation ON s_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey
          |  WHERE r_name = 'EUROPE')
          |SELECT ps_partkey,
          |       CAST(SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(38,6))) AS DOUBLE) AS value
          |FROM g
          |GROUP BY ps_partkey
          |HAVING CAST(SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(38,6))) AS DOUBLE) > (
          |  SELECT CAST(SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(38,6))) AS DOUBLE) * 0.001 FROM g)
          |ORDER BY value DESC, ps_partkey""".stripMargin)
    }),
  )

  private val revSql = "l_extendedprice * (1.0 - l_discount)"

  val oracles: Map[String, String] = Map(
    "q20_potential_promotion" ->
      """WITH ps AS (
        |  SELECT p_partkey AS ps_partkey,
        |    (p_partkey + i.i * (s.n // 4 + (p_partkey - 1) // s.n)) % s.n + 1 AS ps_suppkey,
        |    (p_partkey * 47 + i.i * 31) % 9999 + 1 AS ps_availqty
        |  FROM part
        |  CROSS JOIN (SELECT count(*) AS n FROM supplier) s
        |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) i
        |  WHERE p_name LIKE 'small%')
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT ps_suppkey FROM ps
        |  WHERE ps_availqty > (
        |    SELECT 0.5 * sum(l_quantity) FROM lineitem
        |    WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |      AND l_shipdate >= TIMESTAMP '1996-01-01'
        |      AND l_shipdate <  TIMESTAMP '1997-01-01'))
        |ORDER BY s_suppkey""".stripMargin,

    "q02_min_cost_supplier" ->
      """WITH ps AS (
        |  SELECT p_partkey AS ps_partkey, p_brand,
        |    (p_partkey + i.i * (s.n // 4 + (p_partkey - 1) // s.n)) % s.n + 1 AS ps_suppkey,
        |    CAST(90000 + (p_partkey // 10) % 20001 + 100 * (p_partkey % 1000) AS DOUBLE) / 100 AS ps_supplycost
        |  FROM part
        |  CROSS JOIN (SELECT count(*) AS n FROM supplier) s
        |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) i
        |  WHERE p_size <= 10 AND p_type = 'STANDARD'),
        |cand AS (
        |  SELECT ps_partkey AS p_partkey, p_brand, ps_supplycost,
        |         s_acctbal, s_name, n_name
        |  FROM ps
        |  JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
        |       round(ps_supplycost, 2) AS ps_supplycost
        |FROM cand c
        |WHERE ps_supplycost = (
        |  SELECT min(ps_supplycost) FROM cand c2
        |  WHERE c2.p_partkey = c.p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    "q11_important_stock" ->
      """WITH ps AS (
        |  SELECT p_partkey AS ps_partkey,
        |    (p_partkey + i.i * (s.n // 4 + (p_partkey - 1) // s.n)) % s.n + 1 AS ps_suppkey,
        |    (p_partkey * 47 + i.i * 31) % 9999 + 1 AS ps_availqty,
        |    CAST(90000 + (p_partkey // 10) % 20001 + 100 * (p_partkey % 1000) AS DOUBLE) / 100 AS ps_supplycost
        |  FROM part
        |  CROSS JOIN (SELECT count(*) AS n FROM supplier) s
        |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) i),
        |g AS (
        |  SELECT ps_partkey, ps_supplycost, ps_availqty
        |  FROM ps
        |  JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE')
        |SELECT ps_partkey,
        |       CAST(SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(38,6))) AS DOUBLE) AS value
        |FROM g
        |GROUP BY ps_partkey
        |HAVING CAST(SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(38,6))) AS DOUBLE) > (
        |  SELECT CAST(SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(38,6))) AS DOUBLE) * 0.001 FROM g)
        |ORDER BY value DESC, ps_partkey""".stripMargin,

    "q08_market_share" ->
      s"""SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
         |  ${sqlSum(s"CASE WHEN n2.n_name = 'NATION_3' THEN $revSql ELSE 0.0 END")} /
         |  ${sqlSum(revSql)} AS mkt_share
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |WHERE o_custkey IN (
         |  SELECT c_custkey FROM customer
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'AMERICA')
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q09_product_profit" ->
      s"""SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
         |  ${sqlSum(s"$revSql - l_quantity * p_retailprice * 0.05")} AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_name IS NOT NULL
         |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "q15_top_supplier" ->
      s"""WITH revenue AS (
         |  SELECT l_suppkey, ${sqlSum(revSql)} AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM revenue JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
         |ORDER BY s_suppkey""".stripMargin,

    "q16_supplier_count" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size IN (1, 5, 9, 13)
        |  AND l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0.0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q17_small_quantity" ->
      s"""SELECT ${sqlSum("l_extendedprice")} / 7.0 AS avg_yearly
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_type = 'ECONOMY'
         |  AND l_quantity < 0.5 * (
         |    SELECT ${sqlAvg("l2.l_quantity")} FROM lineitem l2
         |    WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin,

    "q21_multi_supplier_orders" ->
      """SELECT n_name, count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F'
        |  AND l_orderkey IN (
        |    SELECT l_orderkey FROM lineitem GROUP BY 1
        |    HAVING count(DISTINCT l_suppkey) >= 2)
        |GROUP BY 1 ORDER BY n_orders DESC, n_name""".stripMargin,
  )
}
