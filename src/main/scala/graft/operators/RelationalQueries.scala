package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Exact._

/** Relational-core coverage (SURVEY.md §2 R1–R13): the Spark-native
  * equivalents of the reference engine's exec nodes — scan w/ pushdown,
  * TopN (apache-impala-4.1.0/be/src/exec/topn-node.cc), hash join modes
  * (partitioned-hash-join-node.cc, join-op.h: INNER/OUTER/SEMI/ANTI),
  * nested-loop cross join, set ops (union-node.cc), and the planner's
  * subquery rewrites (fe/.../rewrite/StmtRewriter.java → join plans).
  */
object RelationalQueries extends graft.QueryModule {

  val queries: Map[String, Q] = Map(
    // R1: predicate + projection pushdown to the parquet scan.
    "rel_filter_project" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem
        .filter(col("l_shipdate") >= lit("1997-05-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-06-01").cast("timestamp") &&
          col("l_quantity") > 45.0)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // R2: total-order sort + LIMIT/OFFSET → TakeOrderedAndProject.
    "rel_sort_limit_offset" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(10).limit(100)
    }),

    // R19: FULL total-order sort of the wide fact — SortExec through
    // UnsafeExternalSorter, the sort-node.cc / buffered-tuple-stream.cc
    // third of the reference's spilling-operator trio (r14 verdict #4:
    // hash-agg and join spills were certified in spill_cert.json, the
    // external-sort path was not). No LIMIT, so no TakeOrdered shortcut:
    // range-partition shuffle + per-partition external sort; at g10
    // under the 1 GiB/0.05 budget the sorter must spill and the output
    // stay oracle-exact. ship date as a formatted string (raw
    // timestamps are ns-vs-µs precision traps in the compare).
    // r16 input spread (Tables.lineitemSpread): the range-partition
    // sample + per-partition sort of the full wide fact parallelize —
    // interleaved A/B 1.14× (bench_control_r16c.json).
    "rel_sort_external" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitemSpread.select(
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_d"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    }),

    // R3: distinct (shuffle-dedup on the projected keys).
    "rel_distinct" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.select("c_nationkey", "c_mktsegment").distinct()
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    // R4: UNION ALL keeps duplicates, UNION dedups.
    "rel_union_all" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val a = t.nation.filter(col("n_regionkey") === 0).select("n_nationkey", "n_name")
      val b = t.nation.filter(col("n_regionkey") < 2).select("n_nationkey", "n_name")
      a.unionAll(b).orderBy("n_nationkey", "n_name")
    }),
    "rel_union_distinct" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val a = t.nation.filter(col("n_regionkey") === 0).select("n_nationkey", "n_name")
      val b = t.nation.filter(col("n_regionkey") < 2).select("n_nationkey", "n_name")
      a.union(b).distinct().orderBy("n_nationkey", "n_name")
    }),

    // R5: INTERSECT / EXCEPT (distinct set semantics).
    "rel_intersect" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.filter(col("c_acctbal") > 9000.0).select("c_nationkey")
        .intersect(t.supplier.select(col("s_nationkey").as("c_nationkey")))
        .orderBy("c_nationkey")
    }),
    "rel_except" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.select("c_nationkey")
        .except(t.supplier.filter(col("s_acctbal") > 0.0)
          .select(col("s_nationkey").as("c_nationkey")))
        .orderBy("c_nationkey")
    }),

    // R5b: INTERSECT ALL / EXCEPT ALL — bag semantics (per-key
    // multiplicity min / difference), the variants the set ops above
    // deliberately discard. Result is re-aggregated to (key, count) so
    // the multiplicities themselves are what the oracle checks.
    "rel_intersect_all" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.select("c_nationkey")
        .intersectAll(t.supplier.select(col("s_nationkey").as("c_nationkey")))
        .groupBy("c_nationkey").agg(count(lit(1)).as("multiplicity"))
        .orderBy("c_nationkey")
    }),
    "rel_except_all" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.select("c_nationkey")
        .exceptAll(t.supplier.filter(col("s_acctbal") > 0.0)
          .select(col("s_nationkey").as("c_nationkey")))
        .groupBy("c_nationkey").agg(count(lit(1)).as("multiplicity"))
        .orderBy("c_nationkey")
    }),

    // R6: inner equi-join. customer grows with SF, so no forced
    // broadcast — AQE promotes the filtered side when it fits.
    "join_inner" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.join(t.customer.filter(col("c_mktsegment") === "MACHINERY"),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey").limit(500)
    }),

    // R7: outer joins with sentinel-coalesced null sides.
    "join_left" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer
        .join(t.orders.filter(col("o_totalprice") > 490000.0),
          col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("o_orderkey"), lit(-1L)).as("okey"),
          coalesce(col("o_totalprice"), lit(0.0)).as("price"))
        .orderBy("c_custkey", "okey")
    }),
    "join_right" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.filter(col("o_totalprice") > 490000.0)
        .join(t.customer, col("c_custkey") === col("o_custkey"), "right")
        .select(col("c_custkey"),
          coalesce(col("o_orderkey"), lit(-1L)).as("okey"),
          coalesce(col("o_totalprice"), lit(0.0)).as("price"))
        .orderBy("c_custkey", "okey")
    }),
    "join_full" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val c = t.customer.filter(col("c_acctbal") < -900.0)
        .groupBy(col("c_nationkey").as("c_nk")).agg(count(lit(1)).as("c_cnt"))
      val s = t.supplier.filter(col("s_acctbal") > 9000.0)
        .groupBy(col("s_nationkey").as("s_nk")).agg(count(lit(1)).as("s_cnt"))
      c.join(s, col("c_nk") === col("s_nk"), "full")
        .select(coalesce(col("c_nk"), col("s_nk")).as("nk"),
          coalesce(col("c_cnt"), lit(0L)).as("c_cnt"),
          coalesce(col("s_cnt"), lit(0L)).as("s_cnt"))
        .orderBy("nk")
    }),

    // R8/R9: semi / anti join.
    "join_semi" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.join(t.orders.filter(col("o_totalprice") > 400000.0),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey").orderBy("c_custkey")
    }),
    "join_anti" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val shipped = t.lineitem
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-02-01").cast("timestamp"))
      t.part.join(shipped, col("p_partkey") === col("l_partkey"), "left_anti")
        .select("p_partkey").orderBy("p_partkey")
    }),

    // R10: cross join (nested loop).
    "join_cross" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.region.crossJoin(t.nation).select("r_name", "n_name")
        .orderBy("r_name", "n_name")
    }),

    // R11: correlated scalar subquery → per-group agg + broadcast join.
    "sub_scalar_corr" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val brandAvg = t.part.groupBy(col("p_brand").as("b"))
        .agg(davg(col("p_retailprice")).as("brand_avg"))
      t.part.join(broadcast(brandAvg), col("p_brand") === col("b"))
        .filter(col("p_retailprice") > col("brand_avg"))
        .select("p_partkey", "p_brand", "p_retailprice")
        .orderBy("p_partkey")
    }),

    // R12: IN-subquery → semi join on the dim chain.
    "sub_in" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val asiaN = t.nation.join(broadcast(t.region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey")).select("n_nationkey")
      t.customer.join(broadcast(asiaN), col("c_nationkey") === col("n_nationkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_cust"))
        .orderBy("c_mktsegment")
    }),

    // R13: correlated EXISTS with a non-key predicate.
    "sub_exists_corr" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.join(t.lineitem.filter(col("l_quantity") === 50.0),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")
    }),

    // R17: recursive CTE (Spark 4 WITH RECURSIVE) — the calendar-spine
    // pattern: generate every month of 1996–1997 by recursion, then
    // LEFT JOIN monthly revenue so gap months surface as 0.0 instead of
    // silently missing. (Beyond the reference engine's SQL surface —
    // Impala has no recursive CTEs — included as Spark-native parity
    // with the standard.)
    "rel_recursive_spine" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.createOrReplaceTempView("graft_orders_rec")
      spark.sql(s"""
        WITH RECURSIVE idx(i) AS (
          SELECT 0 UNION ALL SELECT i + 1 FROM idx WHERE i < 23),
        spine AS (
          SELECT CAST(1996 + i DIV 12 AS BIGINT) AS yr,
                 CAST(i % 12 + 1 AS BIGINT) AS mo
          FROM idx),
        rev AS (
          SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                 CAST(month(o_orderdate) AS BIGINT) AS mo,
                 ${Exact.sqlSum("o_totalprice")} AS r
          FROM graft_orders_rec
          WHERE year(o_orderdate) IN (1996, 1997)
          GROUP BY 1, 2)
        SELECT s.yr, s.mo, coalesce(round(rev.r, 4), 0.0) AS monthly_rev
        FROM spine s LEFT JOIN rev ON s.yr = rev.yr AND s.mo = rev.mo
        ORDER BY s.yr, s.mo""")
    }),

    // R18: LATERAL correlated subquery — each nation row joined to an
    // aggregate over its own customers' orders. Impala rewrites
    // correlated subqueries into joins in the frontend
    // (fe/.../StmtRewriter.java); Spark's DecorrelateInnerQuery does
    // the same to this lateral, planning ONE grouped aggregate plus a
    // join rather than 25 correlated executions.
    "rel_lateral" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.nation.createOrReplaceTempView("graft_nation_lat")
      t.customer.createOrReplaceTempView("graft_customer_lat")
      t.orders.createOrReplaceTempView("graft_orders_lat")
      spark.sql("""
        SELECT n_name, n_ord, max_price
        FROM graft_nation_lat,
        LATERAL (
          SELECT count(*) AS n_ord,
                 CAST(max(o_totalprice) AS DOUBLE) AS max_price
          FROM graft_orders_lat JOIN graft_customer_lat ON o_custkey = c_custkey
          WHERE c_nationkey = n_nationkey)
        ORDER BY n_name""")
    }),
  )

  val oracles: Map[String, String] = Map(
    "rel_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice * (1.0 - l_discount) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-05-01' AND l_shipdate < TIMESTAMP '1997-06-01'
        |  AND l_quantity > 45.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "rel_sort_limit_offset" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100 OFFSET 10""".stripMargin,

    "rel_sort_external" ->
      """SELECT l_orderkey, l_partkey, l_suppkey,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_quantity, l_extendedprice, l_discount, l_tax,
        |  l_returnflag, l_linestatus,
        |  strftime(l_shipdate, '%Y-%m-%d') AS ship_d
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber,
        |  l_partkey, l_suppkey""".stripMargin,

    "rel_distinct" ->
      "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer ORDER BY 1, 2",

    "rel_union_all" ->
      """SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 0
        |UNION ALL
        |SELECT n_nationkey, n_name FROM nation WHERE n_regionkey < 2
        |ORDER BY 1, 2""".stripMargin,

    "rel_union_distinct" ->
      """SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 0
        |UNION
        |SELECT n_nationkey, n_name FROM nation WHERE n_regionkey < 2
        |ORDER BY 1, 2""".stripMargin,

    "rel_intersect" ->
      """SELECT c_nationkey FROM customer WHERE c_acctbal > 9000.0
        |INTERSECT SELECT s_nationkey FROM supplier ORDER BY 1""".stripMargin,

    "rel_except" ->
      """SELECT c_nationkey FROM customer
        |EXCEPT SELECT s_nationkey FROM supplier WHERE s_acctbal > 0.0 ORDER BY 1""".stripMargin,

    "rel_intersect_all" ->
      """SELECT c_nationkey, count(*) AS multiplicity FROM (
        |  SELECT c_nationkey FROM customer
        |  INTERSECT ALL SELECT s_nationkey FROM supplier)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "rel_except_all" ->
      """SELECT c_nationkey, count(*) AS multiplicity FROM (
        |  SELECT c_nationkey FROM customer
        |  EXCEPT ALL SELECT s_nationkey FROM supplier WHERE s_acctbal > 0.0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "join_inner" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'MACHINERY' ORDER BY o_orderkey LIMIT 500""".stripMargin,

    "join_left" ->
      """SELECT c_custkey, coalesce(o_orderkey, -1) AS okey, coalesce(o_totalprice, 0.0) AS price
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 490000.0) o
        |  ON c_custkey = o_custkey
        |ORDER BY 1, 2""".stripMargin,

    "join_right" ->
      """SELECT c_custkey, coalesce(o_orderkey, -1) AS okey, coalesce(o_totalprice, 0.0) AS price
        |FROM (SELECT * FROM orders WHERE o_totalprice > 490000.0) o RIGHT JOIN customer
        |  ON c_custkey = o_custkey
        |ORDER BY 1, 2""".stripMargin,

    "join_full" ->
      """SELECT coalesce(c_nk, s_nk) AS nk, coalesce(c_cnt, 0) AS c_cnt, coalesce(s_cnt, 0) AS s_cnt
        |FROM (SELECT c_nationkey AS c_nk, count(*) AS c_cnt FROM customer
        |      WHERE c_acctbal < -900.0 GROUP BY 1) c
        |FULL JOIN (SELECT s_nationkey AS s_nk, count(*) AS s_cnt FROM supplier
        |      WHERE s_acctbal > 9000.0 GROUP BY 1) s
        |  ON c_nk = s_nk
        |ORDER BY 1""".stripMargin,

    "join_semi" ->
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY 1""".stripMargin,

    "join_anti" ->
      """SELECT p_partkey FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey
        |    AND l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-02-01')
        |ORDER BY 1""".stripMargin,

    "join_cross" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY 1, 2",

    "sub_scalar_corr" ->
      s"""SELECT p_partkey, p_brand, p_retailprice FROM part p
         |WHERE p_retailprice > (SELECT ${sqlAvg("p2.p_retailprice")} FROM part p2
         |                       WHERE p2.p_brand = p.p_brand)
         |ORDER BY 1""".stripMargin,

    "sub_in" ->
      """SELECT c_mktsegment, count(*) AS n_cust FROM customer
        |WHERE c_nationkey IN (SELECT n_nationkey FROM nation JOIN region
        |                      ON n_regionkey = r_regionkey WHERE r_name = 'ASIA')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "sub_exists_corr" ->
      """SELECT o_orderstatus, count(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity = 50.0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "rel_recursive_spine" ->
      s"""WITH RECURSIVE idx(i) AS (
         |  SELECT 0 UNION ALL SELECT i + 1 FROM idx WHERE i < 23),
         |spine AS (
         |  SELECT CAST(1996 + i // 12 AS BIGINT) AS yr,
         |         CAST(i % 12 + 1 AS BIGINT) AS mo
         |  FROM idx),
         |rev AS (
         |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         |         CAST(month(o_orderdate) AS BIGINT) AS mo,
         |         ${Exact.sqlSum("o_totalprice")} AS r
         |  FROM orders
         |  WHERE year(o_orderdate) IN (1996, 1997)
         |  GROUP BY 1, 2)
         |SELECT s.yr, s.mo, coalesce(round(rev.r, 4), 0.0) AS monthly_rev
         |FROM spine s LEFT JOIN rev ON s.yr = rev.yr AND s.mo = rev.mo
         |ORDER BY s.yr, s.mo""".stripMargin,

    "rel_lateral" ->
      """SELECT n_name, n_ord, max_price
        |FROM nation,
        |LATERAL (
        |  SELECT count(*) AS n_ord,
        |         CAST(max(o_totalprice) AS DOUBLE) AS max_price
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_nationkey = n_nationkey)
        |ORDER BY n_name""".stripMargin,
  )
}
