package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Exact._

/** TPC-DS-derived workload (SURVEY.md §2 DS1–DS12), adapted to the
  * driver's star schema. The reference carries the full 99-query TPC-DS
  * acceptance surface (apache-impala-4.1.0/testdata/workloads/tpcds/
  * queries/tpcds-q*.test); these mirror the *shapes* that the TPC-H
  * batch doesn't reach — deep CTE chains, window-over-join deviation
  * analysis (q53), week/period self-comparison (q59), count-banded
  * basket detail (q34/q46/q68), multi-dim ROLLUP profiles (q27), and
  * EXCEPT/INTERSECT-heavy set logic (q10a/q35 family) — on the tables
  * that exist here (no date_dim/store/item: calendar comes from
  * o_orderdate functions, item-likes from part, store-likes from
  * nation).
  *
  * Scale discipline matches the TPC-H suite: broadcast hints only on
  * fixed-cardinality dims, facts join by shuffle, all money sums via
  * Exact.dsum for engine-portable determinism.
  */
object TpcdsQueries extends graft.QueryModule {

  private val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
  private val q49Slot =
    new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.DataFrame](null)

  /** Temp views for the SQL-expressed (CTE/set-op) members. */
  private def views(spark: SparkSession, dir: String): Unit = {
    val t = Tables(spark, dir)
    t.lineitem.createOrReplaceTempView("lineitem")
    t.orders.createOrReplaceTempView("orders")
    t.customer.createOrReplaceTempView("customer")
    t.supplier.createOrReplaceTempView("supplier")
    t.part.createOrReplaceTempView("part")
    t.nation.createOrReplaceTempView("nation")
  }

  val queries: Map[String, Q] = Map(
    // DS1 (tpcds q3 shape): season slice → (year, brand) revenue topN.
    "ds_q3_brand_rev" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem
        .join(t.orders.filter(month(col("o_orderdate")) === 11),
          col("l_orderkey") === col("o_orderkey"))
        .join(t.part.filter(col("p_size") === 5), col("l_partkey") === col("p_partkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"), col("p_brand"))
        .agg(dsum(col("l_extendedprice")).as("sum_agg"))
        .orderBy(col("o_year"), col("sum_agg").desc, col("p_brand"))
        .limit(100)
    }),

    // DS2 (q7 shape): 4-way star with a bundle of averages per item-dim.
    "ds_q7_avg_profile" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem
        .join(t.orders.filter(col("o_orderpriority") === "3-MEDIUM"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t.customer.filter(col("c_mktsegment") === "AUTOMOBILE"),
          col("o_custkey") === col("c_custkey"))
        .join(t.part, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(davg(col("l_quantity")).as("agg1"),
          davg(col("l_extendedprice")).as("agg2"),
          davg(col("l_discount")).as("agg3"),
          davg(col("p_retailprice")).as("agg4"))
        .orderBy("p_brand").limit(100)
    }),

    // DS3 (q19 shape): brand revenue cut by the selling side's geography.
    "ds_q19_nation_brand_rev" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem
        .join(t.part.filter(col("p_type") === "ECONOMY"), col("l_partkey") === col("p_partkey"))
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "p_brand")
        .agg(dsum(rev).as("ext_price"))
        .orderBy(col("ext_price").desc, col("n_name"), col("p_brand"))
        .limit(100)
    }),

    // DS4 (q27 shape): multi-dim ROLLUP of average measures.
    "ds_q27_rollup_profile" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val D = org.apache.spark.sql.types.DecimalType(38, 6)
      // Pre-aggregate sum/count partials at the finest (nation, segment)
      // grain, then ROLLUP the 125-row aggregate: Expand multiplies the
      // bounded grain, never the fact (same trick as ds_q67; avg is
      // re-derived as exact-decimal sum ÷ count so results are
      // bit-identical to a direct rollup-avg).
      val grain = t.lineitem
        .join(t.orders.filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        // Column overload: the String overload trips Spark's ambiguous-
        // self-join detection on multi-join inputs (false positive)
        .groupBy(col("n_name"), col("c_mktsegment"))
        .agg(sum(col("l_quantity").cast(D)).as("sq"),
          sum(col("l_extendedprice").cast(D)).as("sp"),
          count(lit(1)).as("cnt"))
      grain.rollup(col("n_name"), col("c_mktsegment"))
        .agg((sum(col("sq")).cast("double") / sum(col("cnt"))).as("agg1"),
          (sum(col("sp")).cast("double") / sum(col("cnt"))).as("agg2"),
          sum(col("cnt")).as("n"))
        .select(coalesce(col("n_name"), lit("ALL")).as("nation"),
          coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          col("agg1"), col("agg2"), col("n"))
        .orderBy("nation", "segment")
    }),

    // DS5 (q34 shape): orders whose line count falls in a band, with
    // customer detail joined back onto the banded aggregate.
    "ds_q34_basket" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val dn = t.lineitem
        .join(t.orders.filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_custkey")
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt").between(7, 12))
      dn.join(t.customer, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("cnt"))
        .orderBy(col("cnt").desc, col("c_name"), col("o_orderkey"))
    }),

    // DS6 (q42 shape): calendar-dim group over the item type axis.
    "ds_q42_year_type_rev" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem
        .join(t.orders.filter(year(col("o_orderdate")) === 1997),
          col("l_orderkey") === col("o_orderkey"))
        .join(t.part, col("l_partkey") === col("p_partkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"),
          month(col("o_orderdate")).cast("long").as("o_month"), col("p_type"))
        .agg(dsum(rev).as("sum_agg"))
        .orderBy(col("sum_agg").desc, col("o_month"), col("p_type"))
        .limit(100)
    }),

    // DS7 (q46 shape): per-order aggregate where the *selling* geography
    // is restricted, rejoined to the buyer and kept only when the buyer
    // lives elsewhere (bought_city <> home_city analogue).
    "ds_q46_cross_nation" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val bought = t.nation.select(col("n_nationkey").as("s_nk"), col("n_name").as("bought_nation"))
      val home = t.nation.select(col("n_nationkey").as("c_nk"), col("n_name").as("home_nation"))
      val dn = t.lineitem
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(bought.filter(col("bought_nation").isin("NATION_1", "NATION_2", "NATION_3"))),
          col("s_nationkey") === col("s_nk"))
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_custkey", "bought_nation")
        .agg(dsum(rev).as("amt"), dsum(col("l_extendedprice") * col("l_tax")).as("tax_amt"))
      dn.join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(home), col("c_nationkey") === col("c_nk"))
        .filter(col("home_nation") =!= col("bought_nation"))
        .select(col("c_name"), col("home_nation"), col("bought_nation"),
          col("o_orderkey"), col("amt"), col("tax_amt"))
        .orderBy(col("c_name"), col("o_orderkey"), col("bought_nation"))
        .limit(100)
    }),

    // DS8 (q53 shape): per-period sales vs the dim's all-period average,
    // keeping only >10% deviations. The average is a grouped exact agg
    // joined back — NOT an unordered double-sum window, whose result
    // would be partition-order-dependent across engines.
    "ds_q53_quarter_dev" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val sales = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.part.filter(col("p_type").isin("PROMO", "STANDARD")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          (year(col("o_orderdate")) * 10 + quarter(col("o_orderdate"))).cast("long").as("yq"))
        .agg(dsum(col("l_extendedprice")).as("sum_sales"))
      // r17: the per-brand average used to be a SECOND aggregate of
      // `sales` joined back — a DataFrame referenced twice is planned
      // twice, so the whole lineitem⋈orders⋈part pass ran twice (guide
      // §2.4: remove duplicate subtrees outright). The average now
      // rides a window on the (brand, quarter) grain, partitioned by
      // the same brand key the join used. Exactness is davg's own
      // recipe on window frames: sum_sales is the double image of a
      // 6-scale decimal, so casting back to DECIMAL(38,6) and summing
      // over the unordered partition is exact (order-free), and the
      // final double division sees identical operands.
      val wB = org.apache.spark.sql.expressions.Window.partitionBy(col("p_brand"))
      val D = org.apache.spark.sql.types.DecimalType(38, 6)
      sales
        .withColumn("avg_q_sales",
          sum(col("sum_sales").cast(D)).over(wB).cast("double") /
            count(col("sum_sales")).over(wB))
        .filter(abs(col("sum_sales") - col("avg_q_sales")) / col("avg_q_sales") > 0.1)
        .select(col("p_brand"), col("yq"), round(col("sum_sales"), 4).as("sum_sales"),
          round(col("avg_q_sales"), 4).as("avg_q_sales"))
        .orderBy("p_brand", "yq")
    }),

    // DS9 (q59 shape): period-over-period self-comparison — monthly
    // revenue per nation, 1996 joined against 1997 on the month axis.
    "ds_q59_yoy_nation" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      // r17: ONE fact pass. The 1996 and 1997 series used to be two
      // separate lineitem⋈orders⋈customer⋈nation subtrees joined on the
      // (nation, month) axis — the whole fact join ran twice (guide
      // §2.4: remove duplicate subtrees/shuffles outright). Both years
      // now flow through one pass with conditional sums; the old inner
      // join's "month present in BOTH years" cut is reproduced exactly
      // by per-year row counts > 0 (a year's dsum is non-null iff its
      // rows exist, but the count guard matches the join semantics even
      // for all-null revenue groups). Conditional dsum over the
      // combined rows is bit-identical to dsum over each year's rows:
      // the CASE yields null outside the year and sum skips nulls,
      // decimal addition is order-free.
      val yr = year(col("o_orderdate"))
      t.lineitem
        .join(t.orders.filter(yr === 1996 || yr === 1997),
          col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), month(col("o_orderdate")).cast("long").as("mo"))
        .agg(dsum(when(yr === 1996, rev)).as("rev1"),
          dsum(when(yr === 1997, rev)).as("rev2"),
          count(when(yr === 1996, lit(1))).as("c1"),
          count(when(yr === 1997, lit(1))).as("c2"))
        .filter(col("c1") > 0 && col("c2") > 0)
        .select(col("n_name"), col("mo"),
          round(col("rev1"), 4).as("rev1"), round(col("rev2"), 4).as("rev2"),
          round(col("rev2") / col("rev1"), 6).as("ratio"))
        .orderBy("n_name", "mo")
    }),

    // DS (q47/q57 shape): monthly brand revenue vs the brand's yearly
    // average — rows deviating > 5% from their average, with the
    // neighboring months attached (lag/lead) and a per-brand deviation
    // rank. ONE fact shuffle to the (brand, mo) grain; both windows
    // (whole-partition avg, ordered lag/lead) reuse the same brand
    // hash partitioning. Engine-portable numerics: the window average
    // re-casts the decimal-sourced msum double back to DECIMAL(38,6)
    // (exact — the double is the image of a 6-scale decimal), sums
    // exactly, and divides in double.
    "ds_q47_moving_avg" -> ((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val t = Tables(spark, dir)
      val m = t.lineitem
        .join(t.orders.filter(year(col("o_orderdate")) === 1996),
          col("l_orderkey") === col("o_orderkey"))
        // no broadcast hint: part grows with SF (the q09 round-1
        // lesson) — AQE broadcasts while it fits, shuffles when not
        .join(t.part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
          month(col("o_orderdate")).cast("long").as("mo"))
        .agg(dsum(rev).as("msum"))
      val wB = Window.partitionBy("brand")
      val wS = Window.partitionBy("brand").orderBy("mo")
      val scored = m
        .withColumn("avg_m",
          sum(col("msum").cast(DecimalType(38, 6))).over(wB).cast("double") /
            count(lit(1)).over(wB))
        .withColumn("psum", lag(col("msum"), 1).over(wS))
        .withColumn("nsum", lead(col("msum"), 1).over(wS))
        .filter(col("avg_m") > 0 && abs(col("msum") - col("avg_m")) / col("avg_m") > 0.05)
      // floor(x·1e4+0.5)/1e4, NOT round(): avg_m = sum/12 lands on
      // 5th-decimal ties where Spark's BigDecimal HALF_UP and DuckDB's
      // double rounding disagree by one ulp (sf0.1 Brand#17/mo4 did) —
      // the floor formula is plain double arithmetic, bit-identical
      def r4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        floor(c * 1e4 + 0.5) / 1e4
      scored
        .withColumn("dev_rank", row_number().over(
          Window.partitionBy("brand")
            .orderBy(abs(col("msum") - col("avg_m")).desc, col("mo"))).cast("long"))
        .select(col("brand"), col("mo"), r4(col("msum")).as("msum"),
          r4(col("avg_m")).as("avg_m"), r4(col("psum")).as("psum"),
          r4(col("nsum")).as("nsum"), col("dev_rank"))
        .orderBy("brand", "mo")
    }),

    // DS10 (q68 shape): high-value basket detail — per-order price/tax
    // totals for urgent orders, buyer detail, biggest first.
    "ds_q68_order_detail" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val dn = t.lineitem
        .join(t.orders.filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_custkey")
        .agg(dsum(col("l_extendedprice")).as("extended_price"),
          dsum(col("l_extendedprice") * col("l_tax")).as("extended_tax"),
          dsum(col("l_quantity")).as("total_qty"))
        .filter(col("extended_price") > 100000.0)
      dn.join(t.customer, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("extended_price"),
          col("extended_tax"), col("total_qty"))
        .orderBy(col("extended_price").desc, col("o_orderkey"))
        .limit(100)
    }),

    // DS13 (q88 shape): a battery of independent scalar aggregates
    // combined into one row — each band is a 1-row aggregate, so the
    // broadcast cross joins are scale-safe by construction.
    "ds_q88_multi_count" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      def band(lo: Double, hi: Double, name: String) =
        t.lineitem.filter(col("l_quantity") >= lo && col("l_quantity") < hi)
          .agg(count(lit(1)).as(name))
      band(1, 13, "h1")
        .crossJoin(broadcast(band(13, 25, "h2")))
        .crossJoin(broadcast(band(25, 37, "h3")))
        .crossJoin(broadcast(band(37, 51, "h4")))
    }),

    // DS14 (q1 shape): CTE reused twice — per-customer return totals
    // filtered against 1.2× their nation's average (correlated-scalar
    // rewritten as a grouped join, the scale-safe form).
    "ds_q1_cte_threshold" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val ctr = t.lineitem.filter(col("l_returnflag") === "R")
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey", "c_custkey")
        .agg(dsum(rev).as("total_return"))
      val avgT = ctr.groupBy(col("c_nationkey").as("nk"))
        .agg((davg(col("total_return")) * lit(1.2)).as("thresh"))
      ctr.join(avgT, col("c_nationkey") === col("nk"))
        .filter(col("total_return") > col("thresh"))
        .select(col("c_custkey"), col("c_nationkey"),
          round(col("total_return"), 4).as("total_return"),
          round(col("thresh"), 4).as("thresh"))
        .orderBy("c_custkey")
    }),

    // DS11: deep CTE chain + window-over-join (the q59/q74 WITH-chain
    // idiom), expressed in SQL end-to-end.
    "ds_cte_chain" -> ((spark, dir) => {
      views(spark, dir)
      spark.sql(s"""
        WITH monthly AS (
          SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
                 CAST(month(o_orderdate) AS BIGINT) AS mo,
                 ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS rev
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          WHERE year(o_orderdate) IN (1996, 1997)
          GROUP BY 1, 2, 3),
        -- Spark inlines non-recursive WITH, so a totals CTE re-executes
        -- the whole 4-way fact join; the month total as a window over
        -- monthly shares the rank's (yr, mo) partitioning — one scan,
        -- one shuffle, no second join.
        ranked AS (
          SELECT m.*, CAST(row_number() OVER (
              PARTITION BY m.yr, m.mo ORDER BY m.rev DESC, m.n_name) AS BIGINT) AS rk,
            CAST(SUM(CAST(m.rev AS DECIMAL(38,6))) OVER (
              PARTITION BY m.yr, m.mo) AS DOUBLE) AS tot
          FROM monthly m)
        SELECT yr, mo, rk, n_name,
               round(rev, 4) AS rev, round(rev / tot, 6) AS share
        FROM ranked
        WHERE rk <= 3
        ORDER BY yr, mo, rk""")
    }),

    // DS12: EXCEPT/INTERSECT-heavy set logic (q10a/q35 family).
    "ds_except_set" -> ((spark, dir) => {
      views(spark, dir)
      // Scale shape (the ds_q76 treatment): the literal EXCEPT/INTERSECT
      // form scans orders twice and customer twice, each EXCEPT planning
      // its own distinct + anti-join shuffle — 4 fact scans and 5
      // exchanges of key traffic at 100 TB. Both EXCEPTs compare a table
      // to ITSELF on the same key, so each collapses to ONE scan with
      // CASE-tagged flags: group orders by custkey once (HAVING picks
      // "seen 1996, never urgent"); customer's key is unique, so its
      // EXCEPT is a plain conjunctive filter with no shuffle at all. The
      // INTERSECT of two already-distinct sets is an equi-join (AQE
      // broadcasts the filtered customer side). One orders scan + one
      // grouping shuffle total; answer proven identical by the oracle,
      // which keeps the literal set-op SQL.
      spark.sql("""
        WITH o AS (
          SELECT o_custkey AS c FROM orders
          GROUP BY o_custkey
          HAVING max(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) = 1
             AND max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) = 0),
        cust AS (
          -- IS DISTINCT FROM, not <>: EXCEPT retains NULL-segment rows,
          -- so the filter rewrite must too (<> drops them) — equivalent
          -- on arbitrary data, not just this generator's (ADVICE r6)
          SELECT c_custkey AS c FROM customer
          WHERE c_acctbal > 0 AND c_mktsegment IS DISTINCT FROM 'MACHINERY')
        SELECT o.c FROM o JOIN cust ON o.c = cust.c
        ORDER BY c""")
    }),

    // DS13 (q67 shape): 4-level ROLLUP of sales, then rank() inside each
    // top-level category over ALL rollup grain levels, keep the top 5.
    // Window-over-rollup is the shape nothing else in the suite covers.
    "ds_q67_rollup_topn" -> ((spark, dir) => {
      views(spark, dir)
      // r17: input spread measured and REJECTED — interleaved A/B at
      // cpus=32 lost 0.85× (bench_control_r17_batch32.json): the
      // grain exchange right above the broadcast-probe chain already
      // redistributes, so the spread only added a full-fact hop.
      // Scale shape: ROLLUP over the RAW fact runs Expand (×5 row
      // multiplication) before aggregation — 5 copies of every fact row
      // shuffled at 100 TB. Sums re-aggregate, so pre-aggregate at the
      // finest grain first (one fact shuffle onto a bounded grain) and
      // roll partials up; Expand then multiplies thousands of rows, not
      // billions. Exact-decimal partials keep the result bit-identical.
      spark.sql(s"""
        WITH grain AS (
          SELECT p_type, p_brand, CAST(year(o_orderdate) AS BIGINT) AS o_year,
                 CAST(month(o_orderdate) AS BIGINT) AS o_month,
                 SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS s
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN part ON l_partkey = p_partkey
          GROUP BY 1, 2, 3, 4),
        sales AS (
          SELECT p_type, p_brand, o_year, o_month,
                 CAST(SUM(s) AS DOUBLE) AS sumsales
          FROM grain GROUP BY ROLLUP(p_type, p_brand, o_year, o_month))
        SELECT * FROM (
          SELECT p_type, p_brand, o_year, o_month, sumsales,
                 CAST(rank() OVER (PARTITION BY p_type ORDER BY sumsales DESC) AS BIGINT) AS rk
          FROM sales)
        WHERE rk <= 5
        ORDER BY p_type ASC NULLS FIRST, rk, p_brand ASC NULLS FIRST,
                 o_year ASC NULLS FIRST, o_month ASC NULLS FIRST""")
    }),

    // DS14 (q51 shape): two per-channel cumulative series (returned vs
    // clean lines), FULL OUTER JOIN on the (supplier, month) grain, keep
    // points where the returned-cumulative overtakes the clean one.
    "ds_q51_cume_compare" -> ((spark, dir) => {
      views(spark, dir)
      spark.sql("""
        WITH r AS (
          SELECT l_suppkey, CAST(month(l_shipdate) AS BIGINT) AS m,
                 SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS rev
          FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1, 2),
        n AS (
          SELECT l_suppkey, CAST(month(l_shipdate) AS BIGINT) AS m,
                 SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS rev
          FROM lineitem WHERE l_returnflag = 'N' GROUP BY 1, 2),
        rc AS (
          SELECT l_suppkey, m, SUM(rev) OVER (
            PARTITION BY l_suppkey ORDER BY m
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_r
          FROM r),
        nc AS (
          SELECT l_suppkey, m, SUM(rev) OVER (
            PARTITION BY l_suppkey ORDER BY m
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
          FROM n)
        SELECT coalesce(rc.l_suppkey, nc.l_suppkey) AS supp,
               coalesce(rc.m, nc.m) AS m,
               CAST(cum_r AS DOUBLE) AS cum_r, CAST(cum_n AS DOUBLE) AS cum_n
        FROM rc FULL OUTER JOIN nc
          ON rc.l_suppkey = nc.l_suppkey AND rc.m = nc.m
        WHERE cum_r > cum_n
        ORDER BY supp, m LIMIT 100""")
    }),

    // DS15 (q98/q12 shape): per-item revenue with its ratio-to-class
    // window share.
    "ds_q98_class_share" -> ((spark, dir) => {
      views(spark, dir)
      spark.sql("""
        WITH itemrev AS (
          SELECT p_type, p_brand, SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS s
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY 1, 2)
        SELECT p_type, p_brand, CAST(s AS DOUBLE) AS itemrev,
               round(CAST(s AS DOUBLE) * 100 / CAST(SUM(s) OVER (PARTITION BY p_type) AS DOUBLE), 6) AS ratio
        FROM itemrev
        ORDER BY p_type, ratio DESC, p_brand""")
    }),

    // DS16 (q4/q11 shape): per-customer year-over-year growth compared
    // across two "channels" (priority classes stand in for store/web):
    // keep customers whose urgent-channel growth outpaces their
    // normal-channel growth. The self-join of yearly aggregates is
    // flattened into one conditional-aggregation pass over the
    // (customer, channel, year) grain — one shuffle on custkey instead
    // of four.
    "ds_q4_growth_ratio" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val chan = when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "urgent")
        .otherwise("normal")
      val base = t.lineitem
        .join(t.orders.filter(year(col("o_orderdate")).isin(1996, 1997)),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"), chan.as("channel"),
          year(col("o_orderdate")).cast("long").as("yr"))
        .agg(dsum(rev).as("rev"))
      base.groupBy("o_custkey")
        .agg(
          max(when(col("channel") === "urgent" && col("yr") === 1996, col("rev"))).as("u96"),
          max(when(col("channel") === "urgent" && col("yr") === 1997, col("rev"))).as("u97"),
          max(when(col("channel") === "normal" && col("yr") === 1996, col("rev"))).as("n96"),
          max(when(col("channel") === "normal" && col("yr") === 1997, col("rev"))).as("n97"))
        .filter(col("u96") > 0 && col("n96") > 0 &&
          col("u97").isNotNull && col("n97").isNotNull)
        .filter(col("u97") / col("u96") > col("n97") / col("n96"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"),
          round(col("u97") / col("u96"), 6).as("urgent_growth"),
          round(col("n97") / col("n96"), 6).as("normal_growth"))
        .orderBy("c_custkey")
    }),

    // DS17 (q49 shape): worst return ratios per channel — quantity-based
    // and amount-based ranks over the same per-(channel, item)
    // aggregate, keep anything top-10 on either axis. Both rank orders
    // include the item key, so the rank is a total order and
    // engine-deterministic.
    //
    // Scale shape: `rank() OVER (PARTITION BY channel ...)` is a
    // scale-killer here because channel (l_linestatus) has 2–3 distinct
    // values — every window partition is ONE task sorting all ~|part|
    // aggregate rows, no matter how many executors exist. Instead:
    // (1) bounded top-10 heaps per (channel, axis) via a typed TopK
    //     Aggregator (partial agg: each map partition ships ≤ 10 rows),
    // (2) exact ranks for the ≤ 20 candidates per channel by counting
    //     rows that sort before each candidate in one broadcast-join
    //     pass over the persisted aggregate. The ordering includes the
    //     unique item key, so rank() == 1 + count(rows before) exactly.
    // No window, no single-partition sort; the fact is scanned once
    // (the oracle keeps the window form, proving equivalence).
    "ds_q49_return_rank" -> ((spark, dir) => {
      import graft.functions.TopK.topk
      val t = Tables(spark, dir)
      val isR = col("l_returnflag") === "R"
      val base = t.lineitem
        .groupBy(col("l_linestatus").as("channel"), col("l_partkey").as("item"))
        .agg(
          dsum(when(isR, col("l_quantity")).otherwise(lit(0.0))).as("ret_qty"),
          dsum(col("l_quantity")).as("tot_qty"),
          dsum(when(isR, rev).otherwise(lit(0.0))).as("ret_amt"),
          dsum(rev).as("tot_amt"))
        .withColumn("qty_ratio", col("ret_qty") / col("tot_qty"))
        .withColumn("amt_ratio", col("ret_amt") / col("tot_amt"))
        .select("channel", "item", "qty_ratio", "amt_ratio")
        // bounded by |item|·|channel| — the aggregate, not the fact;
        // slot-replacing so repeated calls never accumulate pinned RDDs
        .transform(graft.CacheSlot.replace(_, q49Slot))
      val cands = base.groupBy("channel")
        .agg(topk(col("qty_ratio"), col("item"), 10).as("qc"),
          topk(col("amt_ratio"), col("item"), 10).as("ac"))
        .select(col("channel").as("cchannel"),
          explode(array_union(col("qc.key"), col("ac.key"))).as("citem"))
      // candidate ratio values come from one cheap probe of the cached agg
      val candFull = base.join(broadcast(cands),
          col("channel") === col("cchannel") && col("item") === col("citem"))
        .select(col("channel").as("cchannel"), col("item").as("citem"),
          col("qty_ratio").as("cqty"), col("amt_ratio").as("camt"))
      val beforeQty = col("qty_ratio") > col("cqty") ||
        (col("qty_ratio") === col("cqty") && col("item") < col("citem"))
      val beforeAmt = col("amt_ratio") > col("camt") ||
        (col("amt_ratio") === col("camt") && col("item") < col("citem"))
      base.join(broadcast(candFull), col("channel") === col("cchannel"))
        .groupBy(col("cchannel"), col("citem"), col("cqty"), col("camt"))
        .agg((sum(when(beforeQty, 1L).otherwise(0L)) + 1L).as("qty_rank"),
          (sum(when(beforeAmt, 1L).otherwise(0L)) + 1L).as("amt_rank"))
        .filter(col("qty_rank") <= 10 || col("amt_rank") <= 10)
        .select(col("cchannel").as("channel"), col("citem").as("item"),
          round(col("cqty"), 6).as("qty_ratio"),
          round(col("camt"), 6).as("amt_ratio"),
          col("qty_rank"), col("amt_rank"))
        .orderBy("channel", "qty_rank", "amt_rank", "item")
    }),

    // DS21 (q36 shape): gross-margin ROLLUP ranked WITHIN each grouping
    // level — `lochierarchy = grouping(a)+grouping(b)` partitions the
    // rank window, the construct combination nothing else in the suite
    // reaches. Fact is pre-aggregated at the (type, brand) grain per
    // §5.9 before the rollup's Expand.
    "ds_q36_margin_rank" -> ((spark, dir) => {
      views(spark, dir)
      spark.sql("""
        WITH grain AS (
          SELECT p_type, p_brand,
            SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS rev,
            SUM(CAST(l_quantity * 10.0 AS DECIMAL(38,6))) AS cost
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY 1, 2),
        m AS (
          SELECT p_type, p_brand,
            round(CAST(SUM(rev) - SUM(cost) AS DOUBLE) / CAST(SUM(rev) AS DOUBLE), 6) AS margin,
            CAST(grouping(p_type) + grouping(p_brand) AS BIGINT) AS lochierarchy
          FROM grain GROUP BY ROLLUP(p_type, p_brand))
        SELECT lochierarchy, p_type, p_brand, margin,
          CAST(rank() OVER (
            PARTITION BY lochierarchy,
                         CASE WHEN lochierarchy = 1 THEN NULL ELSE p_type END
            ORDER BY margin, p_brand ASC NULLS FIRST, p_type ASC NULLS FIRST) AS BIGINT) AS rk
        FROM m
        ORDER BY lochierarchy DESC, p_type ASC NULLS FIRST, rk
        LIMIT 200""")
    }),

    // DS22 (q93 shape): returns-adjusted revenue — per-order adjustment
    // relation LEFT JOINed back onto orders, net = gross − coalesce(adj).
    "ds_q93_net_after_returns" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val adj = t.lineitem.filter(col("l_returnflag") === "R")
        .groupBy(col("l_orderkey").as("a_orderkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("returned_amt"))
      t.orders
        .join(adj, col("o_orderkey") === col("a_orderkey"), "left")
        .groupBy(col("o_custkey"))
        .agg(dsum(col("o_totalprice")).as("gross"),
          dsum(coalesce(col("returned_amt"), lit(0.0))).as("returned"))
        .withColumn("net", round(col("gross") - col("returned"), 4))
        .filter(col("returned") > 0)
        .select(col("o_custkey"), round(col("gross"), 4).as("gross"),
          round(col("returned"), 4).as("returned"), col("net"))
        .orderBy(col("net").desc, col("o_custkey")).limit(100)
    }),

    // DS19 (q31 shape): quarter-over-quarter revenue growth per nation.
    // The classic form self-joins the quarterly aggregate once per
    // period pair; here lead() over the (nation) partition reads the
    // next quarter from the SAME shuffle — one aggregate, one window,
    // no re-scan (the oracle mirrors the identical window form).
    "ds_q31_qoq_growth" -> ((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val q = t.orders.join(t.customer, col("o_custkey") === col("c_custkey"))
        .filter(year(col("o_orderdate")) === 1997)
        .groupBy(col("c_nationkey").as("nk"),
          quarter(col("o_orderdate")).cast("long").as("qt"))
        .agg(dsum(col("o_totalprice")).as("rev"))
      val w = Window.partitionBy("nk").orderBy("qt")
      q.withColumn("next_qt", lead("qt", 1).over(w))
        .withColumn("next_rev", lead("rev", 1).over(w))
        .filter(col("next_rev").isNotNull && col("rev") > 0)
        .select(col("nk"), col("qt").as("q_from"), col("next_qt"),
          round(col("next_rev") / col("rev"), 6).as("growth"))
        .orderBy("nk", "q_from")
    }),

    // DS20 (q23 shape): frequent items × best customers — two HAVING'd
    // aggregates drive IN-subquery cuts of the fact, then yearly
    // revenue over the doubly-restricted set.
    "ds_q23_frequent_items" -> ((spark, dir) => {
      views(spark, dir)
      // r17: input spread on both fact branches measured and REJECTED
      // — interleaved A/B at cpus=32 lost 0.62× (the batch's worst;
      // bench_control_r17_batch32.json): the freq branch's
      // (partkey, orderkey) dedup exchange redistributes right above
      // the scan anyway, so the spread only doubled the heaviest hop.
      // Bare scan stays; the distinct-count pre-aggregation and
      // broadcast semi-joins (see the before-plan) are already the
      // §2.3/§3.1 shape.
      spark.sql("""
        WITH freq AS (
          SELECT l_partkey FROM lineitem
          GROUP BY l_partkey HAVING count(DISTINCT l_orderkey) > 4),
        big_cust AS (
          SELECT o_custkey FROM orders
          GROUP BY o_custkey
          HAVING CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) > 400000.0)
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
               count(*) AS n_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_partkey IN (SELECT l_partkey FROM freq)
          AND o_custkey IN (SELECT o_custkey FROM big_cust)
        GROUP BY 1 ORDER BY 1""")
    }),

    // DS23 (q76/q71 shape): channel-union rollup — three tagged slices
    // of the fact feeding one shared aggregate over (channel, year).
    //
    // Scale shape: the literal TPC-DS form UNION ALLs three
    // fact-dimension joins — 3 fact scans + 3 join shuffles. Because
    // the three slice predicates are DISJOINT and EXHAUSTIVE over the
    // same scan, the channel tag is a row-local CASE: ONE
    // lineitem⋈orders pass, one partial-aggregated shuffle (the oracle
    // keeps the literal UNION ALL form, proving equivalence — same
    // treatment as ds_q14's INTERSECT).
    "ds_q76_channel_union" -> ((spark, dir) => {
      views(spark, dir)
      spark.sql(s"""
        SELECT channel, CAST(yr AS BIGINT) AS yr,
               ${sqlSum("ext")} AS revenue, count(*) AS n_lines
        FROM (
          SELECT CASE WHEN l_returnflag = 'R' THEN 'returned'
                      WHEN o_orderpriority = '1-URGENT' THEN 'urgent_open'
                      ELSE 'normal' END AS channel,
                 year(o_orderdate) AS yr,
                 l_extendedprice * (1.0 - l_discount) AS ext
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        GROUP BY channel, yr
        ORDER BY channel, yr""")
    }),

    // DS18 (q14 shape): cross-channel items — partkeys sold under ALL
    // THREE priority channels, then 1997 brand revenue restricted to
    // those items via an IN-subquery (planned as a shuffled semi-join;
    // AQE may demote it to broadcast when small).
    //
    // Scale shape: the literal TPC-DS form is a 3-way INTERSECT — three
    // separate lineitem⋈orders joins plus two set-op shuffles, so the
    // fact is scanned 4× (incl. the main query). "Sold under all three
    // priorities" is a predicate on the per-partkey priority SET, so
    // one lineitem⋈orders pass + GROUP BY l_partkey with three bool_or
    // flags computes the identical cut: one fact shuffle instead of
    // three joins + two INTERSECT shuffles (the oracle keeps the
    // INTERSECT form, proving equivalence).
    "ds_q14_cross_items" -> ((spark, dir) => {
      views(spark, dir)
      spark.sql("""
        WITH cross_items AS (
          SELECT l_partkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
          GROUP BY l_partkey
          HAVING bool_or(o_orderpriority = '1-URGENT')
             AND bool_or(o_orderpriority = '2-HIGH')
             AND bool_or(o_orderpriority = '3-MEDIUM'))
        SELECT p_brand,
               CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
               count(*) AS n_lines
        FROM lineitem
        -- inner join against (part ⋈ cut) instead of `l_partkey IN cut`:
        -- p_partkey is unique and the cut is DISTINCT by construction,
        -- so this is the same semi filter — but referenced ONCE, which
        -- stops Catalyst's semi-join pushdown from replicating the cut
        -- aggregate onto both join sides (observed: 3 fact scans).
        JOIN (SELECT p_partkey, p_brand
              FROM part JOIN cross_items ON p_partkey = l_partkey) pc
          ON l_partkey = pc.p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE year(o_orderdate) = 1997
        GROUP BY p_brand
        ORDER BY revenue DESC, p_brand LIMIT 100""")
    }),
    // DS26 (q10/q35 shape, r7): customer profile gated by a CONJUNCTION
    // of a plain EXISTS and a DISJUNCTION of two more EXISTS. The OR of
    // correlated EXISTS cannot be two semi-joins — Catalyst plans each
    // disjunct as an ExistenceJoin emitting a boolean, then filters the
    // disjunction: the one subquery plan form the rest of the suite
    // never produces. Scale shape: every subquery is an equi-join on
    // o_custkey (shuffle-partitionable); nothing correlates per-row.
    "ds_q35_exists_profile" -> ((spark, dir) => {
      views(spark, dir)
      spark.sql(s"""
        SELECT c_nationkey, c_mktsegment,
               count(*) AS n_cust,
               ${sqlSum("c_acctbal")} AS sum_bal
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND year(o_orderdate) = 1997)
          AND (EXISTS (SELECT 1 FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                       WHERE o_custkey = c_custkey AND l_returnflag = 'R')
               OR EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'))
        GROUP BY c_nationkey, c_mktsegment
        ORDER BY c_nationkey, c_mktsegment""")
    }),

    // DS27 (q58 shape, r7): items whose revenue is BALANCED across the
    // three disjoint channels — each channel within [0.5, 1.5]× the
    // cross-channel mean.
    //
    // Scale shape: the literal TPC-DS form aggregates each channel
    // separately and 3-way-joins on item — 3 fact scans + 4 shuffles.
    // The channels partition ONE scan, so three conditional sums over a
    // single lineitem⋈orders pass compute the identical pivot in one
    // fact shuffle; absence from a channel surfaces as NULL exactly
    // where the literal form's inner join drops the item (the oracle
    // keeps the literal three-agg join, proving equivalence).
    // DS q29/q17/q25 family shape: buy → return → buy-again fact
    // chain. Customers who RETURNED a part and later purchased the
    // same part again: three fact passes chained on the bounded
    // (custkey, partkey) grain — the first pass pre-aggregates to that
    // grain (min return date), so the chain joins aggregated partials,
    // never fact×fact on a non-key.
    "ds_q29_repeat_return" -> ((spark, dir) => {
      views(spark, dir)
      spark.sql(s"""
        WITH ret AS (
          SELECT o_custkey AS ck, l_partkey AS pk, min(o_orderdate) AS first_ret
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_returnflag = 'R'
          GROUP BY o_custkey, l_partkey),
        rebuy AS (
          SELECT ck, pk, count(*) AS n_rebuy, ${sqlSum("l_quantity")} AS rebuy_qty
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               JOIN ret ON o_custkey = ck AND l_partkey = pk
          WHERE l_returnflag <> 'R' AND o_orderdate > first_ret
          GROUP BY ck, pk)
        SELECT n_name, p_brand,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(n_rebuy) AS BIGINT) AS n_rebuys,
               ${sqlSum("rebuy_qty")} AS rebuy_qty
        FROM rebuy
          JOIN customer ON c_custkey = ck
          JOIN nation ON n_nationkey = c_nationkey
          JOIN part ON p_partkey = pk
        GROUP BY n_name, p_brand
        ORDER BY n_name, p_brand""")
    }),

    // DS q78 shape: per-(year, item) cross-channel quantity ratio over
    // sales NOT coupled with a return — the return set excludes rows by
    // (orderkey, linenumber), which is not unique in the synthetic
    // lineitem.
    // (r16 note: a window-over-peer-group rewrite that folded the
    // exclusion into one lineitem scan measured 0.85× — SLOWER — in the
    // interleaved A/B (bench_control_r16c.json): the full-fact
    // hashpartition+sort the window needs costs more here than the
    // small return set + broadcast join it replaced, so the two-scan
    // form stays. r17 re-examined the verdict's conditional-max fold
    // and it is INAPPLICABLE here: every duplicated (orderkey,
    // linenumber) group carries varying partkey/quantity/linestatus
    // (checked at all three SFs), so the exclusion key cannot become an
    // aggregation grain without the window the r16 control already
    // rejected. What r17 DOES change: the exclusion is NOT EXISTS — a
    // true anti-join — instead of DISTINCT + LEFT JOIN ... IS NULL,
    // dropping the pre-join dedup exchange (anti-join semantics ignore
    // build-side duplicates; result provably identical, oracle keeps
    // the literal LEFT JOIN form). The input spread was trialed on top
    // and REJECTED (combined A/B at cpus=32 lost 0.83×,
    // bench_control_r17_batch32.json; the anti-join form alone
    // re-measured separately in bench_control_r17_batch2_32.json).
    // The share is floor-of-double-division in basis points: IEEE
    // division and floor are bit-identical across engines, unlike
    // round()'s half-up/half-even conventions.
    "ds_q78_channel_ratio" -> ((spark, dir) => {
      views(spark, dir)
      spark.sql(s"""
        WITH s AS (
          SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, l_partkey AS pk,
                 CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS web,
                 l_quantity AS qty
          FROM lineitem l JOIN orders ON l.l_orderkey = o_orderkey
          WHERE NOT EXISTS (
            SELECT 1 FROM lineitem r
            WHERE r.l_returnflag = 'R'
              AND r.l_orderkey = l.l_orderkey
              AND r.l_linenumber = l.l_linenumber)),
        agg AS (
          SELECT yr, pk,
            ${sqlSum("CASE WHEN web = 1 THEN qty END")} AS ws_qty,
            ${sqlSum("CASE WHEN web = 0 THEN qty END")} AS ss_qty
          FROM s GROUP BY yr, pk)
        SELECT yr, pk, ws_qty, ss_qty,
          CAST(floor(ws_qty * 10000 / (ws_qty + ss_qty)) AS BIGINT) AS web_share_bp
        FROM agg
        WHERE ws_qty IS NOT NULL AND ss_qty IS NOT NULL
        ORDER BY web_share_bp DESC, yr, pk
        LIMIT 100""")
    }),

    "ds_q58_channel_share" -> ((spark, dir) => {
      views(spark, dir)
      // r17 input spread for THIS query only: the conditional-sum pass
      // over the joined fact otherwise runs in the single scan task.
      // Localized: every SQL query re-registers views() first, so the
      // override cannot leak into another query's plan. Interleaved
      // A/B bench_control_r17_spread32.json
      Tables(spark, dir).lineitemSpread.createOrReplaceTempView("lineitem")
      spark.sql(s"""
        WITH ch AS (
          SELECT l_partkey,
                 CASE WHEN l_returnflag = 'R' THEN 'returned'
                      WHEN o_orderpriority = '1-URGENT' THEN 'urgent'
                      ELSE 'normal' END AS channel,
                 l_extendedprice * (1.0 - l_discount) AS ext
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        agg AS (
          SELECT l_partkey,
                 ${sqlSum("CASE WHEN channel = 'returned' THEN ext END")} AS r_rev,
                 ${sqlSum("CASE WHEN channel = 'urgent' THEN ext END")} AS u_rev,
                 ${sqlSum("CASE WHEN channel = 'normal' THEN ext END")} AS n_rev
          FROM ch GROUP BY l_partkey)
        SELECT l_partkey, r_rev, u_rev, n_rev
        FROM agg
        WHERE r_rev IS NOT NULL AND u_rev IS NOT NULL AND n_rev IS NOT NULL
          AND r_rev BETWEEN 0.5 * (r_rev + u_rev + n_rev) / 3 AND 1.5 * (r_rev + u_rev + n_rev) / 3
          AND u_rev BETWEEN 0.5 * (r_rev + u_rev + n_rev) / 3 AND 1.5 * (r_rev + u_rev + n_rev) / 3
          AND n_rev BETWEEN 0.5 * (r_rev + u_rev + n_rev) / 3 AND 1.5 * (r_rev + u_rev + n_rev) / 3
        ORDER BY l_partkey""")
    }),
  )

  val oracles: Map[String, String] = Map(
    "ds_q35_exists_profile" ->
      """SELECT c_nationkey, c_mktsegment,
        |       count(*) AS n_cust,
        |       CAST(SUM(CAST((c_acctbal) AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND year(o_orderdate) = 1997)
        |  AND (EXISTS (SELECT 1 FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |               WHERE o_custkey = c_custkey AND l_returnflag = 'R')
        |       OR EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'))
        |GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "ds_q29_repeat_return" ->
      """WITH ret AS (
        |  SELECT o_custkey AS ck, l_partkey AS pk, min(o_orderdate) AS first_ret
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY o_custkey, l_partkey),
        |rebuy AS (
        |  SELECT ck, pk, count(*) AS n_rebuy,
        |         CAST(SUM(CAST((l_quantity) AS DECIMAL(38,6))) AS DOUBLE) AS rebuy_qty
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN ret ON o_custkey = ck AND l_partkey = pk
        |  WHERE l_returnflag <> 'R' AND o_orderdate > first_ret
        |  GROUP BY ck, pk)
        |SELECT n_name, p_brand,
        |       CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(sum(n_rebuy) AS BIGINT) AS n_rebuys,
        |       CAST(SUM(CAST((rebuy_qty) AS DECIMAL(38,6))) AS DOUBLE) AS rebuy_qty
        |FROM rebuy
        |  JOIN customer ON c_custkey = ck
        |  JOIN nation ON n_nationkey = c_nationkey
        |  JOIN part ON p_partkey = pk
        |GROUP BY n_name, p_brand
        |ORDER BY n_name, p_brand""".stripMargin,

    "ds_q78_channel_ratio" ->
      """WITH ret AS (
        |  SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem WHERE l_returnflag = 'R'),
        |s AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, l_partkey AS pk,
        |         CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS web,
        |         l_quantity AS qty
        |  FROM lineitem l JOIN orders ON l.l_orderkey = o_orderkey
        |  LEFT JOIN ret r ON l.l_orderkey = r.l_orderkey AND l.l_linenumber = r.l_linenumber
        |  WHERE r.l_orderkey IS NULL),
        |agg AS (
        |  SELECT yr, pk,
        |    CAST(SUM(CAST((CASE WHEN web = 1 THEN qty END) AS DECIMAL(38,6))) AS DOUBLE) AS ws_qty,
        |    CAST(SUM(CAST((CASE WHEN web = 0 THEN qty END) AS DECIMAL(38,6))) AS DOUBLE) AS ss_qty
        |  FROM s GROUP BY yr, pk)
        |SELECT yr, pk, ws_qty, ss_qty,
        |  CAST(floor(ws_qty * 10000 / (ws_qty + ss_qty)) AS BIGINT) AS web_share_bp
        |FROM agg
        |WHERE ws_qty IS NOT NULL AND ss_qty IS NOT NULL
        |ORDER BY web_share_bp DESC, yr, pk
        |LIMIT 100""".stripMargin,

    // literal q58 form: three per-channel aggregates inner-joined on the
    // item — proves the single-pass conditional-sum rewrite equivalent
    "ds_q58_channel_share" ->
      """WITH ch AS (
        |  SELECT l_partkey,
        |         CASE WHEN l_returnflag = 'R' THEN 'returned'
        |              WHEN o_orderpriority = '1-URGENT' THEN 'urgent'
        |              ELSE 'normal' END AS channel,
        |         l_extendedprice * (1.0 - l_discount) AS ext
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |r AS (SELECT l_partkey, CAST(SUM(CAST((ext) AS DECIMAL(38,6))) AS DOUBLE) AS r_rev
        |      FROM ch WHERE channel = 'returned' GROUP BY l_partkey),
        |u AS (SELECT l_partkey, CAST(SUM(CAST((ext) AS DECIMAL(38,6))) AS DOUBLE) AS u_rev
        |      FROM ch WHERE channel = 'urgent' GROUP BY l_partkey),
        |n AS (SELECT l_partkey, CAST(SUM(CAST((ext) AS DECIMAL(38,6))) AS DOUBLE) AS n_rev
        |      FROM ch WHERE channel = 'normal' GROUP BY l_partkey)
        |SELECT l_partkey, r_rev, u_rev, n_rev
        |FROM r JOIN u USING (l_partkey) JOIN n USING (l_partkey)
        |WHERE r_rev BETWEEN 0.5 * (r_rev + u_rev + n_rev) / 3 AND 1.5 * (r_rev + u_rev + n_rev) / 3
        |  AND u_rev BETWEEN 0.5 * (r_rev + u_rev + n_rev) / 3 AND 1.5 * (r_rev + u_rev + n_rev) / 3
        |  AND n_rev BETWEEN 0.5 * (r_rev + u_rev + n_rev) / 3 AND 1.5 * (r_rev + u_rev + n_rev) / 3
        |ORDER BY l_partkey""".stripMargin,
    "ds_q3_brand_rev" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, p_brand,
         |  ${sqlSum("l_extendedprice")} AS sum_agg
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN part ON l_partkey = p_partkey
         |WHERE month(o_orderdate) = 11 AND p_size = 5
         |GROUP BY 1, 2 ORDER BY o_year, sum_agg DESC, p_brand LIMIT 100""".stripMargin,

    "ds_q7_avg_profile" ->
      s"""SELECT p_brand, ${sqlAvg("l_quantity")} AS agg1,
         |  ${sqlAvg("l_extendedprice")} AS agg2, ${sqlAvg("l_discount")} AS agg3,
         |  ${sqlAvg("p_retailprice")} AS agg4
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN part ON l_partkey = p_partkey
         |WHERE o_orderpriority = '3-MEDIUM' AND c_mktsegment = 'AUTOMOBILE'
         |GROUP BY 1 ORDER BY p_brand LIMIT 100""".stripMargin,

    "ds_q19_nation_brand_rev" ->
      s"""SELECT n_name, p_brand,
         |  ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS ext_price
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_type = 'ECONOMY'
         |GROUP BY 1, 2 ORDER BY ext_price DESC, n_name, p_brand LIMIT 100""".stripMargin,

    "ds_q27_rollup_profile" ->
      s"""SELECT coalesce(n_name, 'ALL') AS nation,
         |  coalesce(c_mktsegment, 'ALL') AS segment,
         |  ${sqlAvg("l_quantity")} AS agg1, ${sqlAvg("l_extendedprice")} AS agg2,
         |  count(*) AS n
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE o_orderstatus = 'F'
         |GROUP BY ROLLUP (n_name, c_mktsegment)
         |ORDER BY 1, 2""".stripMargin,

    "ds_q34_basket" ->
      """SELECT c_name, o_orderkey, cnt FROM (
        |  SELECT o_orderkey, o_custkey, count(*) AS cnt
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  GROUP BY 1, 2) dn
        |JOIN customer ON o_custkey = c_custkey
        |WHERE cnt BETWEEN 7 AND 12
        |ORDER BY cnt DESC, c_name, o_orderkey""".stripMargin,

    "ds_q42_year_type_rev" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  CAST(month(o_orderdate) AS BIGINT) AS o_month, p_type,
         |  ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS sum_agg
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN part ON l_partkey = p_partkey
         |WHERE year(o_orderdate) = 1997
         |GROUP BY 1, 2, 3 ORDER BY sum_agg DESC, o_month, p_type LIMIT 100""".stripMargin,

    "ds_q46_cross_nation" ->
      s"""SELECT c_name, hn.n_name AS home_nation, bought_nation, o_orderkey, amt, tax_amt FROM (
         |  SELECT o_orderkey, o_custkey, bn.n_name AS bought_nation,
         |    ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS amt,
         |    ${sqlSum("l_extendedprice * l_tax")} AS tax_amt
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation bn ON s_nationkey = bn.n_nationkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  WHERE bn.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
         |  GROUP BY 1, 2, 3) dn
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation hn ON c_nationkey = hn.n_nationkey
         |WHERE hn.n_name <> bought_nation
         |ORDER BY c_name, o_orderkey, bought_nation LIMIT 100""".stripMargin,

    "ds_q53_quarter_dev" ->
      s"""WITH sales AS (
         |  SELECT p_brand,
         |    CAST(year(o_orderdate) * 10 + quarter(o_orderdate) AS BIGINT) AS yq,
         |    ${sqlSum("l_extendedprice")} AS sum_sales
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN part ON l_partkey = p_partkey
         |  WHERE p_type IN ('PROMO', 'STANDARD')
         |  GROUP BY 1, 2),
         |avgs AS (
         |  SELECT p_brand AS b,
         |    (CAST(SUM(CAST(sum_sales AS DECIMAL(38,6))) AS DOUBLE) / COUNT(sum_sales)) AS avg_q_sales
         |  FROM sales GROUP BY 1)
         |SELECT p_brand, yq, round(sum_sales, 4) AS sum_sales,
         |  round(avg_q_sales, 4) AS avg_q_sales
         |FROM sales JOIN avgs ON p_brand = b
         |WHERE abs(sum_sales - avg_q_sales) / avg_q_sales > 0.1
         |ORDER BY p_brand, yq""".stripMargin,

    // window avg mirrors the Spark recipe exactly: decimal re-cast of
    // the decimal-sourced double, exact window sum, double division
    "ds_q47_moving_avg" ->
      s"""WITH m AS (
         |  SELECT p_brand AS brand, CAST(month(o_orderdate) AS BIGINT) AS mo,
         |    ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS msum
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |                JOIN part ON l_partkey = p_partkey
         |  WHERE year(o_orderdate) = 1996
         |  GROUP BY 1, 2),
         |w AS (
         |  SELECT brand, mo, msum,
         |    CAST(SUM(CAST(msum AS DECIMAL(38,6))) OVER wb AS DOUBLE)
         |      / COUNT(*) OVER wb AS avg_m,
         |    lag(msum) OVER ws AS psum, lead(msum) OVER ws AS nsum
         |  FROM m
         |  WINDOW wb AS (PARTITION BY brand), ws AS (PARTITION BY brand ORDER BY mo)),
         |f AS (
         |  SELECT * FROM w WHERE avg_m > 0 AND abs(msum - avg_m) / avg_m > 0.05)
         |SELECT brand, mo,
         |  floor(msum * 1e4 + 0.5) / 1e4 AS msum,
         |  floor(avg_m * 1e4 + 0.5) / 1e4 AS avg_m,
         |  floor(psum * 1e4 + 0.5) / 1e4 AS psum,
         |  floor(nsum * 1e4 + 0.5) / 1e4 AS nsum,
         |  CAST(row_number() OVER (
         |    PARTITION BY brand ORDER BY abs(msum - avg_m) DESC, mo) AS BIGINT) AS dev_rank
         |FROM f ORDER BY brand, mo""".stripMargin,

    "ds_q59_yoy_nation" ->
      s"""WITH y1 AS (
         |  SELECT n_name, CAST(month(o_orderdate) AS BIGINT) AS mo,
         |    ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS rev1
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  WHERE year(o_orderdate) = 1996 GROUP BY 1, 2),
         |y2 AS (
         |  SELECT n_name, CAST(month(o_orderdate) AS BIGINT) AS mo,
         |    ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS rev2
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  WHERE year(o_orderdate) = 1997 GROUP BY 1, 2)
         |SELECT y1.n_name, y1.mo, round(rev1, 4) AS rev1, round(rev2, 4) AS rev2,
         |  round(rev2 / rev1, 6) AS ratio
         |FROM y1 JOIN y2 ON y1.n_name = y2.n_name AND y1.mo = y2.mo
         |ORDER BY y1.n_name, y1.mo""".stripMargin,

    "ds_q68_order_detail" ->
      s"""SELECT c_name, o_orderkey, extended_price, extended_tax, total_qty FROM (
         |  SELECT o_orderkey, o_custkey,
         |    ${sqlSum("l_extendedprice")} AS extended_price,
         |    ${sqlSum("l_extendedprice * l_tax")} AS extended_tax,
         |    ${sqlSum("l_quantity")} AS total_qty
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderpriority = '1-URGENT'
         |  GROUP BY 1, 2) dn
         |JOIN customer ON o_custkey = c_custkey
         |WHERE extended_price > 100000.0
         |ORDER BY extended_price DESC, o_orderkey LIMIT 100""".stripMargin,

    "ds_q88_multi_count" ->
      """SELECT
        |  (SELECT count(*) FROM lineitem WHERE l_quantity >= 1 AND l_quantity < 13) AS h1,
        |  (SELECT count(*) FROM lineitem WHERE l_quantity >= 13 AND l_quantity < 25) AS h2,
        |  (SELECT count(*) FROM lineitem WHERE l_quantity >= 25 AND l_quantity < 37) AS h3,
        |  (SELECT count(*) FROM lineitem WHERE l_quantity >= 37 AND l_quantity < 51) AS h4""".stripMargin,

    "ds_q1_cte_threshold" ->
      s"""WITH ctr AS (
         |  SELECT c_nationkey, c_custkey,
         |    ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS total_return
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  WHERE l_returnflag = 'R'
         |  GROUP BY 1, 2),
         |a AS (
         |  SELECT c_nationkey AS nk,
         |    (CAST(SUM(CAST(total_return AS DECIMAL(38,6))) AS DOUBLE) / COUNT(total_return)) * 1.2 AS thresh
         |  FROM ctr GROUP BY 1)
         |SELECT c_custkey, c_nationkey, round(total_return, 4) AS total_return,
         |  round(thresh, 4) AS thresh
         |FROM ctr JOIN a ON c_nationkey = nk
         |WHERE total_return > thresh
         |ORDER BY c_custkey""".stripMargin,

    "ds_cte_chain" ->
      s"""WITH monthly AS (
         |  SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
         |         CAST(month(o_orderdate) AS BIGINT) AS mo,
         |         ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS rev
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  WHERE year(o_orderdate) IN (1996, 1997)
         |  GROUP BY 1, 2, 3),
         |totals AS (
         |  SELECT yr, mo, CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) AS tot
         |  FROM monthly GROUP BY 1, 2),
         |ranked AS (
         |  SELECT m.*, CAST(row_number() OVER (
         |      PARTITION BY m.yr, m.mo ORDER BY m.rev DESC, m.n_name) AS BIGINT) AS rk
         |  FROM monthly m)
         |SELECT r.yr, r.mo, r.rk, r.n_name,
         |       round(r.rev, 4) AS rev, round(r.rev / t.tot, 6) AS share
         |FROM ranked r JOIN totals t ON r.yr = t.yr AND r.mo = t.mo
         |WHERE r.rk <= 3
         |ORDER BY r.yr, r.mo, r.rk""".stripMargin,

    "ds_except_set" ->
      """(SELECT o_custkey AS c FROM orders WHERE year(o_orderdate) = 1996
        | EXCEPT
        | SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |INTERSECT
        |(SELECT c_custkey FROM customer WHERE c_acctbal > 0
        | EXCEPT
        | SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
        |ORDER BY c""".stripMargin,

    "ds_q67_rollup_topn" ->
      """WITH base AS (
        |  SELECT p_type, p_brand, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         CAST(month(o_orderdate) AS BIGINT) AS o_month,
        |         l_extendedprice * (1.0 - l_discount) AS r
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey),
        |sales AS (
        |  SELECT p_type, p_brand, o_year, o_month,
        |         CAST(SUM(CAST(r AS DECIMAL(38,6))) AS DOUBLE) AS sumsales
        |  FROM base GROUP BY ROLLUP(p_type, p_brand, o_year, o_month))
        |SELECT * FROM (
        |  SELECT p_type, p_brand, o_year, o_month, sumsales,
        |         CAST(rank() OVER (PARTITION BY p_type ORDER BY sumsales DESC) AS BIGINT) AS rk
        |  FROM sales)
        |WHERE rk <= 5
        |ORDER BY p_type ASC NULLS FIRST, rk, p_brand ASC NULLS FIRST,
        |         o_year ASC NULLS FIRST, o_month ASC NULLS FIRST""".stripMargin,

    "ds_q51_cume_compare" ->
      """WITH r AS (
        |  SELECT l_suppkey, CAST(month(l_shipdate) AS BIGINT) AS m,
        |         SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS rev
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1, 2),
        |n AS (
        |  SELECT l_suppkey, CAST(month(l_shipdate) AS BIGINT) AS m,
        |         SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS rev
        |  FROM lineitem WHERE l_returnflag = 'N' GROUP BY 1, 2),
        |rc AS (
        |  SELECT l_suppkey, m, SUM(rev) OVER (
        |    PARTITION BY l_suppkey ORDER BY m
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_r
        |  FROM r),
        |nc AS (
        |  SELECT l_suppkey, m, SUM(rev) OVER (
        |    PARTITION BY l_suppkey ORDER BY m
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
        |  FROM n)
        |SELECT coalesce(rc.l_suppkey, nc.l_suppkey) AS supp,
        |       coalesce(rc.m, nc.m) AS m,
        |       CAST(cum_r AS DOUBLE) AS cum_r, CAST(cum_n AS DOUBLE) AS cum_n
        |FROM rc FULL OUTER JOIN nc
        |  ON rc.l_suppkey = nc.l_suppkey AND rc.m = nc.m
        |WHERE cum_r > cum_n
        |ORDER BY supp, m LIMIT 100""".stripMargin,

    "ds_q98_class_share" ->
      """WITH itemrev AS (
        |  SELECT p_type, p_brand, SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS s
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2)
        |SELECT p_type, p_brand, CAST(s AS DOUBLE) AS itemrev,
        |       round(CAST(s AS DOUBLE) * 100 / CAST(SUM(s) OVER (PARTITION BY p_type) AS DOUBLE), 6) AS ratio
        |FROM itemrev
        |ORDER BY p_type, ratio DESC, p_brand""".stripMargin,

    "ds_q4_growth_ratio" ->
      """WITH base AS (
        |  SELECT o_custkey,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'urgent' ELSE 'normal' END AS channel,
        |    CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE year(o_orderdate) IN (1996, 1997)
        |  GROUP BY 1, 2, 3),
        |cells AS (
        |  SELECT o_custkey,
        |    MAX(CASE WHEN channel = 'urgent' AND yr = 1996 THEN rev END) AS u96,
        |    MAX(CASE WHEN channel = 'urgent' AND yr = 1997 THEN rev END) AS u97,
        |    MAX(CASE WHEN channel = 'normal' AND yr = 1996 THEN rev END) AS n96,
        |    MAX(CASE WHEN channel = 'normal' AND yr = 1997 THEN rev END) AS n97
        |  FROM base GROUP BY 1)
        |SELECT c_custkey, c_name,
        |  round(u97 / u96, 6) AS urgent_growth,
        |  round(n97 / n96, 6) AS normal_growth
        |FROM cells JOIN customer ON o_custkey = c_custkey
        |WHERE u96 > 0 AND n96 > 0 AND u97 IS NOT NULL AND n97 IS NOT NULL
        |  AND u97 / u96 > n97 / n96
        |ORDER BY c_custkey""".stripMargin,

    "ds_q49_return_rank" ->
      """WITH base AS (
        |  SELECT l_linestatus AS channel, l_partkey AS item,
        |    CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS ret_qty,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS tot_qty,
        |    CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS ret_amt,
        |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS tot_amt
        |  FROM lineitem GROUP BY 1, 2),
        |ranked AS (
        |  SELECT channel, item, ret_qty / tot_qty AS qty_ratio, ret_amt / tot_amt AS amt_ratio,
        |    rank() OVER (PARTITION BY channel ORDER BY ret_qty / tot_qty DESC, item) AS qty_rank,
        |    rank() OVER (PARTITION BY channel ORDER BY ret_amt / tot_amt DESC, item) AS amt_rank
        |  FROM base)
        |SELECT channel, item,
        |  round(qty_ratio, 6) AS qty_ratio, round(amt_ratio, 6) AS amt_ratio,
        |  CAST(qty_rank AS BIGINT) AS qty_rank, CAST(amt_rank AS BIGINT) AS amt_rank
        |FROM ranked
        |WHERE qty_rank <= 10 OR amt_rank <= 10
        |ORDER BY channel, qty_rank, amt_rank, item""".stripMargin,

    "ds_q36_margin_rank" ->
      """WITH grain AS (
        |  SELECT p_type, p_brand,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS rev,
        |    SUM(CAST(l_quantity * 10.0 AS DECIMAL(38,6))) AS cost
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT p_type, p_brand,
        |    round(CAST(SUM(rev) - SUM(cost) AS DOUBLE) / CAST(SUM(rev) AS DOUBLE), 6) AS margin,
        |    CAST(grouping(p_type) + grouping(p_brand) AS BIGINT) AS lochierarchy
        |  FROM grain GROUP BY ROLLUP(p_type, p_brand))
        |SELECT lochierarchy, p_type, p_brand, margin,
        |  CAST(rank() OVER (
        |    PARTITION BY lochierarchy,
        |                 CASE WHEN lochierarchy = 1 THEN NULL ELSE p_type END
        |    ORDER BY margin, p_brand ASC NULLS FIRST, p_type ASC NULLS FIRST) AS BIGINT) AS rk
        |FROM m
        |ORDER BY lochierarchy DESC, p_type ASC NULLS FIRST, rk
        |LIMIT 200""".stripMargin,

    "ds_q93_net_after_returns" ->
      """WITH adj AS (
        |  SELECT l_orderkey AS a_orderkey,
        |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS returned_amt
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
        |c AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS gross,
        |    CAST(SUM(CAST(coalesce(returned_amt, 0.0) AS DECIMAL(38,6))) AS DOUBLE) AS returned
        |  FROM orders LEFT JOIN adj ON o_orderkey = a_orderkey
        |  GROUP BY 1)
        |SELECT o_custkey, round(gross, 4) AS gross, round(returned, 4) AS returned,
        |       round(gross - returned, 4) AS net
        |FROM c WHERE returned > 0
        |ORDER BY net DESC, o_custkey LIMIT 100""".stripMargin,

    "ds_q31_qoq_growth" ->
      """WITH q AS (
        |  SELECT c_nationkey AS nk, CAST(quarter(o_orderdate) AS BIGINT) AS qt,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE year(o_orderdate) = 1997
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT nk, qt AS q_from,
        |         lead(qt) OVER (PARTITION BY nk ORDER BY qt) AS next_qt,
        |         lead(rev) OVER (PARTITION BY nk ORDER BY qt) AS next_rev, rev
        |  FROM q)
        |SELECT nk, q_from, next_qt, round(next_rev / rev, 6) AS growth
        |FROM w WHERE next_rev IS NOT NULL AND rev > 0
        |ORDER BY nk, q_from""".stripMargin,

    "ds_q23_frequent_items" ->
      """WITH freq AS (
        |  SELECT l_partkey FROM lineitem
        |  GROUP BY l_partkey HAVING count(DISTINCT l_orderkey) > 4),
        |big_cust AS (
        |  SELECT o_custkey FROM orders
        |  GROUP BY o_custkey
        |  HAVING CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) > 400000.0)
        |SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_partkey IN (SELECT l_partkey FROM freq)
        |  AND o_custkey IN (SELECT o_custkey FROM big_cust)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "ds_q76_channel_union" ->
      s"""SELECT channel, CAST(yr AS BIGINT) AS yr,
         |       ${sqlSum("ext")} AS revenue, count(*) AS n_lines
         |FROM (
         |  SELECT 'returned' AS channel, year(o_orderdate) AS yr,
         |         l_extendedprice * (1.0 - l_discount) AS ext
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE l_returnflag = 'R'
         |  UNION ALL
         |  SELECT 'urgent_open', year(o_orderdate),
         |         l_extendedprice * (1.0 - l_discount)
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE l_returnflag <> 'R' AND o_orderpriority = '1-URGENT'
         |  UNION ALL
         |  SELECT 'normal', year(o_orderdate),
         |         l_extendedprice * (1.0 - l_discount)
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE l_returnflag <> 'R' AND o_orderpriority <> '1-URGENT') u
         |GROUP BY channel, yr
         |ORDER BY channel, yr""".stripMargin,

    "ds_q14_cross_items" ->
      """WITH cross_items AS (
        |  SELECT l_partkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderpriority = '1-URGENT'
        |  INTERSECT
        |  SELECT l_partkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderpriority = '2-HIGH'
        |  INTERSECT
        |  SELECT l_partkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderpriority = '3-MEDIUM')
        |SELECT p_brand,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE year(o_orderdate) = 1997
        |  AND l_partkey IN (SELECT l_partkey FROM cross_items)
        |GROUP BY p_brand
        |ORDER BY revenue DESC, p_brand LIMIT 100""".stripMargin,
  )
}
