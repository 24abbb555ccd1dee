package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Exact._

/** Round-8 TPC-DS-derived shapes (SURVEY.md §2 DS31–DS35), continuing
  * the adaptation of apache-impala-4.1.0/testdata/workloads/tpcds/
  * queries/tpcds-q{5,17,65,75,97}.test onto the driver's star schema.
  * Shapes this batch adds that the first thirty don't reach:
  *
  *  - q5:  a sales∪returns channel union rolled up with profit
  *         (negative-measure union + ROLLUP over the pre-aggregated
  *         grain, §5.9 — Expand multiplies a 50-row grain, not 6M
  *         fact rows);
  *  - q17: a bought→returned→re-bought three-scan fact chain whose
  *         OUTPUT is distribution statistics (exact-decimal mean /
  *         sample stdev / coefficient of variation per brand);
  *  - q65: a two-level aggregate self-comparison (per (supp,part)
  *         revenue joined against its per-supplier mean) selecting
  *         under-performing pairs;
  *  - q75: a prior-period self-join at (year, part) grain with a
  *         decline predicate and multi-measure deltas;
  *  - q97: distinct-pair set overlap between two channels through one
  *         FULL OUTER join reduced to a single three-counter row.
  *
  * Scale discipline unchanged: only fixed-cardinality dims broadcast,
  * fact↔fact joins shuffle on their keys, every money/qty sum is an
  * exact DECIMAL(38,6) fold so results are shuffle-order independent.
  */
object TpcdsQueries2 extends graft.QueryModule {

  private val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
  private val D = org.apache.spark.sql.types.DecimalType(38, 6)

  val queries: Map[String, Q] = Map(
    // DS31 (q5 shape): channel activity report. Sales rows contribute
    // revenue, returned rows contribute a loss; both flow through ONE
    // union-tagged pass, pre-aggregated at (channel, nation) grain
    // before the ROLLUP so Expand runs on ≤ 2·25 rows.
    "ds_q5_channel_rollup" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      // r17: input spread measured and REJECTED — interleaved A/B at
      // cpus=32 lost 0.83× (bench_control_r17_batch32.json): the extra
      // full-fact exchange costs more than the parallel conditional
      // folds win back once the dims broadcast. Bare scan stays.
      val base = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .select(
          when(col("l_linestatus") === "O", "web").otherwise("store").as("channel"),
          col("n_name"),
          when(col("l_returnflag") =!= "R", rev).otherwise(lit(0.0)).as("sales"),
          when(col("l_returnflag") === "R", rev).otherwise(lit(0.0)).as("returns_amt"))
      val grain = base.groupBy(col("channel"), col("n_name"))
        .agg(sum(col("sales").cast(D)).as("ss"),
          sum(col("returns_amt").cast(D)).as("sr"))
      grain.rollup(col("channel"), col("n_name"))
        .agg(sum(col("ss")).cast("double").as("sales"),
          sum(col("sr")).cast("double").as("returns_amt"),
          (sum(col("ss")) - sum(col("sr"))).cast("double").as("profit"))
        .select(coalesce(col("channel"), lit("ALL")).as("channel"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("sales"), col("returns_amt"), col("profit"))
        .orderBy("channel", "nation")
    }),

    // DS32 (q17 shape): the bought→returned→re-bought chain, reported
    // as per-brand quantity DISTRIBUTION stats. The literal form
    // (oracle) scans the fact twice and joins the return aggregate
    // back; here the first-return date arrives by a min-window over
    // the (customer, part) grain — ONE fact pass, one shuffle, the
    // q65/q75 rewrite device. Mean and stdev are derived from exact
    // decimal S1/S2 power sums (one double sqrt at the end), so the
    // hash-aggregation order can't move the result.
    "ds_q17_stats_chain" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("ck", "pk")
      // r17: input spread measured and REJECTED — interleaved A/B at
      // cpus=32 lost 0.76× (bench_control_r17_batch32.json): the
      // window's own (ck, pk) exchange redistributes anyway, so the
      // spread only adds a second full-fact hop. Bare scan stays.
      val chain = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("ck"), col("l_partkey").as("pk"),
          col("l_quantity").as("qty"), col("o_orderdate").as("od"),
          col("l_returnflag").as("flag"))
        .withColumn("first_ret", min(when(col("flag") === "R", col("od"))).over(w))
        .filter(col("flag") =!= "R" && col("od") > col("first_ret"))
      chain.join(t.part, col("pk") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          sum(col("qty").cast(D)).as("s1"),
          sum((col("qty") * col("qty")).cast(D)).as("s2"))
        .filter(col("n") >= 3)
        .select(col("p_brand"), col("n"),
          (col("s1").cast("double") / col("n").cast("double")).as("mean_qty"),
          sqrt((col("s2").cast("double") - col("s1").cast("double") * col("s1").cast("double") / col("n").cast("double")) /
            (col("n").cast("double") - 1.0)).as("stdev_qty"))
        .withColumn("cov_bp",
          floor(col("stdev_qty") * 10000.0 / col("mean_qty")).cast("long"))
        .orderBy("p_brand")
    }),

    // DS33 (q65 shape): under-performing (supplier, part) pairs — pair
    // revenue at or below half the supplier's mean pair revenue. The
    // literal form (oracle) is a per-supplier aggregate self-joined
    // back; here the mean comes from a window PARTITIONed by supplier
    // over the pair grain — ONE extra shuffle on sk instead of
    // re-aggregating and re-joining the same subtree (the fact is
    // scanned once; per-supplier partitions are bounded by |part|).
    "ds_q65_cheap_items" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("sk")
      // r17 input spread: the pair-grain partial aggregate over the
      // whole fact otherwise runs in the single scan task; interleaved
      // A/B bench_control_r17_spread32.json
      t.lineitemSpread
        .groupBy(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
        .agg(sum(rev.cast(D)).as("prev"))
        .withColumn("avg_rev", sum(col("prev")).over(w).cast("double") / count(lit(1)).over(w))
        .filter(col("prev").cast("double") <= col("avg_rev") * 0.5)
        .join(t.supplier, col("sk") === col("s_suppkey"))
        .join(t.part, col("pk") === col("p_partkey"))
        .select(col("s_name"), col("p_name"),
          col("prev").cast("double").as("pair_rev"), col("avg_rev"))
        .orderBy("s_name", "p_name")
    }),

    // DS34 (q75 shape): items whose shipped quantity DECLINED year over
    // year, with quantity and revenue deltas. The literal form (oracle)
    // self-joins the (year, part) aggregate on year-1; here the prior
    // year arrives by lag() over a window PARTITIONed by part — one
    // shuffle on pk replaces re-aggregating the fact and a join, and a
    // lag(yr) guard keeps only CONSECUTIVE year pairs (exactly the
    // self-join's equi-condition). Same device as ds_q31's lead().
    "ds_q75_yoy_decline" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("pk").orderBy("yr")
      // r16 input spread (Tables.lineitemSpread): the (year, part)
      // grain aggregates the whole fact — interleaved A/B 1.10× with
      // min-times 1.95→1.48 s (bench_control_r16b.json); orders
      // broadcasts and stays bare.
      t.lineitemSpread
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"), col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity").cast(D)).as("cq"), sum(rev.cast(D)).as("ca"))
        .withColumn("pq", lag(col("cq"), 1).over(w))
        .withColumn("pa", lag(col("ca"), 1).over(w))
        .withColumn("pyr", lag(col("yr"), 1).over(w))
        .filter(col("pyr") === col("yr") - 1 && col("cq") < col("pq"))
        .select(col("yr"), col("pk"),
          col("pq").cast("double").as("prev_qty"), col("cq").cast("double").as("curr_qty"),
          (col("cq") - col("pq")).cast("double").as("qty_delta"),
          (col("ca") - col("pa")).cast("double").as("amt_delta"))
        .orderBy(col("qty_delta"), col("yr"), col("pk"))
        .limit(100)
    }),

    // DS36 (q6 shape): items priced >= 1.2x their type's average, and
    // who buys them. The per-type average comes from a window over the
    // part DIMENSION (never the fact); the 20% markup comparison uses
    // the identical double formula in both engines.
    "ds_q6_above_avg_price" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("p_type")
      val pricey = t.part
        .withColumn("avg_price",
          sum(col("p_retailprice").cast(D)).over(w).cast("double") / count(lit(1)).over(w))
        .filter(col("p_retailprice") * 10.0 >= col("avg_price") * 12.0)
        .select(col("p_partkey"), col("p_type"))
      t.lineitem
        .join(pricey, col("l_partkey") === col("p_partkey"))
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_lines"),
          countDistinct(col("c_custkey")).as("n_cust"))
        .filter(col("n_lines") >= 10)
        .orderBy("c_nationkey")
    }),

    // DS37 (q9 shape): five quantity-band statistics. The literal form
    // (oracle) runs five scalar-subquery scans; here ONE conditional-
    // aggregation pass over the fact produces all bands — the q88/q58
    // single-scan device applied to q9's band battery.
    "ds_q9_quantity_buckets" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem
        .groupBy(((col("l_quantity").cast("long") - 1) / lit(10L)).cast("long").as("band"))
        .agg(count(lit(1)).as("n"),
          davg(col("l_extendedprice")).as("avg_price"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .filter(col("band").between(0, 4))
        .orderBy("band")
    }),

    // DS38 (q62 shape): shipping-latency buckets per order priority —
    // days between order and ship date CASE-banded in one fact pass
    // (the reference's q62 warehouse/ship-mode axes map onto priority).
    "ds_q62_ship_latency" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val lat = datediff(col("l_shipdate"), col("o_orderdate"))
      t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_total"),
          sum(when(lat <= 30, 1L).otherwise(0L)).as("d30"),
          sum(when(lat > 30 && lat <= 60, 1L).otherwise(0L)).as("d60"),
          sum(when(lat > 60 && lat <= 90, 1L).otherwise(0L)).as("d90"),
          sum(when(lat > 90, 1L).otherwise(0L)).as("d90plus"))
        .orderBy("o_orderpriority")
    }),

    // DS39 (q90 shape): morning/evening activity ratio per event type
    // over the events stream table — hour from the bigint-nanos ts via
    // the suite's `ts div 1e9` seconds contract, ratio in floored
    // basis points (IEEE divide+floor is engine-exact).
    "ds_q90_time_ratio" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val hr = expr("(ts div 1000000000) div 3600 % 24")
      t.events
        .groupBy("event_type")
        .agg(sum(when(hr >= 6 && hr <= 11, 1L).otherwise(0L)).as("n_am"),
          sum(when(hr >= 18 && hr <= 23, 1L).otherwise(0L)).as("n_pm"))
        .filter(col("n_pm") > 0)
        .withColumn("am_pm_bp",
          floor(col("n_am").cast("double") * 10000.0 / col("n_pm").cast("double")).cast("long"))
        .orderBy("event_type")
    }),

    // DS40 (q85 shape): returned-line profile over customer demographic
    // bands — segment x account-balance band, quantity and refund
    // statistics per band combo, one fact pass.
    "ds_q85_return_profile" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val band = when(col("c_acctbal") < 0, "negative")
        .when(col("c_acctbal") < 5000, "low").otherwise("high")
      t.lineitem.filter(col("l_returnflag") === "R")
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), band.as("bal_band"))
        .agg(count(lit(1)).as("n"),
          davg(col("l_quantity")).as("avg_qty"),
          dsum(rev).as("refund"))
        .orderBy("c_mktsegment", "bal_band")
    }),

    // DS35 (q97 shape): customer-part purchase-set overlap between the
    // two line-status channels. DISTINCT pair sets on each side, ONE
    // full-outer equi-join, reduced to a single three-counter row.
    "ds_q97_purchase_overlap" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val pairs = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      val web = pairs.filter(col("l_linestatus") === "O")
        .select(col("o_custkey").as("ck"), col("l_partkey").as("pk")).distinct()
        .withColumn("w", lit(1))
      val store = pairs.filter(col("l_linestatus") === "F")
        .select(col("o_custkey").as("ck"), col("l_partkey").as("pk")).distinct()
        .withColumn("s", lit(1))
      web.join(store, Seq("ck", "pk"), "full_outer")
        .agg(
          sum(when(col("w").isNotNull && col("s").isNotNull, 1L).otherwise(0L)).as("both_channels"),
          sum(when(col("w").isNotNull && col("s").isNull, 1L).otherwise(0L)).as("web_only"),
          sum(when(col("w").isNull && col("s").isNotNull, 1L).otherwise(0L)).as("store_only"))
    }),
  )

  val oracles: Map[String, String] = Map(
    "ds_q5_channel_rollup" ->
      s"""WITH base AS (
         |  SELECT CASE WHEN l_linestatus = 'O' THEN 'web' ELSE 'store' END AS channel,
         |         n_name,
         |         CASE WHEN l_returnflag <> 'R'
         |              THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS sales,
         |         CASE WHEN l_returnflag = 'R'
         |              THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS returns_amt
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey)
         |SELECT coalesce(channel, 'ALL') AS channel, coalesce(n_name, 'ALL') AS nation,
         |  ${sqlSum("sales")} AS sales,
         |  ${sqlSum("returns_amt")} AS returns_amt,
         |  CAST(SUM(CAST(sales AS DECIMAL(38,6))) - SUM(CAST(returns_amt AS DECIMAL(38,6))) AS DOUBLE) AS profit
         |FROM base
         |GROUP BY ROLLUP (channel, n_name)
         |ORDER BY 1, 2""".stripMargin,

    "ds_q17_stats_chain" ->
      """WITH sold AS (
        |  SELECT o_custkey AS ck, l_partkey AS pk, l_quantity AS qty, o_orderdate AS od
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag <> 'R'),
        |ret AS (
        |  SELECT o_custkey AS ck, l_partkey AS pk, min(o_orderdate) AS first_ret
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R' GROUP BY 1, 2),
        |chain AS (
        |  SELECT sold.pk, sold.qty FROM sold JOIN ret USING (ck, pk)
        |  WHERE sold.od > ret.first_ret),
        |agg AS (
        |  SELECT p_brand, count(*)::BIGINT AS n,
        |         SUM(CAST(qty AS DECIMAL(38,6))) AS s1,
        |         SUM(CAST(qty * qty AS DECIMAL(38,6))) AS s2
        |  FROM chain JOIN part ON pk = p_partkey
        |  GROUP BY p_brand HAVING count(*) >= 3)
        |SELECT p_brand, n,
        |  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_qty,
        |  sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |       / (CAST(n AS DOUBLE) - 1.0)) AS stdev_qty,
        |  CAST(floor(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |       / (CAST(n AS DOUBLE) - 1.0)) * 10000.0 / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT) AS cov_bp
        |FROM agg ORDER BY p_brand""".stripMargin,

    "ds_q65_cheap_items" ->
      """WITH pair_rev AS (
        |  SELECT l_suppkey AS sk, l_partkey AS pk,
        |         SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS prev
        |  FROM lineitem GROUP BY 1, 2),
        |sa AS (
        |  SELECT sk, CAST(SUM(prev) AS DOUBLE) / count(*) AS avg_rev
        |  FROM pair_rev GROUP BY sk)
        |SELECT s_name, p_name, CAST(prev AS DOUBLE) AS pair_rev, avg_rev
        |FROM pair_rev
        |JOIN sa USING (sk)
        |JOIN supplier ON sk = s_suppkey
        |JOIN part ON pk = p_partkey
        |WHERE CAST(prev AS DOUBLE) <= avg_rev * 0.5
        |ORDER BY s_name, p_name""".stripMargin,

    "ds_q75_yoy_decline" ->
      """WITH by_year AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, l_partkey AS pk,
        |         SUM(CAST(l_quantity AS DECIMAL(38,6))) AS qty,
        |         SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS amt
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2)
        |SELECT c.yr, c.pk,
        |  CAST(p.qty AS DOUBLE) AS prev_qty, CAST(c.qty AS DOUBLE) AS curr_qty,
        |  CAST(c.qty - p.qty AS DOUBLE) AS qty_delta,
        |  CAST(c.amt - p.amt AS DOUBLE) AS amt_delta
        |FROM by_year c JOIN by_year p ON c.yr = p.yr + 1 AND c.pk = p.pk
        |WHERE c.qty < p.qty
        |ORDER BY qty_delta, c.yr, c.pk
        |LIMIT 100""".stripMargin,

    "ds_q6_above_avg_price" ->
      """WITH pavg AS (
        |  SELECT p_partkey, p_type, p_retailprice,
        |         CAST(SUM(CAST(p_retailprice AS DECIMAL(38,6))) OVER (PARTITION BY p_type) AS DOUBLE)
        |           / COUNT(*) OVER (PARTITION BY p_type) AS avg_price
        |  FROM part),
        |pricey AS (
        |  SELECT p_partkey FROM pavg WHERE p_retailprice * 10.0 >= avg_price * 12.0)
        |SELECT c_nationkey, count(*)::BIGINT AS n_lines,
        |       count(DISTINCT c_custkey)::BIGINT AS n_cust
        |FROM lineitem
        |JOIN pricey ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey HAVING count(*) >= 10
        |ORDER BY c_nationkey""".stripMargin,

    // literal q9 form: five band scans UNION ALL'd — proves the
    // single-pass conditional-aggregation rewrite equivalent
    "ds_q9_quantity_buckets" -> (0 to 4).map { b =>
      s"""SELECT ${b}::BIGINT AS band, count(*)::BIGINT AS n,
         |  ${sqlAvg("l_extendedprice")} AS avg_price,
         |  ${sqlSum("l_extendedprice")} AS sum_price
         |FROM lineitem
         |WHERE CAST(l_quantity AS BIGINT) BETWEEN ${b * 10 + 1} AND ${b * 10 + 10}""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY band"),

    "ds_q62_ship_latency" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_total,
        |  sum(CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 1 ELSE 0 END)::BIGINT AS d30,
        |  sum(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 30
        |            AND date_diff('day', o_orderdate, l_shipdate) <= 60 THEN 1 ELSE 0 END)::BIGINT AS d60,
        |  sum(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60
        |            AND date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 1 ELSE 0 END)::BIGINT AS d90,
        |  sum(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90 THEN 1 ELSE 0 END)::BIGINT AS d90plus
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "ds_q90_time_ratio" ->
      """WITH h AS (
        |  SELECT event_type,
        |         (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600) % 24 AS hr
        |  FROM events),
        |agg AS (
        |  SELECT event_type,
        |    sum(CASE WHEN hr BETWEEN 6 AND 11 THEN 1 ELSE 0 END)::BIGINT AS n_am,
        |    sum(CASE WHEN hr BETWEEN 18 AND 23 THEN 1 ELSE 0 END)::BIGINT AS n_pm
        |  FROM h GROUP BY event_type)
        |SELECT event_type, n_am, n_pm,
        |  CAST(floor(CAST(n_am AS DOUBLE) * 10000.0 / CAST(n_pm AS DOUBLE)) AS BIGINT) AS am_pm_bp
        |FROM agg WHERE n_pm > 0
        |ORDER BY event_type""".stripMargin,

    "ds_q85_return_profile" ->
      s"""SELECT c_mktsegment,
         |  CASE WHEN c_acctbal < 0 THEN 'negative'
         |       WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_band,
         |  count(*)::BIGINT AS n,
         |  ${sqlAvg("l_quantity")} AS avg_qty,
         |  ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS refund
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE l_returnflag = 'R'
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,

    "ds_q97_purchase_overlap" ->
      """WITH web AS (
        |  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_linestatus = 'O'),
        |store AS (
        |  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_linestatus = 'F')
        |SELECT
        |  CAST(sum(CASE WHEN w.ck IS NOT NULL AND s.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS both_channels,
        |  CAST(sum(CASE WHEN w.ck IS NOT NULL AND s.ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS web_only,
        |  CAST(sum(CASE WHEN w.ck IS NULL AND s.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS store_only
        |FROM web w FULL OUTER JOIN store s ON w.ck = s.ck AND w.pk = s.pk""".stripMargin,
  )
}
