package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Exact._

/** Round-8 TPC-DS batch 3 (SURVEY.md §2 DS41–DS45), adapting
  * apache-impala-4.1.0/testdata/workloads/tpcds/queries/
  * tpcds-q{32,61,81,2,44}.test onto the driver's star schema. Shapes
  * the first forty don't reach:
  *
  *  - q32/q92: "excess discount" — rows compared against a correlated
  *    per-part AVERAGE (the correlated-scalar-aggregate predicate);
  *  - q61:     promotional revenue SHARE per nation — Spark computes
  *    it in one conditional-aggregation pass, the oracle runs the
  *    literal two-aggregate join;
  *  - q81/q30: entities above 1.2× their GROUP's average (two-level
  *    aggregate: per-customer totals compared to the per-nation mean
  *    of those totals);
  *  - q2:      weekday PIVOT at (year, week) grain self-joined year
  *    over year — seven ratio columns from one base relation;
  *  - q44:     best AND worst performers — dual-direction ranking
  *    served by the bounded TopK aggregate instead of two global
  *    rank() windows over an unbounded grain.
  *
  * Exactness device for threshold predicates: discounts are exact
  * hundredths and money sums are exact DECIMAL(38,6) folds, so both
  * are lifted to BIGINT (cents / micros) and every comparison against
  * a scaled average is integer arithmetic — `x · n · 10 > sum · 13`
  * instead of `x > 1.3 · avg` — identical in any engine and any row
  * order. Ratio outputs use the q78 floored-basis-points device.
  *
  * Scale discipline: only fixed-cardinality dims (nation) broadcast;
  * the q32 correlated average becomes ONE window over the fact's
  * partkey shuffle (never a fact×fact rejoin); q81's window runs on
  * the per-customer AGGREGATE, not the fact; q44's global ranking is
  * an O(k)-memory TopK aggregate, not an unpartitioned window.
  */
object TpcdsQueries3 extends graft.QueryModule {

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
    // DS41 (q32/q92 shape): revenue from lineitems discounted MORE
    // than 1.3× their part's average discount. The literal form (the
    // oracle) evaluates a correlated scalar-average subquery per row;
    // here the per-part average arrives by ONE window over the fact's
    // partkey shuffle — no second fact scan, no fact×fact join.
    // Discounts are exact hundredths, so the predicate is integer:
    // cents · n_part · 10 > sum_cents · 13.
    "ds_q32_excess_discount" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
      t.lineitem
        .withColumn("disc_c", round(col("l_discount") * 100).cast("long"))
        .withColumn("sum_c", sum(col("disc_c")).over(w))
        .withColumn("cnt", count(lit(1)).over(w))
        .filter(col("disc_c") * col("cnt") * 10 > col("sum_c") * 13)
        .join(t.part, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(dsum(col("l_extendedprice")).as("excess_rev"),
          count(lit(1)).as("n_lines"))
        .orderBy("p_brand")
    }),

    // DS42 (q61 shape): promotional revenue share per nation. ONE
    // conditional-aggregation pass over the enriched fact; the oracle
    // is the literal q61 form — separate promo and total aggregates
    // joined on nation. Share in floored basis points (q78 device).
    "ds_q61_promo_share" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      // r17 input spread: the 4-way star probe + conditional decimal
      // sums otherwise run in the single scan task (one-row-group
      // input); interleaved A/B bench_control_r17_spread32.json
      t.lineitemSpread
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(t.part, col("l_partkey") === col("p_partkey"))
        .groupBy("n_name")
        .agg(
          dsum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))).as("promo_rev"),
          dsum(rev).as("total_rev"))
        .withColumn("promo_bp",
          floor(col("promo_rev") * 10000 / col("total_rev")).cast("long"))
        .orderBy("n_name")
    }),

    // DS43 (q81/q30 shape): customers whose returned revenue exceeds
    // 1.2× their nation's average returned revenue. Two levels: the
    // per-customer aggregate, then a window over NATION on that small
    // grain (never the fact). Integer-micros comparison:
    // ret · n_cust · 10 > nation_sum · 12.
    "ds_q81_high_returners" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("n_name")
      t.lineitem.filter(col("l_returnflag") === "R")
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "c_custkey", "c_name")
        .agg(micros(rev).as("ret_micros"))
        .withColumn("nat_sum", sum(col("ret_micros")).over(w))
        .withColumn("nat_cnt", count(lit(1)).over(w))
        .filter(col("ret_micros") * col("nat_cnt") * 10 > col("nat_sum") * 12)
        .select(col("n_name"), col("c_custkey"), col("c_name"), col("ret_micros"))
        .orderBy("n_name", "c_custkey")
    }),

    // DS44 (q2 shape): weekly revenue pivoted by weekday at the
    // (year, iso-week) grain, self-joined year over year; seven
    // floored-bp ratio columns. Weeks 2–51 only, so the ISO week and
    // the calendar year agree in every engine. dow is normalized to
    // DuckDB's 0=Sunday convention.
    "ds_q2_wow_pivot" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      // r16 input spread (Tables.lineitemSpread): the single-pass
      // conditional pivot aggregates the whole fact — interleaved A/B
      // 1.40× (bench_control_r16c.json); orders broadcasts and stays
      // bare.
      val base = t.lineitemSpread
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          weekofyear(col("o_orderdate")).cast("long").as("wk"),
          (dayofweek(col("o_orderdate")) - 1).as("dow"), rev.as("r"))
        .filter(col("wk").between(2, 51))
      val dowSums = (0 to 6).map(d =>
        dsum(when(col("dow") === d, col("r")).otherwise(lit(0.0))).as(s"d$d"))
      val grain = base.groupBy("yr", "wk").agg(dowSums.head, dowSums.tail: _*)
      // YoY through a lag window over the (small) grain instead of a
      // grain self-join — the self-join re-scans the fact twice; the
      // window reads it once (plan-audited). Current row = this year,
      // lag = last year; non-consecutive years filter out.
      val w = org.apache.spark.sql.expressions.Window.partitionBy("wk").orderBy("yr")
      val withPrev = (0 to 6).foldLeft(
          grain.withColumn("prev_yr", lag(col("yr"), 1).over(w)))(
          (df, d) => df.withColumn(s"ly_d$d", lag(col(s"d$d"), 1).over(w)))
        .filter(col("prev_yr") === col("yr") - 1)
      val ratios = (0 to 6).map(d =>
        when(col(s"ly_d$d") =!= 0.0,
          floor(col(s"d$d") * 10000 / col(s"ly_d$d")).cast("long")).as(s"r$d"))
      withPrev.select(Seq(col("wk"), col("prev_yr").as("yr")) ++ ratios: _*)
        .orderBy("yr", "wk")
    }),

    // DS45 (q44 shape): ten best AND ten worst parts by net revenue.
    // The literal form (oracle) ranks the whole part grain twice with
    // global windows; here both directions come from ONE bounded TopK
    // aggregate (O(k) memory, map-side partials) — the §5.11 device
    // that keeps an unbounded grain out of a single-task window.
    "ds_q44_best_worst" -> ((spark, dir) => {
      import graft.functions.TopK.topk
      val t = Tables(spark, dir)
      val grain = t.lineitem.groupBy(col("l_partkey").as("pk"))
        .agg(dsum(rev).as("nrev"))
      val both = grain.agg(
        topk(col("nrev"), col("pk"), 10).as("best"),
        topk(-col("nrev"), col("pk"), 10).as("worst"))
      val best = both.select(posexplode(col("best")).as(Seq("p", "e")))
        .select(lit("best").as("side"), (col("p") + 1).cast("long").as("rnk"),
          col("e.key").as("pk"), col("e.score").as("nrev"))
      val worst = both.select(posexplode(col("worst")).as(Seq("p", "e")))
        .select(lit("worst").as("side"), (col("p") + 1).cast("long").as("rnk"),
          col("e.key").as("pk"), (-col("e.score")).as("nrev"))
      best.unionAll(worst).orderBy("side", "rnk")
    }),

    // DS46 (q38 shape): customers active in ALL THREE years. The
    // literal form (oracle) chains two INTERSECTs over DISTINCT key
    // sets; here the three memberships are boolean flags from ONE
    // orders pass — no set materialization, no repeated scans.
    "ds_q38_customer_overlap" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.groupBy("o_custkey")
        .agg(max(when(year(col("o_orderdate")) === 1995, 1).otherwise(0)).as("y95"),
          max(when(year(col("o_orderdate")) === 1996, 1).otherwise(0)).as("y96"),
          max(when(year(col("o_orderdate")) === 1997, 1).otherwise(0)).as("y97"))
        .filter(col("y95") === 1 && col("y96") === 1 && col("y97") === 1)
        .agg(count(lit(1)).as("n_customers"))
    }),

    // DS47 (q87 shape): the EXCEPT twin — active in 1995 but in
    // neither later year. Same one-pass flags vs the literal
    // EXCEPT-chain oracle.
    "ds_q87_customer_except" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.groupBy("o_custkey")
        .agg(max(when(year(col("o_orderdate")) === 1995, 1).otherwise(0)).as("y95"),
          max(when(year(col("o_orderdate")) === 1996, 1).otherwise(0)).as("y96"),
          max(when(year(col("o_orderdate")) === 1997, 1).otherwise(0)).as("y97"))
        .filter(col("y95") === 1 && col("y96") === 0 && col("y97") === 0)
        .agg(count(lit(1)).as("n_customers"))
    }),

    // DS48 (q54 shape): histogram OF AN AGGREGATE — per-customer 1996
    // revenue bucketed into fixed $5000 segments, customers counted
    // per segment. The segment boundary divides an EXACT decimal sum,
    // so the bucket id is engine-identical.
    "ds_q54_revenue_segments" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem
        .join(t.orders.filter(year(col("o_orderdate")) === 1996),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(dsum(rev).as("crev"))
        .groupBy(floor(col("crev") / 5000).cast("long").as("segment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("segment")
    }),

    // DS50 (q33/q56/q60 shape): the union-of-three-aggregates battery —
    // the literal form (oracle) computes one aggregate PER item class
    // and re-aggregates their union; here one conditional pass with an
    // IN-filter produces the same totals from a single fact scan.
    "ds_q33_class_union" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem
        .join(t.part.filter(col("p_type").isin("PROMO", "ECONOMY", "LARGE")),
          col("l_partkey") === col("p_partkey"))
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum(rev).as("total_rev"), count(lit(1)).as("n_lines"))
        .orderBy("n_name")
    }),

    // DS49 (q94 shape): orders with a shipped ('F') line and NO
    // returned line — EXISTS and NOT EXISTS against the same fact in
    // one statement. The literal form (oracle) runs both subqueries;
    // here one lineitem pass folds both memberships per order, then
    // the orders join filters on the pair.
    "ds_q94_unreturned_orders" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val flags = t.lineitem.groupBy(col("l_orderkey").as("ok"))
        .agg(max(when(col("l_linestatus") === "F", 1).otherwise(0)).as("has_f"),
          max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("has_r"))
        .filter(col("has_f") === 1 && col("has_r") === 0)
      t.orders.join(flags, col("o_orderkey") === col("ok"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderpriority")
    }))

  val oracles: Map[String, String] = Map(
    "ds_q32_excess_discount" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS excess_rev,
        |  COUNT(*) AS n_lines
        |FROM lineitem l JOIN part ON l_partkey = p_partkey
        |WHERE CAST(round(l_discount * 100) AS BIGINT)
        |        * (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey) * 10
        |      > (SELECT SUM(CAST(round(l_discount * 100) AS BIGINT))
        |         FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey) * 13
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,

    "ds_q61_promo_share" ->
      """WITH promo AS (
        |  SELECT n_name, CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS promo_rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation ON c_nationkey = n_nationkey
        |    JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'PROMO'
        |  GROUP BY n_name),
        |total AS (
        |  SELECT n_name, CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS total_rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name)
        |SELECT t.n_name, COALESCE(p.promo_rev, 0.0) AS promo_rev, t.total_rev,
        |  CAST(floor(COALESCE(p.promo_rev, 0.0) * 10000 / t.total_rev) AS BIGINT) AS promo_bp
        |FROM total t LEFT JOIN promo p ON t.n_name = p.n_name
        |ORDER BY t.n_name""".stripMargin,

    "ds_q81_high_returners" ->
      s"""WITH ret AS (
        |  SELECT n_name, c_custkey, c_name,
        |    ${sqlMicros("l_extendedprice * (1.0 - l_discount)")} AS ret_micros
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation ON c_nationkey = n_nationkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY n_name, c_custkey, c_name)
        |SELECT n_name, c_custkey, c_name, ret_micros
        |FROM ret r
        |WHERE ret_micros
        |        * (SELECT COUNT(*) FROM ret r2 WHERE r2.n_name = r.n_name) * 10
        |      > (SELECT SUM(ret_micros) FROM ret r2 WHERE r2.n_name = r.n_name) * 12
        |ORDER BY n_name, c_custkey""".stripMargin,

    "ds_q2_wow_pivot" -> {
      val sums = (0 to 6).map(d =>
        s"${Exact.sqlSum(s"CASE WHEN dow = $d THEN r ELSE 0.0 END")} AS d$d").mkString(",\n    ")
      val ratios = (0 to 6).map(d =>
        s"CASE WHEN ly.d$d <> 0.0 THEN CAST(floor(ty.d$d * 10000 / ly.d$d) AS BIGINT) END AS r$d")
        .mkString(",\n  ")
      s"""WITH base AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |         CAST(weekofyear(o_orderdate) AS BIGINT) AS wk,
        |         dayofweek(o_orderdate) AS dow,
        |         l_extendedprice * (1.0 - l_discount) AS r
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE weekofyear(o_orderdate) BETWEEN 2 AND 51),
        |grain AS (
        |  SELECT yr, wk,
        |    $sums
        |  FROM base GROUP BY yr, wk)
        |SELECT ly.wk, ly.yr,
        |  $ratios
        |FROM grain ly JOIN grain ty ON ty.wk = ly.wk AND ty.yr = ly.yr + 1
        |ORDER BY ly.yr, ly.wk""".stripMargin
    },

    "ds_q38_customer_overlap" ->
      """SELECT count(*) AS n_customers FROM (
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |  INTERSECT
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |  INTERSECT
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)""".stripMargin,

    "ds_q87_customer_except" ->
      """SELECT count(*) AS n_customers FROM (
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |  EXCEPT
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |  EXCEPT
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)""".stripMargin,

    "ds_q54_revenue_segments" ->
      s"""WITH crev AS (
        |  SELECT o_custkey,
        |    ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS crev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE year(o_orderdate) = 1996
        |  GROUP BY o_custkey)
        |SELECT CAST(floor(crev / 5000) AS BIGINT) AS segment,
        |  count(*) AS n_customers
        |FROM crev GROUP BY 1 ORDER BY 1""".stripMargin,

    "ds_q33_class_union" -> {
      def one(ptype: String) =
        s"""SELECT n_name,
           |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS r,
           |    count(*) AS c
           |  FROM lineitem JOIN part ON l_partkey = p_partkey
           |    JOIN orders ON l_orderkey = o_orderkey
           |    JOIN customer ON o_custkey = c_custkey
           |    JOIN nation ON c_nationkey = n_nationkey
           |  WHERE p_type = '$ptype' GROUP BY n_name""".stripMargin
      s"""WITH u AS (
         |${one("PROMO")}
         |UNION ALL
         |${one("ECONOMY")}
         |UNION ALL
         |${one("LARGE")})
         |SELECT n_name, CAST(SUM(r) AS DOUBLE) AS total_rev,
         |  CAST(SUM(c) AS BIGINT) AS n_lines
         |FROM u GROUP BY n_name ORDER BY n_name""".stripMargin
    },

    "ds_q94_unreturned_orders" ->
      s"""SELECT o_orderpriority, count(*) AS n_orders,
        |  ${Exact.sqlSum("o_totalprice")} AS total_price
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_linestatus = 'F')
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "ds_q44_best_worst" ->
      """WITH grain AS (
        |  SELECT l_partkey AS pk,
        |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS nrev
        |  FROM lineitem GROUP BY l_partkey),
        |r AS (
        |  SELECT pk, nrev,
        |    row_number() OVER (ORDER BY nrev DESC, pk) AS rb,
        |    row_number() OVER (ORDER BY nrev ASC, pk) AS rw
        |  FROM grain)
        |SELECT 'best' AS side, rb AS rnk, pk, nrev FROM r WHERE rb <= 10
        |UNION ALL
        |SELECT 'worst' AS side, rw AS rnk, pk, nrev FROM r WHERE rw <= 10
        |ORDER BY side, rnk""".stripMargin)
}
