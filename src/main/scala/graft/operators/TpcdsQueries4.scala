package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Exact._

/** Round-10 TPC-DS batch 5 (SURVEY.md §2 DS51–DS57), adapting
  * apache-impala-4.1.0/testdata/workloads/tpcds/queries/
  * tpcds-q{13,21,28,37,40,43,91}.test onto the driver's star schema.
  * Shapes the first fifty don't reach:
  *
  *  - q13:  averages under DISJUNCTIVE multi-column arms — three
  *    (segment × quantity-band × discount-band) OR arms feeding one
  *    global aggregate;
  *  - q21:  before/after-pivot quantity ratio per supplier with a
  *    BOUNDED-RATIO having clause (2/3 ≤ after/before ≤ 3/2);
  *  - q28:  six independent per-band scalar aggregates (count / avg /
  *    distinct count) assembled into ONE row — the literal form is six
  *    scalar subqueries CROSS JOINed, the Spark form one conditional
  *    pass;
  *  - q37:  selective DIM-side band (price band + size IN list) with a
  *    date-window fact filter — the filtered dim broadcasts;
  *  - q40:  before/after net revenue with RETURNS SUBTRACTED (the
  *    catalog_sales − catalog_returns netting) per nation;
  *  - q43:  weekday revenue pivot (sun..sat columns) per nation from
  *    one conditional-aggregation pass;
  *  - q91:  month-over-month returned-revenue DELTA per segment — a
  *    lag window on the aggregate grain, never the fact.
  *
  * Exactness: money folds to DECIMAL(38,6) then integer micros
  * (`micros`); averages are floor(micros_sum / count) so every engine
  * computes the identical integer; ratio bounds are cross-multiplied
  * integer comparisons (never floating division); quantities are
  * whole numbers lifted to BIGINT.
  *
  * Scale discipline: every shape is ONE pass over the enriched fact
  * (conditional aggregation instead of the literal self-joins /
  * repeated subquery scans); only bounded dims (nation) and FILTERED
  * selective dims (q37's price-band parts) broadcast; the q91 window
  * runs on the (segment × month) aggregate grain, not the fact.
  */
object TpcdsQueries4 extends graft.QueryModule {

  private val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  val queries: Map[String, Q] = Map(
    // DS51 (q13 shape): one global average row under three disjunctive
    // (segment × quantity band × discount band) arms. The literal form
    // repeats the arm predicate per aggregate; both engines floor the
    // average at integer micros so the single output row is exact.
    "ds_q13_band_averages" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val arm1 = col("c_mktsegment") === "BUILDING" &&
        col("l_quantity").between(1, 10) && col("l_discount").between(0.00, 0.02)
      val arm2 = col("c_mktsegment") === "AUTOMOBILE" &&
        col("l_quantity").between(11, 20) && col("l_discount").between(0.03, 0.05)
      val arm3 = col("c_mktsegment") === "MACHINERY" &&
        col("l_quantity").between(21, 30) && col("l_discount").between(0.06, 0.08)
      t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .filter(arm1 || arm2 || arm3)
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          micros(col("l_extendedprice")).as("price_micros"))
        .select(col("n"), col("sum_qty"),
          floor(col("sum_qty") * 1000000 / col("n")).cast("long").as("avg_qty_micros"),
          floor(col("price_micros") / col("n")).cast("long").as("avg_price_micros"))
    }),

    // DS52 (q21 shape): suppliers whose shipped quantity before vs
    // on/after the 1997-01-01 pivot stays within the bounded ratio
    // 2/3 ≤ after/before ≤ 3/2 — cross-multiplied integer comparison,
    // no division. The aggregate runs on the bare fact keyed by
    // l_suppkey; the supplier name join happens on the (small)
    // surviving aggregate.
    "ds_q21_backlog_ratio" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val before = col("l_shipdate") < lit("1997-01-01").cast("date")
      t.lineitem
        .groupBy("l_suppkey")
        .agg(sum(when(before, col("l_quantity").cast("long")).otherwise(0L)).as("qty_before"),
          sum(when(!before, col("l_quantity").cast("long")).otherwise(0L)).as("qty_after"))
        .filter(col("qty_before") > 0 && col("qty_after") > 0 &&
          col("qty_after") * 3 >= col("qty_before") * 2 &&
          col("qty_after") * 2 <= col("qty_before") * 3)
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("qty_before"), col("qty_after"))
        .orderBy("s_name")
    }),

    // DS53 (q28 shape): six quantity bands, each contributing a count,
    // a floored-micros average price, and a distinct-price count, all
    // in ONE output row. The literal form is six scalar subqueries
    // CROSS JOINed (the oracle runs exactly that). The Spark form
    // pre-aggregates on the (band, price) GRAIN first — six
    // count-DISTINCTs on different filters of one fact would otherwise
    // Expand the 6M-row scan 7× (measured 4.5 s vs this plan; the
    // §5-rule pre-aggregate-before-Expand discipline) — then folds the
    // six band rows into the single output row with conditional firsts.
    "ds_q28_band_stats" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val grain = t.lineitem
        .filter(col("l_quantity").between(1, 30))
        .groupBy(floor((col("l_quantity") - 1) / 5).cast("int").as("band"),
          col("l_extendedprice"))
        .agg(count(lit(1)).as("cnt"))
      val byBand = grain.groupBy("band")
        .agg(sum(col("cnt")).as("n"),
          (sum(col("l_extendedprice").cast(D) * col("cnt")) * 1000000)
            .cast("long").as("price_micros"),
          count(lit(1)).as("nd"))
      val aggs = (0 until 6).flatMap { i =>
        Seq(
          sum(when(col("band") === i, col("n")).otherwise(0L)).as(s"cnt_b$i"),
          floor(sum(when(col("band") === i, col("price_micros")).otherwise(0L)) /
            sum(when(col("band") === i, col("n")).otherwise(0L)))
            .cast("long").as(s"avg_b$i"),
          sum(when(col("band") === i, col("nd")).otherwise(0L)).as(s"nd_b$i"))
      }
      byBand.agg(aggs.head, aggs.tail: _*)
    }),

    // DS54 (q37 shape): selective dim-side band — parts in a retail
    // price band AND a size IN-list — against a 90-day ship window on
    // the fact. NO broadcast hint: the filtered dim is a constant
    // FRACTION of part, which grows with the corpus (the §5 hint rule —
    // a hint overrides AQE unconditionally and becomes the 100 TB
    // hazard); AQE's size estimate broadcasts it while it fits and
    // degrades to a shuffle join when it doesn't.
    "ds_q37_partband_window" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val dim = t.part.filter(col("p_retailprice").between(1200, 1500) &&
        col("p_size").isin(5, 10, 15, 20, 25))
      t.lineitem
        .filter(col("l_shipdate").between(
          lit("1996-03-01").cast("date"), lit("1996-05-29").cast("date")))
        .join(dim, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_lines"),
          micros(rev).as("rev_micros"),
          min(col("p_retailprice")).as("min_price"))
        .orderBy("p_brand")
    }),

    // DS55 (q40 shape): before/after-pivot NET revenue per supplier
    // nation, returns subtracted — returned rows ('R') contribute
    // negatively, the catalog_sales − catalog_returns netting in one
    // conditional pass instead of the literal outer join to a returns
    // table.
    "ds_q40_returns_netting" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val before = col("l_shipdate") < lit("1997-01-01").cast("date")
      val signed = when(col("l_returnflag") === "R", -rev).otherwise(rev)
      // r17: input spread measured and REJECTED — interleaved A/B at
      // cpus=32 lost 0.90× (bench_control_r17_batch32.json); two
      // conditional folds are cheaper than ds_q43's seven, and don't
      // repay the extra exchange. Bare scan stays.
      t.lineitem
        .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables(spark, dir).nation),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(microsIf(before, signed).as("net_before_micros"),
          microsIf(!before, signed).as("net_after_micros"))
        .orderBy("n_name")
    }),

    // DS56 (q43 shape): weekday revenue pivot — sun..sat columns per
    // customer nation from ONE conditional-aggregation pass (the
    // literal q43 repeats `CASE WHEN d_day_name='Sunday'` per column;
    // identical algebra). Spark dayofweek(): 1=Sunday..7=Saturday;
    // DuckDB dayofweek(): 0=Sunday..6=Saturday — the oracle shifts.
    "ds_q43_weekday_pivot" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val dow = dayofweek(col("l_shipdate"))
      val days = Seq("sun", "mon", "tue", "wed", "thu", "fri", "sat")
      val aggs = days.zipWithIndex.map { case (d, i) =>
        microsIf(dow === (i + 1), rev).as(s"${d}_micros")
      }
      // r16 input spread (Tables.lineitemSpread): the unfiltered fact
      // pays 7 conditional decimal sums per row — interleaved A/B
      // 1.35× (bench_control_r16c.json); the broadcast-side dims stay
      // bare.
      t.lineitemSpread
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(aggs.head, aggs.tail: _*)
        .orderBy("n_name")
    }),

    // DS58 (q10 shape): customer demographic counts under an OR of
    // independent EXISTS arms — customers with any 1996 order AND
    // (a returned line OR a high-value order). Each EXISTS is a
    // LEFT-SEMI equi-join; the OR of two semi-joins folds to ONE
    // grouped membership pass over the union of the two key streams
    // (the ds_q94 device) — the literal oracle runs the two correlated
    // EXISTS conditions.
    "ds_q10_or_exists" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val orders96 = t.orders.filter(year(col("o_orderdate")) === 1996)
        .select(col("o_custkey").as("k")).distinct()
      val returned = t.lineitem.filter(col("l_returnflag") === "R")
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("k")).distinct()
      val highValue = t.orders.filter(col("o_totalprice") > 150000)
        .select(col("o_custkey").as("k")).distinct()
      t.customer
        .join(orders96, col("c_custkey") === col("k"), "left_semi")
        .join(returned.union(highValue).distinct(),
          col("c_custkey") === col("k"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy("c_mktsegment")
    }),

    // DS59 (q39 shape): supplier-months whose quantity coefficient of
    // variation exceeds 1, self-joined on CONSECUTIVE months — the
    // inventory-variance pair hunt. cov > 0.5 ⇔ 4·var > mean² is
    // cross-multiplied into pure integers (quantities are whole
    // numbers): 4·(n²·Σx² − n·(Σx)²) > (n−1)·(Σx)², so both engines
    // agree exactly — no sqrt, no floating variance. The self-join
    // runs on the (supplier × month) AGGREGATE grain, never the fact.
    "ds_q39_variance_pairs" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val m = t.lineitem
        .groupBy(col("l_suppkey"),
          date_trunc("month", col("l_shipdate")).cast("date").as("month"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("s"),
          sum((col("l_quantity") * col("l_quantity")).cast("long")).as("ss"))
        .filter(col("n") > 1 &&
          (col("n") * col("n") * col("ss") - col("n") * col("s") * col("s")) * 4 >
            (col("n") - 1) * col("s") * col("s"))
      val a = m.select(col("l_suppkey").as("suppkey"), col("month").as("m1"),
        col("n").as("n1"), col("s").as("s1"))
      val b = m.select(col("l_suppkey").as("suppkey"), col("month").as("m2"),
        col("n").as("n2"), col("s").as("s2"))
      a.join(b, Seq("suppkey"))
        .filter(add_months(col("m1"), 1) === col("m2"))
        .orderBy("suppkey", "m1")
    }),

    // DS57 (q91 shape): month-over-month returned-revenue delta per
    // market segment. The fact aggregates to the (segment × month)
    // grain FIRST; the lag window runs on that bounded grain, never
    // the fact. Months with no predecessor emit NULL delta (both
    // engines).
    "ds_q91_segment_loss_mom" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("c_mktsegment").orderBy("month")
      t.lineitem.filter(col("l_returnflag") === "R")
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(micros(rev).as("ret_micros"))
        .withColumn("delta_micros",
          col("ret_micros") - lag(col("ret_micros"), 1).over(w))
        .orderBy("c_mktsegment", "month")
    }),
  )

  private val revSql = "l_extendedprice * (1.0 - l_discount)"

  val oracles: Map[String, String] = Map(
    "ds_q13_band_averages" ->
      s"""WITH f AS (
         |  SELECT l_quantity, l_extendedprice FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  WHERE (c_mktsegment = 'BUILDING' AND l_quantity BETWEEN 1 AND 10
         |         AND l_discount BETWEEN 0.00 AND 0.02)
         |     OR (c_mktsegment = 'AUTOMOBILE' AND l_quantity BETWEEN 11 AND 20
         |         AND l_discount BETWEEN 0.03 AND 0.05)
         |     OR (c_mktsegment = 'MACHINERY' AND l_quantity BETWEEN 21 AND 30
         |         AND l_discount BETWEEN 0.06 AND 0.08))
         |SELECT count(*)::BIGINT AS n,
         |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |  CAST(FLOOR(SUM(CAST(l_quantity AS BIGINT)) * 1000000 / count(*)) AS BIGINT) AS avg_qty_micros,
         |  CAST(FLOOR(${sqlMicros("l_extendedprice")} / count(*)) AS BIGINT) AS avg_price_micros
         |FROM f""".stripMargin,
    "ds_q21_backlog_ratio" ->
      """WITH agg AS (
        |  SELECT l_suppkey,
        |    SUM(CASE WHEN l_shipdate < DATE '1997-01-01'
        |             THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS qty_before,
        |    SUM(CASE WHEN l_shipdate >= DATE '1997-01-01'
        |             THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS qty_after
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT s_name, qty_before, qty_after
        |FROM agg JOIN supplier ON l_suppkey = s_suppkey
        |WHERE qty_before > 0 AND qty_after > 0
        |  AND qty_after * 3 >= qty_before * 2
        |  AND qty_after * 2 <= qty_before * 3
        |ORDER BY s_name""".stripMargin,
    // the literal q28 form: six scalar-aggregate subqueries CROSS JOINed
    "ds_q28_band_stats" -> {
      val bands = (0 until 6).map(i => (i * 5 + 1, i * 5 + 5))
      val subs = bands.zipWithIndex.map { case ((lo, hi), i) =>
        s"""(SELECT count(*)::BIGINT AS cnt_b$i,
           |  CAST(FLOOR(${sqlMicros("l_extendedprice")} / count(*)) AS BIGINT) AS avg_b$i,
           |  count(DISTINCT l_extendedprice)::BIGINT AS nd_b$i
           | FROM lineitem WHERE l_quantity BETWEEN $lo AND $hi) b$i""".stripMargin
      }
      s"SELECT * FROM ${subs.mkString(" CROSS JOIN ")}"
    },
    "ds_q37_partband_window" ->
      s"""SELECT p_brand, count(*)::BIGINT AS n_lines,
         |  ${sqlMicros(revSql)} AS rev_micros,
         |  min(p_retailprice) AS min_price
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate BETWEEN DATE '1996-03-01' AND DATE '1996-05-29'
         |  AND p_retailprice BETWEEN 1200 AND 1500
         |  AND p_size IN (5, 10, 15, 20, 25)
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "ds_q40_returns_netting" ->
      s"""SELECT n_name,
         |  ${sqlMicrosIf("l_shipdate < DATE '1997-01-01'",
             s"CASE WHEN l_returnflag = 'R' THEN -($revSql) ELSE $revSql END")} AS net_before_micros,
         |  ${sqlMicrosIf("l_shipdate >= DATE '1997-01-01'",
             s"CASE WHEN l_returnflag = 'R' THEN -($revSql) ELSE $revSql END")} AS net_after_micros
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "ds_q43_weekday_pivot" -> {
      val days = Seq("sun", "mon", "tue", "wed", "thu", "fri", "sat")
      val cols = days.zipWithIndex.map { case (d, i) =>
        s"  ${sqlMicrosIf(s"dayofweek(l_shipdate) = $i", revSql)} AS ${d}_micros"
      }.mkString(",\n")
      s"""SELECT n_name,
         |$cols
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin
    },
    "ds_q10_or_exists" ->
      s"""SELECT c_mktsegment, count(*)::BIGINT AS n_cust,
        |  ${Exact.sqlSum("c_acctbal")} AS sum_bal
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND year(o_orderdate) = 1996)
        |  AND (EXISTS (SELECT 1 FROM lineitem JOIN orders
        |                 ON l_orderkey = o_orderkey
        |               WHERE o_custkey = c_custkey AND l_returnflag = 'R')
        |    OR EXISTS (SELECT 1 FROM orders
        |               WHERE o_custkey = c_custkey AND o_totalprice > 150000))
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "ds_q39_variance_pairs" ->
      """WITH m AS (
        |  SELECT l_suppkey AS suppkey,
        |    date_trunc('month', l_shipdate)::DATE AS month,
        |    count(*)::BIGINT AS n,
        |    SUM(CAST(l_quantity AS BIGINT)) AS s,
        |    SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS ss
        |  FROM lineitem
        |  GROUP BY l_suppkey, date_trunc('month', l_shipdate)::DATE
        |  HAVING count(*) > 1
        |     AND (count(*)::BIGINT * count(*)::BIGINT * SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |          - count(*)::BIGINT * SUM(CAST(l_quantity AS BIGINT)) * SUM(CAST(l_quantity AS BIGINT))) * 4
        |       > (count(*)::BIGINT - 1) * SUM(CAST(l_quantity AS BIGINT)) * SUM(CAST(l_quantity AS BIGINT)))
        |SELECT a.suppkey, a.month AS m1, a.n AS n1, a.s::BIGINT AS s1,
        |       b.month AS m2, b.n AS n2, b.s::BIGINT AS s2
        |FROM m a JOIN m b
        |  ON a.suppkey = b.suppkey
        | AND b.month = a.month + INTERVAL 1 MONTH
        |ORDER BY a.suppkey, m1""".stripMargin,
    "ds_q91_segment_loss_mom" ->
      s"""WITH m AS (
         |  SELECT c_mktsegment, date_trunc('month', o_orderdate)::DATE AS month,
         |    ${sqlMicros(revSql)} AS ret_micros
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  WHERE l_returnflag = 'R'
         |  GROUP BY c_mktsegment, date_trunc('month', o_orderdate)::DATE)
         |SELECT c_mktsegment, month, ret_micros,
         |  ret_micros - lag(ret_micros, 1) OVER
         |    (PARTITION BY c_mktsegment ORDER BY month) AS delta_micros
         |FROM m ORDER BY c_mktsegment, month""".stripMargin,
  )
}
