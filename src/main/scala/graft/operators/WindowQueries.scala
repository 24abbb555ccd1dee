package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Analytic/window coverage (SURVEY.md §2 W1–W8) — the reference
  * engine's analytic-eval-node (apache-impala-4.1.0/be/src/exec/
  * analytic-eval-node.cc; fe/.../analysis/AnalyticWindow.java frames).
  * Spark realization: Window specs; partition keys become the shuffle
  * key, order keys always extended to a total order so every rank /
  * frame is deterministic at any parallelism.
  */
object WindowQueries extends graft.QueryModule {

  private val D = DecimalType(38, 6)

  val queries: Map[String, Q] = Map(
    // W1 + W7: row_number and top-n per group.
    "win_row_number" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t.orders
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_orderstatus", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_orderstatus", "rn")
    }),

    // W2: rank vs dense_rank with real ties (bucketed balance).
    "win_rank_dense" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val bucket = floor(col("c_acctbal") / 1000.0).cast("long")
      val w = Window.partitionBy("c_mktsegment").orderBy(bucket.desc)
      t.customer
        .select(col("c_mktsegment"), col("c_custkey"), bucket.as("bal_bucket"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"))
        .filter(col("bal_bucket") >= 9)
        .orderBy("c_mktsegment", "c_custkey")
    }),

    // W3: lag/lead along each customer's order history.
    "win_lag_lead" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t.orders.filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          coalesce(lag(col("o_totalprice"), 1).over(w), lit(0.0)).as("prev_price"),
          coalesce(lead(col("o_totalprice"), 1).over(w), lit(0.0)).as("next_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // W4: running sum, ROWS UNBOUNDED PRECEDING → CURRENT ROW.
    // Sum in DECIMAL(38,6) so the prefix sums are exact (engine-portable).
    "win_running_sum" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.orders.filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(D)).over(w).cast(DoubleType).as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // W5: first_value / last_value over the full partition frame.
    "win_first_last" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = Window.partitionBy("o_orderstatus").orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t.orders.filter(col("o_orderdate") >= lit("2001-07-01").cast("timestamp"))
        .select(col("o_orderstatus"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_okey"),
          last(col("o_orderkey")).over(w).as("last_okey"))
        .orderBy("o_orderstatus", "o_orderkey")
    }),

    // W6: ntile / percent_rank / cume_dist.
    "win_ntile_cume" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal"), col("c_custkey"))
      t.customer.filter(col("c_custkey") < 300)
        .select(col("c_mktsegment"), col("c_custkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy("c_mktsegment", "c_custkey")
    }),

    // W7: top revenue line per order (dedup-style top-1 per key).
    "win_topn_per_group" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val w = Window.partitionBy("l_orderkey").orderBy(rev.desc, col("l_linenumber"))
      t.lineitem
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_orderkey"), col("l_linenumber"), rev.as("top_revenue"))
        .orderBy("l_orderkey")
    }),

    // W8: RANGE frame over a numeric ordering key.
    "win_range_frame" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice"))
        .rangeBetween(-10000L, 0L)
      t.orders.filter(col("o_orderdate") >= lit("2001-07-01").cast("timestamp"))
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
          count(lit(1)).over(w).as("n_within_10k_below"))
        .orderBy("o_orderstatus", "o_orderkey")
    }),

    // W9b: time-based RANGE frame (INTERVAL preceding) — the trailing-
    // window analytic Impala expresses with RANGE BETWEEN over dates.
    // Frame membership is set-based (date arithmetic), and the framed
    // sum goes through exact decimals, so results are engine-identical.
    "win_range_interval" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.filter(col("o_orderkey") < 3000).createOrReplaceTempView("graft_ord_ri")
      spark.sql("""
        SELECT o_orderkey, o_orderstatus, CAST(o_orderdate AS DATE) AS od,
          count(*) OVER w AS n_trailing_30d,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER w AS DOUBLE) AS rev_trailing_30d
        FROM graft_ord_ri
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY CAST(o_orderdate AS DATE)
                     RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
        ORDER BY o_orderstatus, od, o_orderkey""")
    }),

    // W10: nth_value with a full-partition frame.
    "win_nth_value" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t.orders.filter(col("o_orderkey") < 2000)
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
          nth_value(col("o_totalprice"), 2).over(w).as("second_highest"))
        .orderBy("o_orderstatus", "o_orderkey")
    }),

    // W9: IGNORE NULLS forward-fill (gap-fill idiom) — last non-null
    // value at or before each row, the analytic shape the reference's
    // last_value(... IGNORE NULLS) covers
    // (fe/.../analysis/AnalyticExpr.java nullable-handling).
    "win_fill_ignore_nulls" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.events
        .select(col("user_id"), col("event_id"),
          when(col("event_type") === "view", lit(null)).otherwise(col("value")).as("v"))
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
        .select("user_id", "event_id", "filled")
        .orderBy("user_id", "event_id")
    }),

  )

  val oracles: Map[String, String] = Map(
    "win_nth_value" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  nth_value(o_totalprice, 2) OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice DESC, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_highest
        |FROM orders WHERE o_orderkey < 2000
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,
    "win_fill_ignore_nulls" ->
      """SELECT user_id, event_id,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM (SELECT user_id, event_id,
        |        CASE WHEN event_type = 'view' THEN NULL ELSE value END AS v
        |      FROM events)
        |ORDER BY user_id, event_id""".stripMargin,
    "win_row_number" ->
      """SELECT o_orderstatus, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_orderstatus, rn""".stripMargin,

    "win_rank_dense" ->
      """SELECT c_mktsegment, c_custkey, bal_bucket, rnk, drnk FROM (
        |  SELECT c_mktsegment, c_custkey,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
        |    rank() OVER (PARTITION BY c_mktsegment
        |                 ORDER BY CAST(floor(c_acctbal / 1000.0) AS BIGINT) DESC) AS rnk,
        |    dense_rank() OVER (PARTITION BY c_mktsegment
        |                 ORDER BY CAST(floor(c_acctbal / 1000.0) AS BIGINT) DESC) AS drnk
        |  FROM customer)
        |WHERE bal_bucket >= 9 ORDER BY c_mktsegment, c_custkey""".stripMargin,

    "win_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
        |  coalesce(lag(o_totalprice, 1) OVER w, 0.0) AS prev_price,
        |  coalesce(lead(o_totalprice, 1) OVER w, 0.0) AS next_price
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "win_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "win_first_last" ->
      """SELECT o_orderstatus, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_okey,
        |  last_value(o_orderkey) OVER w AS last_okey
        |FROM orders WHERE o_orderdate >= TIMESTAMP '2001-07-01'
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,

    "win_ntile_cume" ->
      """SELECT c_mktsegment, c_custkey,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM customer WHERE c_custkey < 300
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin,

    "win_topn_per_group" ->
      """SELECT l_orderkey, l_linenumber, top_revenue FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    l_extendedprice * (1.0 - l_discount) AS top_revenue,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_extendedprice * (1.0 - l_discount) DESC, l_linenumber) AS rn
        |  FROM lineitem)
        |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,

    "win_range_frame" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
        |    RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_within_10k_below
        |FROM orders WHERE o_orderdate >= TIMESTAMP '2001-07-01'
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,

    "win_range_interval" ->
      """SELECT o_orderkey, o_orderstatus, CAST(o_orderdate AS DATE) AS od,
        |  count(*) OVER w AS n_trailing_30d,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER w AS DOUBLE) AS rev_trailing_30d
        |FROM orders WHERE o_orderkey < 3000
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY CAST(o_orderdate AS DATE)
        |             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderstatus, od, o_orderkey""".stripMargin,
  )
}
