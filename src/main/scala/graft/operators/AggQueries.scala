package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{CpcOps, KllQuantile, Sampling, ThetaOps}
import Exact._

/** Aggregation coverage (SURVEY.md §2 A2–A11) — the grouping-aggregator
  * surface of the reference engine (apache-impala-4.1.0/be/src/exec/
  * grouping-aggregator.cc: streaming pre-agg + partitioned final agg;
  * multiple DISTINCT via fe/.../MultiAggregateInfo.java; ROLLUP/CUBE/
  * GROUPING SETS in 4.1 fe/.../analysis/GroupByClause.java; builtin
  * aggs incl. group_concat, ndv, appx_median in be/src/exprs/
  * aggregate-functions-ir.cc). Spark realization: partial+final
  * HashAggregate, expand-node grouping sets, HLL++ for ndv.
  */
object AggQueries extends graft.QueryModule {

  val queries: Map[String, Q] = Map(
    // A2: several DISTINCT aggs + plain aggs in one pass.
    "agg_multi_distinct" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem.groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("nd_part"),
          countDistinct(col("l_suppkey")).as("nd_supp"),
          count(lit(1)).as("n_rows"),
          dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // A3: ROLLUP with coalesced total rows. Pre-aggregated at the
    // finest (status, priority) grain so Expand (×3) multiplies the
    // 15-row grain, not the orders fact — count/sum partials
    // re-aggregate exactly (same scale shape as ds_q67).
    "agg_rollup" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val D = org.apache.spark.sql.types.DecimalType(38, 6)
      val grain = t.orders.groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice").cast(D)).as("s"))
      grain.rollup("o_orderstatus", "o_orderpriority")
        .agg(sum(col("cnt")).as("n"), sum(col("s")).cast("double").as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy("status", "priority")
    }),

    // A4: CUBE — same pre-aggregation shape (Expand ×4 over the
    // 125-cell grain instead of the customer table).
    "agg_cube" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val grain = t.customer.groupBy("c_mktsegment", "c_nationkey")
        .agg(count(lit(1)).as("cnt"))
      grain.cube("c_mktsegment", "c_nationkey")
        .agg(sum(col("cnt")).as("n"))
        .select(coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          coalesce(col("c_nationkey"), lit(-1)).as("nk"), col("n"))
        .orderBy("segment", "nk")
    }),

    // A5: explicit GROUPING SETS via the SQL surface.
    "agg_grouping_sets" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.createOrReplaceTempView("orders_gs")
      spark.sql(
        """WITH grain AS (
          |  SELECT o_orderstatus, o_orderpriority, count(1) AS cnt
          |  FROM orders_gs GROUP BY 1, 2)
          |SELECT coalesce(o_orderstatus, 'ALL') AS status,
          |       coalesce(o_orderpriority, 'ALL') AS priority,
          |       sum(cnt) AS n
          |FROM grain
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY status, priority""".stripMargin)
    }),

    // A5b: GROUP BY ALL — the analyst shorthand both Spark 4 and the
    // oracle engine resolve to "group by every non-aggregate select
    // item"; pinned here so dialect resolution stays aligned.
    "agg_group_by_all" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem.createOrReplaceTempView("graft_li_gba")
      spark.sql(
        s"""SELECT l_returnflag, l_linestatus,
           |       ${Exact.sqlSum("l_quantity")} AS sum_qty, count(*) AS n
           |FROM graft_li_gba
           |GROUP BY ALL
           |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    }),

    // A12: equi-DEPTH histogram via ntile — the oracle-exact complement
    // to the reservoir `agg_histogram` (rows-only): bucket membership
    // is a deterministic function of the (price, orderkey) total order,
    // so min/max/count per bucket hash-match across engines.
    "agg_equidepth_hist" -> ((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
      t.orders.filter(col("o_orderkey") < 20000)
        .select(col("o_orderkey"), col("o_totalprice"),
          ntile(8).over(w).cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi"))
        .orderBy("bucket")
    }),

    // A13: NOT IN vs NOT EXISTS null semantics — the classic silent-
    // wrong-answer minefield, pinned: a NULL in the NOT IN subquery
    // annihilates every row (three-valued logic), while NOT EXISTS
    // keeps its anti-join behavior. Both engines must agree on both
    // counts.
    "agg_not_in_null" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.createOrReplaceTempView("graft_cust_nin")
      t.supplier.createOrReplaceTempView("graft_supp_nin")
      spark.sql("""
        SELECT
          (SELECT count(*) FROM graft_cust_nin
           WHERE c_nationkey NOT IN
             (SELECT s_nationkey FROM graft_supp_nin
              UNION ALL SELECT CAST(NULL AS BIGINT))) AS n_not_in_with_null,
          (SELECT count(*) FROM graft_cust_nin c
           WHERE NOT EXISTS (SELECT 1 FROM graft_supp_nin s
                             WHERE s.s_nationkey = c.c_nationkey)) AS n_not_exists""")
    }),

    // A6: moment stats from exact sums (engine-portable stddev/var).
    // Squares are summed at DECIMAL(38,0): the rounded-to-integer square
    // sum stays below 2^53, so its double cast is exact in any engine
    // (at scale 6 the scaled int128 exceeds 2^53 and engines disagree in
    // the final ulp of the cast).
    "agg_stats" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val n = count(lit(1)).cast("double")
      val s = dsum(col("l_extendedprice"))
      val s2 = sum((col("l_extendedprice") * col("l_extendedprice"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).cast("double")
      t.lineitem.groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          s.as("sum_price"),
          ((s2 - s * s / n) / (n - lit(1.0))).as("var_price"),
          sqrt((s2 - s * s / n) / (n - lit(1.0))).as("std_price"))
        .orderBy("l_returnflag")
    }),

    // A7: ordered group_concat (reference: aggregate-functions-ir.cc
    // StringConcat) — deterministic via sort_array.
    "agg_group_concat" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.groupBy("c_nationkey")
        .agg(array_join(array_sort(collect_set(col("c_mktsegment"))), ",").as("segments"))
        .orderBy("c_nationkey")
    }),

    // A8: ndv() ≈ HLL++ (approx → rows-only check).
    "agg_approx_ndv" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.groupBy("o_orderstatus")
        .agg(approx_count_distinct(col("o_custkey")).as("approx_customers"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }),

    // A8b: DataSketches-style HLL sketch build + estimate (reference
    // 4.1 ds_hll_* — be/src/exprs/datasketches-functions-ir.cc).
    // Sketch merge is commutative → estimate is deterministic (rows-only).
    "agg_hll_sketch" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.groupBy("o_orderstatus")
        .agg(expr("hll_sketch_agg(o_custkey)").as("sk"))
        .select(col("o_orderstatus"),
          expr("hll_sketch_estimate(sk)").as("est_customers"),
          // ds_hll_union_f parity: merge two serialized sketches, then
          // estimate (self-union — the estimate must be unchanged)
          expr("hll_sketch_estimate(hll_union(sk, sk))").as("est_self_union"))
        .orderBy("o_orderstatus")
    }),

    // A22: CPC distinct-count sketch build + estimate + pairwise union
    // (reference ds_cpc_sketch/ds_cpc_union/ds_cpc_estimate —
    // fe/.../catalog/BuiltinsDb.java, datasketches-functions-ir.cc).
    // CPC estimates are approximate → rows-only; SketchSpec bounds the
    // relative error vs exact countDistinct.
    "agg_cpc_ndv" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val sk = t.orders.groupBy("o_orderstatus")
        .agg(CpcOps.sketch(col("o_custkey")).as("sk"), count(lit(1)).as("n"))
      sk.select(col("o_orderstatus"),
          round(call_function("cpc_estimate", col("sk")), 1).as("est_customers"),
          round(call_function("cpc_union_est", col("sk"), col("sk")), 1).as("est_self_union"),
          col("n"))
        .orderBy("o_orderstatus")
    }),

    // KLL quantile sketch build + estimate (reference ds_kll_sketch /
    // ds_kll_quantile — be/src/exprs/datasketches-functions-ir.cc:240)
    // over the DataSketches library. Sketch compaction is randomized →
    // rows-only; the spec bounds the rank error vs exact percentile.
    "agg_kll_quantile" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.groupBy("o_orderstatus")
        .agg(KllQuantile.sketch(col("o_totalprice")).as("sk"),
          count(lit(1)).as("n"))
        .select(col("o_orderstatus"),
          call_function("kll_quantile", col("sk"), lit(0.5)).as("p50_est"),
          call_function("kll_quantile", col("sk"), lit(0.9)).as("p90_est"),
          col("n"))
        .orderBy("o_orderstatus")
    }),

    // Rest of the reference's ds_kll block (impala_functions.py:1043-56
    // ds_kll_rank / ds_kll_n / ds_kll_cdf_as_string / ds_kll_pmf_as_string
    // / ds_kll_quantiles_as_string): rank/n/cdf/pmf/quantiles estimate
    // extraction over the same built sketch. Arrays render via
    // array_join — the Spark-idiomatic form of the "_as_string" variadics.
    // Sketch compaction is randomized → rows-only; SketchSpec bounds
    // each estimate against exact values.
    "agg_kll_rank" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val splits = array(lit(50000.0), lit(150000.0), lit(300000.0))
      t.orders.groupBy("o_orderstatus")
        .agg(KllQuantile.sketch(col("o_totalprice")).as("sk"),
          count(lit(1)).as("n_exact"))
        .select(col("o_orderstatus"),
          round(call_function("kll_rank", col("sk"), lit(150000.0)), 4).as("rank_150k"),
          call_function("kll_n", col("sk")).as("n_sketch"),
          array_join(transform(call_function("kll_cdf", col("sk"), splits),
            v => round(v, 4)), ",").as("cdf"),
          array_join(transform(call_function("kll_pmf", col("sk"), splits),
            v => round(v, 4)), ",").as("pmf"),
          array_join(transform(call_function("kll_quantiles", col("sk"),
            array(lit(0.25), lit(0.5), lit(0.75))), v => round(v, 2)), ",").as("quartiles"),
          col("n_exact"))
        .orderBy("o_orderstatus")
    }),

    // KLL EXACT-REGIME oracle twin (r13 verdict #7, the theta-<=k
    // device extended to quantiles): while a group's item count stays
    // under the sketch's k=200 level-0 retention, KLL never compacts —
    // every item is retained, so getQuantile(r) under the INCLUSIVE
    // criterion is EXACTLY the order statistic at ceil(r*n) and
    // getRank(v) is exactly (#items<=v)/n. The absolute s_suppkey
    // bound (not an SF-relative filter) caps every group below 200 at
    // ANY scale, so the exactness is by construction, not by luck.
    // Randomized compaction beyond k remains the reason the trained
    // agg_kll_quantile/agg_kll_rank twins stay rows-only.
    "agg_kll_exact_regime" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.supplier.filter(col("s_suppkey") <= 150)
        .withColumn("g", pmod(col("s_nationkey"), lit(5)).cast("long"))
        .groupBy("g")
        .agg(KllQuantile.sketch(col("s_acctbal")).as("sk"),
          count(lit(1)).as("n"))
        .select(col("g"),
          call_function("kll_quantile", col("sk"), lit(0.25)).as("p25"),
          call_function("kll_quantile", col("sk"), lit(0.5)).as("p50"),
          call_function("kll_quantile", col("sk"), lit(0.75)).as("p75"),
          call_function("kll_rank", col("sk"), lit(0.0)).as("rank_zero"),
          call_function("kll_n", col("sk")).as("n_sketch"),
          col("n"))
        .orderBy("g")
    }),

    // Sketch string renderers (impala_functions.py ds_hll_estimate_
    // bounds_as_string + ds_hll/cpc/theta/kll_stringify — be/src/exprs/
    // datasketches-functions-ir.cc:49,102,131,337). Summary layout is
    // library-specific → rows-only; SketchSpec pins that the bounds
    // string parses to lo ≤ est ≤ hi and brackets the exact count, and
    // that each stringify names its sketch family. The boolean columns
    // here keep the CHECK structural (parse + ordering), not layout-
    // dependent.
    "agg_sketch_str" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      // countDistinct lives in its OWN aggregation, joined back on the
      // 3-value status domain: mixed into the sketch .agg it would put
      // the whole query into per-(group, custkey) partial aggregation —
      // every sketch buffer created once per DISTINCT key instead of
      // once per group (the §5.13 trap; 2.6 -> 0.7 s at sf0.1).
      val nd = t.orders.groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("nd_exact"))
      t.orders.groupBy("o_orderstatus")
        .agg(expr("hll_sketch_agg(o_custkey)").as("hll"),
          KllQuantile.sketch(col("o_totalprice")).as("kll"),
          graft.functions.ThetaOps.sketch(col("o_custkey")).as("theta"),
          graft.functions.CpcOps.sketch(col("o_custkey")).as("cpc"))
        .join(broadcast(nd), "o_orderstatus")
        .select(col("o_orderstatus"),
          call_function("hll_bounds", col("hll"), lit(2)).as("hll_bounds"),
          (element_at(split(call_function("hll_bounds", col("hll"), lit(2)), ","), 2).cast("double") <=
            element_at(split(call_function("hll_bounds", col("hll"), lit(2)), ","), 1).cast("double") &&
            element_at(split(call_function("hll_bounds", col("hll"), lit(2)), ","), 1).cast("double") <=
              element_at(split(call_function("hll_bounds", col("hll"), lit(2)), ","), 3).cast("double"))
            .as("bounds_ordered"),
          call_function("hll_stringify", col("hll")).contains("HLL").as("hll_str_ok"),
          call_function("cpc_stringify", col("cpc")).contains("CPC").as("cpc_str_ok"),
          (length(call_function("theta_stringify", col("theta"))) > 0).as("theta_str_ok"),
          call_function("kll_stringify", col("kll")).contains("Kll").as("kll_str_ok"),
          col("nd_exact"))
        .orderBy("o_orderstatus")
    }),

    // sample()/histogram()/sampled_ndv() parity (BuiltinsDb.java:1020,
    // 1040,1179): bounded reservoir per group, seeded — partition-order
    // dependent like any distributed reservoir → rows-only + specs.
    "agg_sample" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.groupBy("o_orderstatus")
        .agg(Sampling.sample(col("o_totalprice"), 20).as("sample"))
        .select(col("o_orderstatus"), array_join(col("sample"), ",").as("sample"))
        .orderBy("o_orderstatus")
    }),
    "agg_histogram" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.groupBy("o_orderstatus")
        .agg(Sampling.histogram(col("o_totalprice"), 4).as("hist"))
        .select(col("o_orderstatus"), array_join(col("hist"), ",").as("hist"))
        .orderBy("o_orderstatus")
    }),
    "agg_sampled_ndv" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.groupBy("o_orderstatus")
        .agg(Sampling.sampledNdv(col("o_custkey").cast("double")).as("ndv_est"),
          countDistinct(col("o_custkey")).as("ndv_exact"))
        .orderBy("o_orderstatus")
    }),

    // A17: min_by/max_by/bool_and/bool_or. The by-key is an exact
    // DECIMAL(38,0) encoding of (cents, orderkey) so ties are impossible
    // and both engines pick the identical argmin/argmax row. The 10^13
    // multiplier keeps the encoding collision-free while o_orderkey
    // < 10^13 (TPC-H keys reach SF·6·10^6, so safe past SF 10^6), and
    // decimal width means cents·10^13 cannot overflow the way the old
    // bigint·10^7 key did from roughly SF 2.
    "agg_minmax_by" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val byKey = (round(col("o_totalprice") * 100).cast("decimal(38,0)") *
        lit(10000000000000L) + col("o_orderkey")).as("bk")
      t.orders
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"), byKey)
        .groupBy("o_orderstatus")
        .agg(max_by(col("o_orderkey"), col("bk")).as("priciest_key"),
          min_by(col("o_orderkey"), col("bk")).as("cheapest_key"),
          bool_and(col("o_totalprice") > 1000.0).as("all_over_1k"),
          bool_or(col("o_totalprice") > 400000.0).as("any_over_400k"))
        .orderBy("o_orderstatus")
    }),

    // A5b: grouping() indicator columns — distinguishes "NULL because
    // rolled up" from a genuinely NULL group key (GroupByClause.java /
    // grouping_id parity).
    "agg_grouping_fn" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      // pre-agg grain before Expand, as in agg_cube
      val grain = t.orders.groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
      grain.cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("cnt")).as("n"),
          grouping(col("o_orderstatus")).cast("long").as("g_status"),
          grouping(col("o_orderpriority")).cast("long").as("g_prio"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("g_status"), col("g_prio"), col("n"))
        .orderBy("status", "priority", "g_status", "g_prio")
    }),

    // Theta sketch set algebra (ds_theta_union/intersect/exclude —
    // be/src/exprs/datasketches-functions-ir.cc): customer-population
    // overlap between order statuses. Theta is order-independent, and
    // below k=4096 distinct values it runs in exact mode — at the
    // sf0.01 verification scale every estimate IS the exact distinct
    // count, so this row is oracle-checkable (unlike HLL/KLL).
    "agg_theta_overlap" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      // o_custkey < 3000 bounds per-status distincts under theta's
      // k = 4096, so the sketch stays EXACT (and the exact-count oracle
      // valid) at EVERY scale factor — unbounded, sf0.1's ~14.5k
      // customers left the exact regime and the estimates legitimately
      // diverged. Approximate-regime behavior is SketchSpec's job.
      val sk = t.orders.filter(col("o_custkey") < 3000)
        .groupBy("o_orderstatus")
        .agg(ThetaOps.sketch(col("o_custkey")).as("sk"))
      val a = sk.select(col("o_orderstatus").as("status_a"), col("sk").as("sk_a"))
      val b = sk.select(col("o_orderstatus").as("status_b"), col("sk").as("sk_b"))
      a.join(b, col("status_a") < col("status_b"))
        .select(col("status_a"), col("status_b"),
          round(call_function("theta_estimate", col("sk_a")), 1).as("est_a"),
          round(call_function("theta_estimate", col("sk_b")), 1).as("est_b"),
          round(call_function("theta_union_est", col("sk_a"), col("sk_b")), 1).as("est_union"),
          round(call_function("theta_intersect_est", col("sk_a"), col("sk_b")), 1).as("est_intersect"),
          round(call_function("theta_anotb_est", col("sk_a"), col("sk_b")), 1).as("est_anotb"),
          // sketch-RETURNING forms (ds_theta_*_f / ds_theta_exclude)
          // composed: estimate(op_f(a,b)) — and a two-stage composition
          // (A∪B)\B == A\B proving the wire format round-trips through
          // further set algebra. Exact mode → same oracle columns.
          round(call_function("theta_estimate",
            call_function("theta_union_f", col("sk_a"), col("sk_b"))), 1).as("est_union_f"),
          round(call_function("theta_estimate",
            call_function("theta_intersect_f", col("sk_a"), col("sk_b"))), 1).as("est_intersect_f"),
          round(call_function("theta_estimate",
            call_function("theta_exclude_f",
              call_function("theta_union_f", col("sk_a"), col("sk_b")), col("sk_b"))), 1)
            .as("est_composed_anotb"))
        .orderBy("status_a", "status_b")
    }),

    // A9: exact interpolated percentiles (appx_median analogue, exact
    // here so the oracle can check it; approx variant is A8-style).
    "agg_percentile" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.groupBy("o_orderpriority")
        .agg(
          round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75"))
        .orderBy("o_orderpriority")
    }),

    // A9b: SQL-standard inverse-distribution functions — discrete
    // (WITHIN GROUP first-value-at-cume_dist≥p) vs continuous
    // (interpolated), pinned against each other across engines.
    "agg_percentile_disc" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem.createOrReplaceTempView("graft_li_pd")
      spark.sql("""
        SELECT l_returnflag,
          percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity) AS med_disc,
          round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 4) AS med_cont,
          percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity) AS p90_disc
        FROM graft_li_pd GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),

    // A11: count(*) vs count(col) vs count(distinct) null semantics.
    "agg_count_semantics" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders
        .select(nullif(col("o_orderstatus"), lit("P")).as("status_np"), col("o_custkey"))
        .agg(
          count(lit(1)).as("n_all"),
          count(col("status_np")).as("n_nonnull"),
          countDistinct(col("status_np")).as("nd_status"),
          countDistinct(col("o_custkey")).as("nd_cust"))
    }),
  )

  override val rowsOnly: Map[String, String] = Map(
    "agg_approx_ndv" -> ("approx-estimator: HLL ndv() register estimate beyond exact mode — no " +
      "replay exists; error-bound property spec (SketchSpec); exact-count twins " +
      "agg_condcount/stats_table ARE oracle-checked"),
    "agg_cpc_ndv" -> ("approx-estimator: CPC coupon/window estimate — no replay exists; " +
      "error-bound property spec; theta twin agg_theta_overlap IS oracle-exact in its <=k exact " +
      "mode"),
    "agg_histogram" -> ("approx-estimator: sketch histogram bounds depend on randomized " +
      "compaction — no replay exists; invariants spec'd; the non-sketch twin agg_equidepth_hist " +
      "IS oracle-checked"),
    "agg_hll_sketch" -> ("codec: HLL register-state binary is engine-local — no replay exists; " +
      "round-trip + merge specs"),
    "agg_kll_quantile" -> ("approx-estimator: KLL estimate beyond k=200 retention (randomized " +
      "compaction) — no replay exists there; rank-error property spec; exact-regime twin " +
      "agg_kll_exact_regime IS oracle-exact (r14)"),
    "agg_kll_rank" -> ("approx-estimator: KLL rank estimate beyond the exact regime — no replay " +
      "exists there; property spec; exact-regime twin agg_kll_exact_regime IS oracle-exact (r14)"),
    "agg_sample" -> ("seeded-rng: reservoir sample from an engine-local seeded RNG — no replay " +
      "exists; membership+size property spec"),
    "agg_sampled_ndv" -> ("approx-estimator: estimator over a seeded row sample — no replay " +
      "exists (RNG + estimator state)"),
    "agg_sketch_str" -> ("codec: sketch summary strings are library-layout-specific — no replay " +
      "exists; parse/ordering spec"),
  )

  val oracles: Map[String, String] = Map(
    // exact-regime KLL (every group <= 150 items < k=200 retention →
    // no compaction): INCLUSIVE quantile = order statistic at
    // ceil(r*n), INCLUSIVE rank = (#items<=v)/n — both replayable
    "agg_kll_exact_regime" ->
      """WITH s AS (
        |  SELECT CAST(s_nationkey % 5 AS BIGINT) AS g, s_acctbal
        |  FROM supplier WHERE s_suppkey <= 150),
        |r AS (
        |  SELECT g, s_acctbal,
        |    row_number() OVER (PARTITION BY g ORDER BY s_acctbal) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM s)
        |SELECT g,
        |  max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN s_acctbal END) AS p25,
        |  max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN s_acctbal END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN s_acctbal END) AS p75,
        |  count(*) FILTER (s_acctbal <= 0.0) * 1.0 / max(n) AS rank_zero,
        |  CAST(max(n) AS BIGINT) AS n_sketch,
        |  count(*) AS n
        |FROM r GROUP BY g ORDER BY g""".stripMargin,
    "agg_minmax_by" ->
      """SELECT o_orderstatus,
        |  max_by(o_orderkey, CAST(round(o_totalprice * 100) AS HUGEINT) * 10000000000000 + o_orderkey) AS priciest_key,
        |  min_by(o_orderkey, CAST(round(o_totalprice * 100) AS HUGEINT) * 10000000000000 + o_orderkey) AS cheapest_key,
        |  bool_and(o_totalprice > 1000.0) AS all_over_1k,
        |  bool_or(o_totalprice > 400000.0) AS any_over_400k
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_grouping_fn" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
        |  count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY 1, 2, 3, 4""".stripMargin,
    // exact-mode theta (all populations < 4096 at sf0.01) == exact set
    // algebra; see agg_theta_overlap comment.
    "agg_theta_overlap" ->
      """WITH o AS (SELECT o_orderstatus, o_custkey FROM orders WHERE o_custkey < 3000),
        |s AS (SELECT DISTINCT o_orderstatus, o_custkey FROM o),
        |d AS (SELECT o_orderstatus, count(*) AS nd FROM s GROUP BY 1)
        |SELECT a.o_orderstatus AS status_a, b.o_orderstatus AS status_b,
        |  round(CAST(a.nd AS DOUBLE), 1) AS est_a,
        |  round(CAST(b.nd AS DOUBLE), 1) AS est_b,
        |  round(CAST((SELECT count(DISTINCT o_custkey) FROM o
        |     WHERE o_orderstatus IN (a.o_orderstatus, b.o_orderstatus)) AS DOUBLE), 1) AS est_union,
        |  round(CAST((SELECT count(*) FROM
        |     (SELECT o_custkey FROM s WHERE o_orderstatus = a.o_orderstatus
        |      INTERSECT
        |      SELECT o_custkey FROM s WHERE o_orderstatus = b.o_orderstatus)) AS DOUBLE), 1) AS est_intersect,
        |  round(CAST((SELECT count(*) FROM
        |     (SELECT o_custkey FROM s WHERE o_orderstatus = a.o_orderstatus
        |      EXCEPT
        |      SELECT o_custkey FROM s WHERE o_orderstatus = b.o_orderstatus)) AS DOUBLE), 1) AS est_anotb,
        |  round(CAST((SELECT count(DISTINCT o_custkey) FROM o
        |     WHERE o_orderstatus IN (a.o_orderstatus, b.o_orderstatus)) AS DOUBLE), 1) AS est_union_f,
        |  round(CAST((SELECT count(*) FROM
        |     (SELECT o_custkey FROM s WHERE o_orderstatus = a.o_orderstatus
        |      INTERSECT
        |      SELECT o_custkey FROM s WHERE o_orderstatus = b.o_orderstatus)) AS DOUBLE), 1) AS est_intersect_f,
        |  round(CAST((SELECT count(*) FROM
        |     (SELECT o_custkey FROM s WHERE o_orderstatus = a.o_orderstatus
        |      EXCEPT
        |      SELECT o_custkey FROM s WHERE o_orderstatus = b.o_orderstatus)) AS DOUBLE), 1) AS est_composed_anotb
        |FROM d a JOIN d b ON a.o_orderstatus < b.o_orderstatus
        |ORDER BY 1, 2""".stripMargin,
    "agg_multi_distinct" ->
      s"""SELECT l_returnflag,
         |  count(DISTINCT l_partkey) AS nd_part, count(DISTINCT l_suppkey) AS nd_supp,
         |  count(*) AS n_rows, ${sqlSum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_rollup" ->
      s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
         |  coalesce(o_orderpriority, 'ALL') AS priority,
         |  count(*) AS n, ${sqlSum("o_totalprice")} AS total
         |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         |ORDER BY 1, 2""".stripMargin,

    "agg_cube" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
        |  coalesce(c_nationkey, -1) AS nk, count(*) AS n
        |FROM customer GROUP BY CUBE (c_mktsegment, c_nationkey)
        |ORDER BY 1, 2""".stripMargin,

    "agg_percentile_disc" ->
      """SELECT l_returnflag,
        |  quantile_disc(l_quantity, 0.5) AS med_disc,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS med_cont,
        |  quantile_disc(l_quantity, 0.9) AS p90_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_equidepth_hist" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CAST(ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS bucket
        |  FROM orders WHERE o_orderkey < 20000)
        |SELECT bucket, count(*) AS n,
        |  round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "agg_not_in_null" ->
      """SELECT
        |  (SELECT count(*) FROM customer
        |   WHERE c_nationkey NOT IN
        |     (SELECT s_nationkey FROM supplier
        |      UNION ALL SELECT CAST(NULL AS BIGINT))) AS n_not_in_with_null,
        |  (SELECT count(*) FROM customer c
        |   WHERE NOT EXISTS (SELECT 1 FROM supplier s
        |                     WHERE s.s_nationkey = c.c_nationkey)) AS n_not_exists""".stripMargin,

    "agg_group_by_all" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlSum("l_quantity")} AS sum_qty, count(*) AS n
         |FROM lineitem
         |GROUP BY ALL
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "agg_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority, count(*) AS n
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY 1, 2""".stripMargin,

    "agg_stats" -> {
      val sq = "CAST(SUM(CAST((l_extendedprice * l_extendedprice) AS DECIMAL(38,0))) AS DOUBLE)"
      s"""SELECT l_returnflag, count(*) AS n,
         |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
         |  ${sqlSum("l_extendedprice")} AS sum_price,
         |  (($sq -
         |    ${sqlSum("l_extendedprice")} * ${sqlSum("l_extendedprice")} / CAST(count(*) AS DOUBLE))
         |   / (CAST(count(*) AS DOUBLE) - 1.0)) AS var_price,
         |  sqrt(($sq -
         |    ${sqlSum("l_extendedprice")} * ${sqlSum("l_extendedprice")} / CAST(count(*) AS DOUBLE))
         |   / (CAST(count(*) AS DOUBLE) - 1.0)) AS std_price
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "agg_group_concat" ->
      """SELECT c_nationkey, string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_percentile" ->
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.75), 4) AS p75
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_count_semantics" ->
      """SELECT count(*) AS n_all, count(status_np) AS n_nonnull,
        |  count(DISTINCT status_np) AS nd_status, count(DISTINCT o_custkey) AS nd_cust
        |FROM (SELECT nullif(o_orderstatus, 'P') AS status_np, o_custkey FROM orders)""".stripMargin,
  )
}
