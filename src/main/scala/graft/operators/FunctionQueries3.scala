package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Third builtin batch (SURVEY.md §2 F20/F21/A18/A19) — the reference's
  * Ranger data-mask family, leftover math/conditional builtins, and the
  * regression/ordered-set aggregates.
  *
  * - Mask family (apache-impala-4.1.0/be/src/exprs/mask-functions.h:34-70,
  *   mask-functions-ir.cc:943): mask / mask_first_n / mask_last_n /
  *   mask_show_first_n / mask_show_last_n / mask_hash. Impala's defaults
  *   are upper→'X', lower→'x', digit→'n', other retained, charCount=4 —
  *   exactly Spark's builtin `mask` defaults, so the per-span variants
  *   compose from `mask` + `substring`. mask_hash is lowercase-hex
  *   SHA-256 (mask-functions-ir.cc:952-955) = Spark `sha2(s, 256)`.
  * - quotient() (math-functions-ir.cc:603), nullifzero/zeroifnull
  *   (conditional-functions-ir.cc:23,55), width_bucket
  *   (math-functions-ir.cc, 4.1), factorial (math-functions.h) — all
  *   Spark builtins or 1-call compositions.
  * - regr_slope/intercept/r2/avgx/avgy/count: beyond the reference's agg
  *   library (Impala stops at corr/covar) but standard SQL:2003 — Spark
  *   and DuckDB both ship them, so the row is oracle-checkable.
  */
object FunctionQueries3 extends graft.QueryModule {

  val queries: Map[String, Q] = Map(
    // F20: Ranger mask family over c_name (fixed "Customer#nnnnnnnnn",
    // mixed upper/lower/digit/other classes — stable spans for the _n
    // variants).
    "fn_mask" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.filter(col("c_custkey") < 300)
        .select(col("c_custkey"),
          expr("mask(c_name)").as("m_all"),
          expr("concat(mask(substring(c_name, 1, 4)), substring(c_name, 5))").as("m_first4"),
          expr("concat(substring(c_name, 1, length(c_name)-4), mask(substring(c_name, length(c_name)-3)))").as("m_last4"),
          expr("concat(substring(c_name, 1, 4), mask(substring(c_name, 5)))").as("m_show_first4"),
          expr("concat(mask(substring(c_name, 1, length(c_name)-4)), substring(c_name, length(c_name)-3))").as("m_show_last4"),
          sha2(col("c_name"), 256).as("m_hash"))
        .orderBy("c_custkey")
    }),

    // F21: math/conditional leftovers.
    "fn_misc" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem.filter(col("l_orderkey") < 300)
        .select(col("l_orderkey"), col("l_linenumber"),
          // explicit floor: DuckDB ROUNDS on double→bigint cast, Spark
          // truncates — floor() first makes both engines agree.
          expr("CAST(floor(l_extendedprice) AS BIGINT) DIV 7").as("quot7"),
          nullif(col("l_quantity") - lit(25.0), lit(0.0)).as("nullifzero_q"),
          coalesce(nullif(col("l_quantity") - lit(25.0), lit(0.0)), lit(0.0)).as("zeroifnull_q"),
          width_bucket(col("l_quantity"), lit(0.0), lit(55.0), lit(11L)).as("qty_bucket"),
          factorial((col("l_linenumber") % 5 + 2).cast("int")).as("fact"),
          lower(typeof(col("l_quantity"))).as("ty_qty"),
          lower(typeof(col("l_orderkey"))).as("ty_key"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // A18: SQL:2003 linear-regression aggregates. Double-valued like
    // stddev/corr in agg_stats: rounded so the two engines' different
    // partial-merge orders agree (relative fp noise ~1e-12 at this
    // scale, rounding at 1e-4/1e-6 leaves 8 orders of margin).
    "agg_regr" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem.groupBy("l_returnflag")
        .agg(
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("icept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"),
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n"),
          round(regr_avgx(col("l_extendedprice"), col("l_quantity")), 6).as("avgx"),
          round(regr_avgy(col("l_extendedprice"), col("l_quantity")), 4).as("avgy"))
        .orderBy("l_returnflag")
    }),

    // A19: conditional-count / ordered-set / pick-any aggregates.
    // any_value is only deterministic over a group-constant argument —
    // that is the shape used here (and the only oracle-able one).
    "agg_condcount" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem.groupBy("l_returnflag")
        .agg(
          count_if(col("l_quantity") > 25.0).as("n_big"),
          median(col("l_quantity")).as("med_qty"),
          mode(col("l_linestatus")).as("top_status"),
          any_value(concat(lit("flag:"), col("l_returnflag"))).as("tag"))
        .orderBy("l_returnflag")
    }),
  )

  private val duckMask: String => String = s =>
    s"regexp_replace(regexp_replace(regexp_replace($s, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')"

  val oracles: Map[String, String] = Map(
    "fn_mask" ->
      s"""SELECT c_custkey,
         |  ${duckMask("c_name")} AS m_all,
         |  ${duckMask("substring(c_name, 1, 4)")} || substring(c_name, 5) AS m_first4,
         |  substring(c_name, 1, length(c_name)-4) || ${duckMask("substring(c_name, length(c_name)-3)")} AS m_last4,
         |  substring(c_name, 1, 4) || ${duckMask("substring(c_name, 5)")} AS m_show_first4,
         |  ${duckMask("substring(c_name, 1, length(c_name)-4)")} || substring(c_name, length(c_name)-3) AS m_show_last4,
         |  sha256(c_name) AS m_hash
         |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin,
    "fn_misc" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(floor(l_extendedprice) AS BIGINT) // 7 AS quot7,
        |  nullif(l_quantity - 25.0, 0.0) AS nullifzero_q,
        |  coalesce(nullif(l_quantity - 25.0, 0.0), 0.0) AS zeroifnull_q,
        |  CASE WHEN l_quantity < 0 THEN 0 WHEN l_quantity >= 55 THEN 12
        |       ELSE CAST(floor(l_quantity * 11 / 55) AS BIGINT) + 1 END AS qty_bucket,
        |  CAST(factorial(CAST(l_linenumber % 5 + 2 AS INT)) AS BIGINT) AS fact,
        |  'double' AS ty_qty,
        |  'bigint' AS ty_key
        |FROM lineitem WHERE l_orderkey < 300 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "agg_regr" ->
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  regr_count(l_extendedprice, l_quantity) AS n,
        |  round(regr_avgx(l_extendedprice, l_quantity), 6) AS avgx,
        |  round(regr_avgy(l_extendedprice, l_quantity), 4) AS avgy
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_condcount" ->
      """SELECT l_returnflag,
        |  CAST(count_if(l_quantity > 25.0) AS BIGINT) AS n_big,
        |  median(l_quantity) AS med_qty,
        |  mode(l_linestatus) AS top_status,
        |  any_value('flag:' || l_returnflag) AS tag
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
