package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import Exact._

/** Events / time-series workload (SURVEY.md §2 E1–E5): tumbling windows,
  * behavioral aggregation, gap-based sessionization, funnels, and pivot.
  * Batch shapes here; the same logic re-appears in graft.streaming as
  * Structured Streaming jobs with watermarks. All timestamps are reduced
  * to whole epoch seconds (floor) before arithmetic so nanosecond vs
  * microsecond parquet precision can never leak into results.
  */
object EventQueries extends graft.QueryModule {

  // events.ts is bigint nanoseconds — Tables.events normalizes both
  // on-disk encodings (int64-nanos and timestamp-micros) to that
  // contract. Integer div to whole seconds — double division would
  // lose precision at 1e18 magnitudes.
  private val sec = expr("ts div 1000000000")

  val queries: Map[String, Q] = Map(
    // E9: inter-arrival distribution — per-user event gaps through one
    // lag window, bucketed into power-of-two seconds bands by pure
    // INTEGER binary length (length(bin(s)) = floor(log2)+1 — no
    // engine-divergent float log). Gaps diff NANOSECOND longs before
    // the integer division, so sub-second components can't round
    // differently across engines. The latency-profile query every
    // event pipeline runs before choosing session gaps and watermarks.
    "events_interarrival" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t.events.select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("gap_s", expr("(ts - prev) div 1000000000"))
        .groupBy(length(expr("bin(gap_s)")).cast("long").as("gap_bucket"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap_s")).as("min_gap_s"), max(col("gap_s")).as("max_gap_s"))
        .orderBy("gap_bucket")
    }),

    // E1: tumbling hourly window (batch date_trunc form).
    "events_tumbling_hour" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.events
        .groupBy(date_format(date_trunc("hour", timestamp_seconds(expr("ts div 1000000000"))),
          "yyyy-MM-dd HH:00").as("hour"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy("hour")
    }),

    // E7: retention cohort matrix — users bucketed by first active
    // month, counted per (cohort, activity month). The canonical
    // product-analytics shape: two grouped passes over one scan.
    "events_retention_cohort" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val ev = t.events.select(col("user_id"),
        date_format(date_trunc("month", timestamp_seconds(expr("ts div 1000000000"))),
          "yyyy-MM").as("m")).dropDuplicates("user_id", "m")
      val cohort = ev.groupBy("user_id").agg(min(col("m")).as("cohort_m"))
      ev.join(cohort, "user_id")
        .groupBy("cohort_m", "m")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_m", "m")
    }),

    // E2: per-user behavior profile with HAVING.
    "events_user_stats" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.events.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          dsum(col("value")).as("total_value"))
        .filter(col("n_events") >= 15)
        .orderBy("user_id")
    }),

    // E3: top-k users by purchase value.
    "events_topk_users" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.events.filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(dsum(col("value")).as("purchase_value"), count(lit(1)).as("n_purchases"))
        .orderBy(col("purchase_value").desc, col("user_id"))
        .limit(20)
    }),

    // E4: gap-based sessionization (30-min inactivity), lag + running
    // sum of session-start flags — the batch twin of the streaming
    // flatMapGroupsWithState sessionizer.
    "events_sessionize" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val byUser = Window.partitionBy("user_id").orderBy(col("s"), col("event_id"))
      val withGap = t.events
        .select(col("user_id"), col("event_id"), sec.as("s"))
        .withColumn("prev_s", lag(col("s"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_s").isNull || col("s") - col("prev_s") > 1800L, 1L).otherwise(0L))
      withGap
        .withColumn("session_id", sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("session_events"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("session_events")).as("n_events"),
          max(col("session_events")).as("max_session_events"))
        .orderBy("user_id")
    }),

    // E10: NATIVE batch session_window — the declarative twin of E4's
    // lag+cumsum sessionization, per-session grain. Spark's gap
    // semantics merge TOUCHING windows: an event landing exactly at
    // last+gap still joins the session (sf0.1 holds a real
    // exactly-1800s pair that certifies this — user 511), so a session
    // closes only when the next event is STRICTLY beyond last+gap.
    // The oracle's independent lag+cumsum implementation breaks on
    // > 1800 (matching E2's convention) — a DuckDB match certifies
    // Spark's built-in operator itself, boundary included.
    "events_session_native" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.events
        .select(col("user_id"), timestamp_seconds(sec).as("tss"))
        .groupBy(col("user_id"), session_window(col("tss"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("sw.start")).as("session_start"),
          unix_timestamp(col("sw.end")).as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    }),

    // E11: event-type TRANSITION matrix — the first-order Markov view
    // of user behavior (what follows what): per-user streams ordered by
    // (ts, event_id), one lag window for the predecessor type, then a
    // |types|² rollup with probabilities in integer ppm (count·1e6 DIV
    // row-total — engine-exact, no double ratio). ONE shuffle on
    // user_id for the lag; the transition rollup aggregates a
    // types²-bounded grain. The standard input to funnel design and
    // next-event prediction baselines.
    "events_transitions" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val trans = t.events.select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "event_type")
        .agg(count(lit(1)).as("n"))
      val w2 = Window.partitionBy("prev_type")
      trans.withColumn("row_total", sum(col("n")).over(w2))
        .select(col("prev_type"), col("event_type"), col("n"),
          expr("n * 1000000 DIV row_total").as("p_ppm"))
        .orderBy("prev_type", "event_type")
    }),

    // E5: ordered funnel view → click → purchase via conditional min-ts.
    "events_funnel" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.events
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", sec)).as("t_view"),
          min(when(col("event_type") === "click", sec)).as("t_click"),
          min(when(col("event_type") === "purchase", sec)).as("t_purchase"))
        .agg(
          count(col("t_view")).as("n_view"),
          sum(when(col("t_click") > col("t_view"), 1L).otherwise(0L)).as("n_view_then_click"),
          sum(when(col("t_purchase") > col("t_click") && col("t_click") > col("t_view"), 1L)
            .otherwise(0L)).as("n_full_funnel"))
    }),

    // Pivot: event counts per type, wide form (reference has no PIVOT;
    // planner rewrites it to conditional aggs — we use the DF pivot API
    // with explicit values so no extra distinct-scan job runs).
    "events_pivot" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.events.filter(col("user_id") < 50)
        .groupBy("user_id")
        .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    }),

    // E8: time-to-conversion — each purchase paired with the user's most
    // recent preceding view via a running conditional max over the
    // per-user shuffle (the single-pass alternative to an as-of
    // self-join: one shuffle, no second scan of events).
    "events_time_to_convert" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val w = Window.partitionBy("user_id").orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.events
        .select(col("event_id"), col("user_id"), col("event_type"), sec.as("s"))
        .withColumn("last_view_s",
          max(when(col("event_type") === "view", col("s"))).over(w))
        .filter(col("event_type") === "purchase" && col("last_view_s").isNotNull)
        .select(col("event_id"), col("user_id"),
          (col("s") - col("last_view_s")).as("latency_s"))
        .orderBy("event_id")
    }),
  )

  val oracles: Map[String, String] = Map(
    "events_interarrival" ->
      """WITH g AS (
        |  SELECT user_id, epoch_ns(ts) AS tns, event_id,
        |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS prev
        |  FROM events),
        |d AS (SELECT (tns - prev) // 1000000000 AS gap_s FROM g WHERE prev IS NOT NULL)
        |SELECT CAST(length(to_base(gap_s, 2)) AS BIGINT) AS gap_bucket,
        |  count(*) AS n_gaps,
        |  CAST(min(gap_s) AS BIGINT) AS min_gap_s,
        |  CAST(max(gap_s) AS BIGINT) AS max_gap_s
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_retention_cohort" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id, strftime(date_trunc('month', ts), '%Y-%m') AS m
        |  FROM events),
        |c AS (SELECT user_id, min(m) AS cohort_m FROM ev GROUP BY 1)
        |SELECT cohort_m, m, count(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN c ON ev.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_tumbling_hour" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
         |  count(*) AS n, ${sqlSum("value")} AS total_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_user_stats" ->
      s"""SELECT user_id, count(*) AS n_events,
         |  count(DISTINCT event_type) AS n_types, ${sqlSum("value")} AS total_value
         |FROM events GROUP BY 1 HAVING count(*) >= 15 ORDER BY 1""".stripMargin,

    "events_topk_users" ->
      s"""SELECT user_id, ${sqlSum("value")} AS purchase_value, count(*) AS n_purchases
         |FROM events WHERE event_type = 'purchase'
         |GROUP BY 1 ORDER BY purchase_value DESC, user_id LIMIT 20""".stripMargin,

    "events_session_native" ->
      """WITH base AS (
        |  SELECT user_id, event_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, s, event_id,
        |    CASE WHEN lag(s) OVER w IS NULL OR s - lag(s) OVER w > 1800 THEN 1 ELSE 0 END AS ns
        |  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
        |sess AS (
        |  SELECT user_id, s,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, min(s) AS session_start, max(s) + 1800 AS session_end,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "events_transitions" ->
      """WITH ordered AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |trans AS (
        |  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM ordered WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, event_type)
        |SELECT prev_type, event_type, n,
        |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p_ppm
        |FROM trans ORDER BY prev_type, event_type""".stripMargin,

    "events_sessionize" ->
      """WITH base AS (
        |  SELECT user_id, event_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, s, event_id,
        |    CASE WHEN lag(s) OVER w IS NULL OR s - lag(s) OVER w > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
        |sessions AS (
        |  SELECT user_id,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged),
        |per_session AS (
        |  SELECT user_id, session_id, count(*) AS session_events
        |  FROM sessions GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(sum(session_events) AS BIGINT) AS n_events,
        |  max(session_events) AS max_session_events
        |FROM per_session GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_funnel" ->
      """WITH stages AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN CAST(epoch(date_trunc('second', ts)) AS BIGINT) END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN CAST(epoch(date_trunc('second', ts)) AS BIGINT) END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN CAST(epoch(date_trunc('second', ts)) AS BIGINT) END) AS t_purchase
        |  FROM events GROUP BY 1)
        |SELECT count(t_view) AS n_view,
        |  CAST(sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_view_then_click,
        |  CAST(sum(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
        |FROM stages""".stripMargin,

    "events_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
        |FROM events WHERE user_id < 50 GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_time_to_convert" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s
        |  FROM events),
        |w AS (
        |  SELECT event_id, user_id, event_type, s,
        |    max(CASE WHEN event_type = 'view' THEN s END) OVER (
        |      PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_s
        |  FROM e)
        |SELECT event_id, user_id, s - last_view_s AS latency_s
        |FROM w WHERE event_type = 'purchase' AND last_view_s IS NOT NULL
        |ORDER BY event_id""".stripMargin,
  )
}
