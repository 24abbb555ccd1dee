package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** As-of (point-in-time) join — the temporal join a training-data
  * pipeline needs for feature lookups ("the last known value at or
  * before t"). The reference engine has no such operator; neither does
  * Spark SQL. Rather than a custom physical node, we compose it from
  * primitives Catalyst already optimizes: tag both sides, UNION, one
  * shuffle+sort by (key, ts, side), and a running last_value over the
  * right side's payload. O(n log n) in each partition, ONE shuffle
  * total — the union-window formulation scales where a range-join
  * (inequality join → broadcast nested loop) would not.
  */
object AsOfJoin extends graft.QueryModule {

  /** For each left row (key, ts, ...), attach the payload of the latest
    * right row (key, rts, payload*) with rts <= ts. Left rows with no
    * prior right row keep nulls. Column names must be disjoint except
    * for `key`/`ts`.
    *
    * PRECONDITION: the right side must be unique per (key, ts) — with
    * duplicate timestamps the payload picked is whichever tied row the
    * sort happens to place last, which is not deterministic across
    * runs/partitionings (same for [[asofPhysical]]). Pre-aggregate the
    * right side (as the registered queries do) to make ties impossible. */
  def asof(left: DataFrame, right: DataFrame, key: String, ts: String,
           payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.filterNot(payload.contains)
    // side 1 = right (emitter), side 2 = left (receiver): on a ts tie the
    // right row sorts first, so "at or before" includes equal timestamps.
    // The payload rides inside a struct: the running last() must skip the
    // left rows' filler (NULL struct) but NOT a right row whose payload
    // VALUE is genuinely NULL — ignoreNulls on bare columns would
    // incorrectly resurrect an older non-null value in that case.
    val pstruct = struct(payload.map(col): _*)
    val l = left.select(
      (col(key).as(key) +: col(ts).cast("long").as("__ts") +: lit(2).as("__side") +:
        leftCols.filterNot(c => c == key || c == ts).map(col) ++:
        Seq(lit(null).cast(right.select(pstruct).schema.head.dataType).as("__p"))): _*)
    val r = right.select(
      (col(key).as(key) +: col(ts).cast("long").as("__ts") +: lit(1).as("__side") +:
        leftCols.filterNot(c => c == key || c == ts)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++:
        Seq(pstruct.as("__p"))): _*)
    val w = Window.partitionBy(key).orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = l.unionByName(r).select(
      (col(key) +: col("__ts") +: col("__side") +:
        leftCols.filterNot(c => c == key || c == ts).map(col) ++:
        Seq(last(col("__p"), ignoreNulls = true).over(w).as("__p"))): _*)
    filled.filter(col("__side") === 2)
      .select((col(key) +: col("__ts").as(ts) +:
        leftCols.filterNot(c => c == key || c == ts).map(col) ++:
        payload.map(p => col("__p").getField(p).as(p))): _*)
  }

  /** J1b: FORWARD as-of — "the next known value at or after t" (the
    * merge_asof direction='forward' semantics: scheduled-maintenance
    * lookups, next-price joins). Same one-shuffle union-window
    * machinery as [[asof]], run on the NEGATED time axis — backward
    * as-of over -t IS forward as-of over t, and the tie handling
    * (right row sorts first) keeps "at or after" inclusive. Same
    * unique-(key, ts) right-side precondition. */
  def asofForward(left: DataFrame, right: DataFrame, key: String, ts: String,
                  payload: Seq[String]): DataFrame = {
    val l = left.withColumn(ts, -col(ts).cast("long"))
    val r = right.withColumn(ts, -col(ts).cast("long"))
    asof(l, r, key, ts, payload).withColumn(ts, -col(ts))
  }

  /** The same semantics as [[asof]] through the custom physical
    * operator (graft.plans.AsOfJoinExec): cluster-by-key + sorted
    * merge, one shuffle per side. Key and ts columns must be LongType.
    * The right side is re-aliased so self-join lineage can't collide
    * attribute ids. Same unique-(key, ts) right-side PRECONDITION as
    * [[asof]]: tied timestamps make the chosen payload
    * partitioning-dependent. */
  def asofPhysical(left: DataFrame, right: DataFrame, key: String, ts: String,
                   payload: Seq[String]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    val rPlan0 = right.queryExecution.analyzed
    val rPlan = Project(rPlan0.output.map(a => Alias(a, a.name)()), rPlan0)
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      plan.output.find(_.name == n).getOrElse(sys.error(s"column $n not found"))
    GraftSqlBridge.ofRows(spark, graft.plans.AsOfJoinPlan(
      lPlan, rPlan, attr(lPlan, key), attr(lPlan, ts),
      attr(rPlan, key), attr(rPlan, ts), payload.map(p => attr(rPlan, p))))
  }

  /** Each purchase event joined to the user's latest prior (or same-
    * second) signup/view "state" event value. */
  val queries: Map[String, Q] = Map(
    "asof_join_events_exec" -> ((spark, dir) => {
      val ev = Tables(spark, dir).events
        .select(col("user_id"), expr("ts div 1000000000").as("sec"),
          col("event_id"), col("event_type"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("sec"), col("event_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("sec").as("vsec"), col("value").as("view_value"))
        .groupBy("user_id", "vsec").agg(max("view_value").as("view_value"))
        .withColumnRenamed("vsec", "sec")
      asofPhysical(purchases, views, "user_id", "sec", Seq("view_value"))
        .select(col("user_id"), col("sec"), col("event_id"),
          coalesce(col("view_value"), lit(-1.0)).as("last_view_value"))
        .orderBy("user_id", "sec", "event_id")
    }),

    "asof_join_forward" -> ((spark, dir) => {
      val ev = Tables(spark, dir).events
        .select(col("user_id"), expr("ts div 1000000000").as("sec"),
          col("event_id"), col("event_type"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("sec"), col("event_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("sec").as("vsec"), col("value").as("view_value"))
        .groupBy("user_id", "vsec").agg(max("view_value").as("view_value"))
        .withColumnRenamed("vsec", "sec")
      asofForward(purchases, views, "user_id", "sec", Seq("view_value"))
        .select(col("user_id"), col("sec"), col("event_id"),
          coalesce(col("view_value"), lit(-1.0)).as("next_view_value"))
        .orderBy("user_id", "sec", "event_id")
    }),

    "asof_join_events" -> ((spark, dir) => {
      val ev = Tables(spark, dir).events
        .select(col("user_id"), expr("ts div 1000000000").as("sec"),
          col("event_id"), col("event_type"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("sec"), col("event_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("sec").as("vsec"), col("value").as("view_value"))
        // one state row per (user, second): keep the max-value view so the
        // as-of target is unique and the join is deterministic.
        .groupBy("user_id", "vsec").agg(max("view_value").as("view_value"))
        .withColumnRenamed("vsec", "sec")
      asof(purchases, views, "user_id", "sec", Seq("view_value"))
        .select(col("user_id"), col("sec"), col("event_id"),
          coalesce(col("view_value"), lit(-1.0)).as("last_view_value"))
        .orderBy("user_id", "sec", "event_id")
    }),
  )

  private val asofOracle =
    // DuckDB has a native ASOF JOIN — an independent implementation of
    // the same semantics, which is exactly what an oracle should be.
    """WITH ev AS (
        |  SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
        |         event_id, event_type, value
        |  FROM events),
        |purchases AS (
        |  SELECT user_id, sec, event_id FROM ev WHERE event_type = 'purchase'),
        |views AS (
        |  SELECT user_id, sec, max(value) AS view_value
        |  FROM ev WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.user_id, p.sec, p.event_id,
        |       coalesce(v.view_value, -1.0) AS last_view_value
        |FROM purchases p ASOF LEFT JOIN views v
        |  ON p.user_id = v.user_id AND p.sec >= v.sec
        |ORDER BY p.user_id, p.sec, p.event_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "asof_join_events" -> asofOracle,
    // Same oracle: two independent graft implementations (composed
    // union+window vs custom physical exec) must both match DuckDB.
    "asof_join_events_exec" -> asofOracle,
    // DuckDB's ASOF accepts <= — its native forward direction.
    "asof_join_forward" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
        |         event_id, event_type, value
        |  FROM events),
        |purchases AS (
        |  SELECT user_id, sec, event_id FROM ev WHERE event_type = 'purchase'),
        |views AS (
        |  SELECT user_id, sec, max(value) AS view_value
        |  FROM ev WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.user_id, p.sec, p.event_id,
        |       coalesce(v.view_value, -1.0) AS next_view_value
        |FROM purchases p ASOF LEFT JOIN views v
        |  ON p.user_id = v.user_id AND p.sec <= v.sec
        |ORDER BY p.user_id, p.sec, p.event_id""".stripMargin,
  )
}
