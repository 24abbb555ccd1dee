package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import Exact._

/** Skew handling (SURVEY.md §5.8). AQE's skew-join splitting covers
  * joins; for aggregations over hot keys (a handful of event types over
  * billions of rows) the classic fix is two-stage salted aggregation:
  * partial-aggregate on (key, salt) so a hot key fans out over `salts`
  * reducers, then final-aggregate on key. Results are identical to the
  * direct groupBy — the oracle checks exactly that.
  */
object Skew extends graft.QueryModule {

  /** count + exact sum of `value` per `key`, salted over `salts` reducers.
    * `saltSource` must vary within a key group (any per-row column). */
  def saltedCountSum(df: DataFrame, key: String, value: Column,
                     saltSource: Column, salts: Int): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(38, 6)
    df.withColumn("__salt", pmod(xxhash64(saltSource), lit(salts.toLong)))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__n"), sum(value.cast(D)).as("__s"))
      .groupBy(col(key))
      .agg(sum(col("__n")).as("n"), sum(col("__s")).cast("double").as("total"))
  }

  val queries: Map[String, Q] = Map(
    // Hot-key aggregation: 5 event types over all events — the salted
    // two-phase plan must equal the direct groupBy (oracle is direct).
    "skew_salted_agg" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      saltedCountSum(t.events, "event_type", col("value"), col("event_id"), 16)
        .orderBy("event_type")
    }),

    // J4: key-skew diagnostic — the report a 100 TB pipeline runs
    // BEFORE choosing salting/AQE settings: per-key cardinality stats
    // plus the max/mean skew factor and the share held by the hottest
    // key. Two cheap aggregations (key counts → scalar moments).
    "skew_report" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val counts = t.events.groupBy("user_id").agg(count(lit(1)).as("n"))
      counts.agg(
        count(lit(1)).as("n_keys"),
        sum(col("n")).as("n_rows"),
        max(col("n")).as("max_key_rows"),
        round(max(col("n")) / (sum(col("n")) / count(lit(1))), 4).as("skew_factor"),
        round(max(col("n")).cast("double") / sum(col("n")), 6).as("top_key_share"))
    }),
  )

  val oracles: Map[String, String] = Map(
    "skew_salted_agg" ->
      s"""SELECT event_type, count(*) AS n, ${sqlSum("value")} AS total
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "skew_report" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1)
        |SELECT count(*) AS n_keys,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(max(n) AS BIGINT) AS max_key_rows,
        |  round(max(n) / (sum(n) / count(*)), 4) AS skew_factor,
        |  round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top_key_share
        |FROM c""".stripMargin,
  )
}
