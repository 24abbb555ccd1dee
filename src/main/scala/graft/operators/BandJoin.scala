package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Banded range join (time-proximity join). Spark plans an inequality
  * join condition like `abs(a.t - b.t) <= w` as a broadcast nested
  * loop — O(n·m), dead at scale. The band trick turns it into an
  * equi-join: bin timestamps at width w, replicate one side into its
  * neighbor bins, equi-join on (key, bin), then post-filter the exact
  * predicate. Each pair is examined in exactly one partition; the
  * replication factor is the constant 3, not |right|.
  */
object BandJoin extends graft.QueryModule {

  /** Pairs (left row, right row) with the same `key` and |lt - rt| <= w.
    * `lt`/`rt` are epoch-second columns. */
  def proximityJoin(left: DataFrame, right: DataFrame, key: String,
                    lt: String, rt: String, w: Long): DataFrame = {
    val l = left.withColumn("__bin",
      explode(array(col(lt).divide(w).cast("long") - 1,
        col(lt).divide(w).cast("long"),
        col(lt).divide(w).cast("long") + 1)))
    val r = right.withColumn("__bin", col(rt).divide(w).cast("long"))
    l.join(r, Seq(key, "__bin"))
      .filter(abs(col(lt) - col(rt)) <= w)
      .drop("__bin")
  }

  val queries: Map[String, Q] = Map(
    // For each purchase, error events by the same user within ±5 min.
    "band_join_proximity" -> ((spark, dir) => {
      val ev = Tables(spark, dir).events
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000000000").as("sec"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("sec").as("psec"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"), col("sec").as("esec"))
      proximityJoin(purchases, errors, "user_id", "psec", "esec", 300L)
        .select(col("user_id"), col("purchase_id"), col("error_id"),
          (col("esec") - col("psec")).as("dt"))
        .orderBy("user_id", "purchase_id", "error_id")
    }),
  )

  val oracles: Map[String, String] = Map(
    // Oracle uses the naive inequality join — same semantics, different
    // algorithm (fine at sf0.01; the banded form is the one that scales).
    "band_join_proximity" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        |  FROM events)
        |SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id,
        |       e.sec - p.sec AS dt
        |FROM ev p JOIN ev e
        |  ON p.user_id = e.user_id
        | AND p.event_type = 'purchase' AND e.event_type = 'error'
        | AND abs(p.sec - e.sec) <= 300
        |ORDER BY 1, 2, 3""".stripMargin,
  )
}
