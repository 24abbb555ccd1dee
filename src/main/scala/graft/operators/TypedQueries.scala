package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed Dataset API coverage (SURVEY.md §2: `Dataset[T]` where
  * compile-time field checks help): case-class rows, groupByKey +
  * flatMapGroups for arbitrary per-group logic — the batch twin of the
  * reference's per-fragment imperative operators, still fully
  * distributed (one shuffle on the group key). The oracle expresses the
  * same top-k-per-group via window SQL, so the typed path is checked
  * against the declarative one.
  */
object TypedQueries extends graft.QueryModule {

  case class Ev(user_id: Long, event_id: Long, value: Double)
  case class TopEv(user_id: Long, event_id: Long, value: Double, rk: Long)

  val queries: Map[String, Q] = Map(
    "typed_topk_per_user" -> ((spark, dir) => {
      import spark.implicits._
      val ev = graft.Tables(spark, dir).events
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("value")).as[Ev]
      ev.groupByKey(_.user_id)
        .flatMapGroups { (uid, it) =>
          // Bounded top-k: O(k) memory however large the group — a hot
          // user with 10^8 events must never materialize in one task.
          // Heap keeps the k best; head is the worst of the kept set.
          val k = 3
          val goodness = Ordering.by[Ev, (Double, Long)](e => (e.value, -e.event_id))
          val heap = scala.collection.mutable.PriorityQueue.empty[Ev](goodness.reverse)
          it.foreach { e =>
            if (heap.size < k) heap.enqueue(e)
            else if (goodness.gt(e, heap.head)) { heap.dequeue(); heap.enqueue(e) }
          }
          heap.toList.sorted(goodness.reverse).zipWithIndex
            .map { case (e, i) => TopEv(uid, e.event_id, e.value, i + 1L) }
        }
        .toDF()
        .orderBy("user_id", "rk")
    }),
  )

  val oracles: Map[String, String] = Map(
    "typed_topk_per_user" ->
      """SELECT user_id, event_id, value, rk FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
        |  FROM events WHERE event_type = 'purchase')
        |WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin,
  )
}
