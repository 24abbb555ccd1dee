package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Query-stage preparation rule: a global ORDER BY whose input fits one
  * post-shuffle partition (`spark.sql.adaptive.advisoryPartitionSizeInBytes`,
  * Spark's own target size for one) plans ONE range partition. Spark's
  * range exchange otherwise runs a separate sampling job over its whole
  * input stage to pick bounds before the map stage runs that stage
  * again; with one partition `RangePartitioner` needs no bounds, so the
  * stage runs once. The reference engine never samples: it merges
  * per-fragment sorts (sort-node.cc) in a merging exchange
  * (exchange-node.cc).
  *
  * The size is the `stats.sizeInBytes` of the nearest logical link,
  * which under AQE re-planning is the runtime size of any stage that
  * has already run. An exchange with no link, or too large an estimate
  * (an RDD-backed input reports `spark.sql.defaultSizeInBytes`), keeps
  * its partition count, and user-requested exchanges
  * (`repartitionByRange`) are never touched. The sort stays global, so
  * row order does not change.
  */
object SmallSort extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case e @ ShuffleExchangeExec(RangePartitioning(ordering, n), child, ENSURE_REQUIREMENTS, _)
        if n > 1 && sizeOf(child).exists(_ <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)) =>
      e.copy(outputPartitioning = RangePartitioning(ordering, 1))
  }

  /** The estimate of the nearest linked node, looking only through
    * unlinked single-child nodes, so a join is never sized by one side. */
  @tailrec private def sizeOf(p: SparkPlan): Option[BigInt] = p.logicalLink match {
    case Some(l) => Some(l.stats.sizeInBytes)
    case None if p.children.size == 1 => sizeOf(p.children.head)
    case None => None
  }
}
