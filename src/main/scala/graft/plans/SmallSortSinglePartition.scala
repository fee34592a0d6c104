package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** A global sort whose input fits one AQE advisory partition shuffles
  * into a single partition instead of range-partitioning.
  *
  * `RangePartitioning` builds its `RangePartitioner` from a sampling
  * job over the sort's input (over a raw scan, a second full read of
  * it), and with partition coalescing on AQE then merges the range
  * output of an input this small back into one partition anyway. So
  * every small ORDER BY paid one Spark job for boundaries nobody used.
  * `SinglePartition` satisfies the sort's `OrderedDistribution`, so
  * `EnsureRequirements` adds nothing back, and the sort's one task
  * sorts the whole input.
  *
  * Injected as a query-stage preparation rule: it runs after
  * `EnsureRequirements` and again at every AQE re-optimization, so a
  * sort above a finished stage is judged by that stage's runtime size.
  * Anywhere else the size is the logical plan's estimate; without one
  * the exchange stays. It fires only with
  * `spark.sql.adaptive.coalescePartitions.enabled` on, and its
  * threshold is `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the
  * size AQE itself coalesces to. `repartitionByRange` (origin
  * `REPARTITION_BY_NUM`/`REPARTITION_BY_COL`) keeps its partitions:
  * callers such as `Distributed.globalCumSum` rely on their ids.
  */
object SmallSortSinglePartition extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) return plan
    val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    plan.transformUp {
      case e @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if sizeInBytes(child).exists(_ <= advisory) =>
        e.copy(outputPartitioning = SinglePartition)
    }
  }

  private def sizeInBytes(p: SparkPlan): Option[BigInt] = p match {
    case stage: QueryStageExec => stage.computeStats().map(_.sizeInBytes)
    case _                     => p.logicalLink.map(_.stats.sizeInBytes)
  }
}
