package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, PlanExpression}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildSide}
import org.apache.spark.sql.catalyst.plans.InnerLike
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, RangePartitioning, SinglePartition, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalescedPartitionSpec, FileSourceScanExec, SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.internal.SQLConf

/** Every single-partition decision about an `ENSURE_REQUIREMENTS`
  * shuffle, judged against `spark.sql.adaptive.advisoryPartitionSizeInBytes`,
  * the size AQE itself coalesces to:
  *
  *  1. '''One partition in, no shuffle.''' When the rows under the
  *     exchange already form exactly one partition and that partition
  *     reads no more than the advisory size from its source, the
  *     exchange is replaced by a [[OnePartitionExec]]: no shuffle, no
  *     extra Spark job, and the plan still reports `SinglePartition`,
  *     which satisfies every distribution the operator above can
  *     require. The node passes its child's generated code straight
  *     through, so the operators below and above it (a partial and a
  *     final aggregate, a scan and a global sort) fuse into one
  *     whole-stage-codegen stage, as they would in one pipeline with no
  *     exchange.
  *  1. '''A small global sort shuffles into one partition.''' Otherwise
  *     a range exchange whose input is no larger than the advisory size
  *     becomes a `SinglePartition` exchange. `RangePartitioning` builds
  *     its `RangePartitioner` from a sampling job over the sort's input
  *     (over a raw scan, a second full read of it), and with coalescing
  *     on AQE then merges the range output of an input this small back
  *     into one partition anyway.
  *
  * Guards, each of which keeps the exchange:
  *  - '''Whose requirement.''' The exchange must serve the distribution
  *    requirement of the operator directly above it, or above the local
  *    sort `EnsureRequirements` puts between them: a global sort, a
  *    final aggregate, a window, a limit. That operator must have one
  *    child and not be an exchange itself.
  *  - '''No join above.''' An exchange under a join or any other
  *    multi-child operator stays, and so does one whose partitioning
  *    reaches such an operator through the operators above it (an
  *    aggregate's exchange that a sort-merge join reuses for one side):
  *    `EnsureRequirements` has partitioned the siblings to match it.
  *    The streamed side of a broadcast join is not such a sibling. An
  *    operator above that pins a partition count other than 1 keeps the
  *    exchanges its partitioning comes from, too.
  *  - '''Which requirement.''' A requirement that pins a partition count
  *    other than 1 keeps its exchange, and so does anything but an
  *    `ENSURE_REQUIREMENTS` exchange: `repartition` and
  *    `repartitionByRange` (`REPARTITION_BY_NUM`/`REPARTITION_BY_COL`)
  *    keep their partitions, which callers such as
  *    `Distributed.globalCumSum` rely on.
  *  - '''Size.''' Nothing changes unless
  *    `spark.sql.adaptive.coalescePartitions.enabled` is on. In the
  *    first case the size is what the one partition reads: a file
  *    scan's selected files, a DSv2 scan's reported size, or a finished
  *    stage's runtime size. (The logical estimate of a join multiplies
  *    its sides' sizes, so judged by it every exchange above a broadcast
  *    join would stay.) In the second case it is the sort input's size:
  *    above a finished query stage the stage's runtime size, anywhere
  *    else the logical plan's estimate. Without a size the exchange
  *    stays.
  *  - '''Known partitions''' (first case only). The count comes only
  *    from what planning already knows: a `FileSourceScanExec`'s file
  *    partitions, a `BatchScanExec`'s input partitions (the mailbox
  *    source's static-rows and `read_limit` scans among them), or an
  *    AQE read with one coalesced spec. It passes up through one-child
  *    operators, which keep their child's partitions, and through the
  *    streamed side of a broadcast hash join or an inner broadcast
  *    nested-loop join. A scan whose files or partitions depend on
  *    dynamic partition pruning, a runtime filter or a subquery result
  *    counts as unknown.
  *
  * Injected as a query-stage preparation rule: it runs after
  * `EnsureRequirements` and again at every AQE re-optimization. A file
  * scan's partitions are the splits of its own `inputRDD`, which the
  * scan then executes, so that split work moves from execution into
  * planning rather than being done twice.
  */
object SinglePartitionExchanges extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) plan
    else decide(plan, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES), shared = false)

  /** `p` with every exchange under it decided, bottom-up, so a count
    * passes through the exchanges already dropped below. `shared`: p's
    * partitioning reaches a multi-child operator with no exchange in
    * between, so a sibling there may be partitioned to match it.
    */
  private def decide(p: SparkPlan, advisory: Long, shared: Boolean): SparkPlan = {
    val q = p.withNewChildren(p.children.map(decide(_, advisory, reaches(p, shared))))
    if (shared || q.children.size != 1 || q.isInstanceOf[Exchange]) q
    else q.withNewChildren(q.children.zip(q.requiredChildDistribution).map {
      case (e: ShuffleExchangeExec, d) if servesOnePartition(d) => rewrite(e, advisory)
      case (s @ SortExec(_, false, e: ShuffleExchangeExec, _), d) if servesOnePartition(d) =>
        s.withNewChildren(Seq(rewrite(e, advisory)))
      case (c, _) => c
    })
  }

  /** Whether the children's partitioning reaches, through `p`, a
    * multi-child operator or a requirement pinning a partition count
    * other than 1. A broadcast join's streamed side has no
    * co-partitioned sibling, and its build side is a broadcast exchange.
    */
  private def reaches(p: SparkPlan, shared: Boolean): Boolean = p match {
    case _: Exchange => false
    case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => shared
    case _ => shared || p.children.size > 1 ||
      p.requiredChildDistribution.exists(_.requiredNumPartitions.exists(_ != 1))
  }

  private def rewrite(e: ShuffleExchangeExec, advisory: Long): SparkPlan =
    if (e.shuffleOrigin != ENSURE_REQUIREMENTS) e
    else if (source(e.child).exists { case (n, bytes) => n == 1 && bytes <= advisory })
      OnePartitionExec(e.child)
    else if (e.outputPartitioning.isInstanceOf[RangePartitioning] &&
        sizeInBytes(e.child).exists(_ <= advisory))
      e.copy(outputPartitioning = SinglePartition)
    else e

  /** A requirement of the operator's own that one partition satisfies
    * and that does not pin another partition count.
    */
  private def servesOnePartition(d: Distribution): Boolean = d match {
    case UnspecifiedDistribution | _: BroadcastDistribution => false
    case _ => d.requiredNumPartitions.forall(_ == 1)
  }

  private def sizeInBytes(p: SparkPlan): Option[BigInt] = p match {
    case stage: QueryStageExec => stage.computeStats().map(_.sizeInBytes)
    case _                     => p.logicalLink.map(_.stats.sizeInBytes)
  }

  /** How many partitions `p` produces and how many bytes they read from
    * their source, when planning already knows both.
    */
  private def source(p: SparkPlan): Option[(Int, BigInt)] = p match {
    case s: FileSourceScanExec =>
      if (dependsOnRuntime(s.partitionFilters ++ s.dataFilters)) None
      else Some((s.inputRDD.getNumPartitions, BigInt(s.selectedPartitions.totalFileSize)))
    case s: BatchScanExec =>
      if (s.runtimeFilters.nonEmpty || s.keyGroupedPartitioning.isDefined) None
      else sizeInBytes(s).map((s.inputPartitions.size, _))
    case r: AQEShuffleReadExec => r.partitionSpecs match {
      case Seq(_: CoalescedPartitionSpec) => sizeInBytes(r.child).map((1, _))
      case _                              => None
    }
    case j: BroadcastHashJoinExec => source(streamed(j.buildSide, j.left, j.right))
    case j: BroadcastNestedLoopJoinExec if j.joinType.isInstanceOf[InnerLike] =>
      source(streamed(j.buildSide, j.left, j.right))
    case _: Exchange     => None
    case u: UnaryExecNode => source(u.child)
    case _               => None
  }

  private def streamed(build: BuildSide, left: SparkPlan, right: SparkPlan): SparkPlan =
    if (build == BuildLeft) right else left

  private def dependsOnRuntime(filters: Seq[Expression]): Boolean =
    filters.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))
}
