package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{CodegenSupport, CoalesceExec, SparkPlan, UnaryExecNode}

/** The rows of a child that already forms one partition, reported as
  * `SinglePartition`: the node [[SinglePartitionExchanges]] plants where
  * it drops an exchange. It generates no code of its own (produce,
  * consume and the input RDDs are the child's), so `CollapseCodegenStages`
  * fuses the operators on both sides into one generated stage, where a
  * `CoalesceExec` would end one stage and start another. The fused
  * stage runs over the child's one partition; executed on its own the
  * node keeps `CoalesceExec(1)`'s contract, exactly one partition even
  * for an input that turns out to have none.
  */
case class OnePartitionExec(child: SparkPlan) extends UnaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = child.output

  override def outputPartitioning: Partitioning = SinglePartition

  override protected def doExecute(): RDD[InternalRow] = {
    val rdd = child.execute()
    if (rdd.getNumPartitions < 1) new CoalesceExec.EmptyRDDWithPartitions(sparkContext, 1)
    else rdd.coalesce(1, shuffle = false)
  }

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  override protected def doProduce(ctx: CodegenContext): String =
    child.asInstanceOf[CodegenSupport].produce(ctx, this)

  override def usedInputs: AttributeSet = AttributeSet.empty

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String =
    consume(ctx, input)

  override protected def withNewChildInternal(newChild: SparkPlan): OnePartitionExec =
    copy(child = newChild)
}
