package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, If, IsNull, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

import graft.functions.{DotProductQ, FiletimeToTimestamp, HammingDistance, HllSketchAgg}

/** Algebraic simplification of graft's own expressions — a
  * Rule[LogicalPlan] injected as an optimizer rule: `hamming_distance
  * (x, x)` is 0 for any deterministic x, so the (possibly expensive)
  * comparison never runs. The pattern every self-join distance filter
  * produces on its diagonal. NULL inputs must still null-propagate
  * (hamming_distance(NULL, NULL) is NULL, not 0), so a nullable operand
  * keeps an IsNull guard instead of folding to a bare 0.
  */
object SimplifyGraftExpressions extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case HammingDistance(a, b) if a.deterministic && a.semanticEquals(b) =>
        if (a.nullable) If(IsNull(a), Literal(null, IntegerType), Literal(0, IntegerType))
        else Literal(0, IntegerType)
    }
}

/** Fuses the higher-order dot-product idiom
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, x) -> acc + x)`
  * into the codegen'd [[DotProductQ]] — users (and the SQL surface)
  * writing the natural HOF form get the fused no-allocation loop
  * automatically (measured ~5× on the embedding-dedup scoring pass).
  *
  * Null semantics are identical (spec-asserted): zip_with pads a length
  * mismatch with nulls, the multiply nulls the element, the add poisons
  * the sum → NULL; DotProductQ returns NULL on mismatch or any null
  * element. The rewrite only fires for ARRAY<BIGINT> inputs with the
  * exact multiply/add/identity lambda shape. Overflow caveat: the fused
  * loop wraps where ANSI Add would raise — within the engine's 1e-6
  * quantization contract (|element| ≤ 2^21) a wrap needs >2^20
  * dimensions, far beyond any embedding this engine stores.
  */
object FuseDotProduct extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate, LambdaFunction, Multiply, ZipWith}
  import org.apache.spark.sql.types.{ArrayType, LongType}

  private def elemLong(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _                      => false
  }

  private def isIdentity(lf: LambdaFunction): Boolean =
    lf.arguments.size == 1 && lf.function.semanticEquals(lf.arguments.head)

  private def isElemMultiply(e: Expression): Boolean = e match {
    case LambdaFunction(m: Multiply, Seq(x, y), _) =>
      (m.left.semanticEquals(x) && m.right.semanticEquals(y)) ||
        (m.left.semanticEquals(y) && m.right.semanticEquals(x))
    case _ => false
  }

  private def isAccAdd(lf: LambdaFunction): Boolean = lf match {
    case LambdaFunction(a: Add, Seq(acc, x), _) =>
      (a.left.semanticEquals(acc) && a.right.semanticEquals(x)) ||
        (a.left.semanticEquals(x) && a.right.semanticEquals(acc))
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(zw: ZipWith, Literal(0L, LongType),
            merge: LambdaFunction, finish: LambdaFunction)
          if elemLong(zw.left) && elemLong(zw.right) &&
            isElemMultiply(zw.function) && isAccAdd(merge) &&
            isIdentity(finish) =>
        DotProductQ(zw.left, zw.right)
    }
}

/** SparkSessionExtensions entry point: injects graft's custom
  * expressions into every session built with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) — the standing registration
  * path, vs. GraftFunctions.register's per-session temp functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (
        new FunctionIdentifier("filetime_to_timestamp"),
        new ExpressionInfo(classOf[FiletimeToTimestamp].getName, "filetime_to_timestamp"),
        (exprs: Seq[Expression]) => FiletimeToTimestamp(exprs.head)))
    ext.injectFunction(
      (
        new FunctionIdentifier("hamming_distance"),
        new ExpressionInfo(classOf[HammingDistance].getName, "hamming_distance"),
        (exprs: Seq[Expression]) => HammingDistance(exprs.head, exprs(1))))
    ext.injectFunction(
      (
        new FunctionIdentifier("dot_product_q"),
        new ExpressionInfo(classOf[DotProductQ].getName, "dot_product_q"),
        (exprs: Seq[Expression]) => DotProductQ(exprs.head, exprs(1))))
    // a native AGGREGATE function: the analyzer wraps an
    // AggregateFunction-valued builder in AggregateExpression itself
    ext.injectFunction(
      (
        new FunctionIdentifier("graft_hll"),
        new ExpressionInfo(classOf[HllSketchAgg].getName, "graft_hll"),
        (exprs: Seq[Expression]) => HllSketchAgg(exprs.head)))
    ext.injectFunction(
      (
        new FunctionIdentifier("graft_minhash"),
        new ExpressionInfo(classOf[graft.functions.MinHashAgg].getName,
          "graft_minhash"),
        (exprs: Seq[Expression]) => graft.functions.MinHashAgg(exprs.head)))
    ext.injectFunction(
      (
        new FunctionIdentifier("graft_kmv_median"),
        new ExpressionInfo(classOf[graft.functions.KmvMedianAgg].getName,
          "graft_kmv_median"),
        (exprs: Seq[Expression]) => graft.functions.KmvMedianAgg(exprs.head)))
    ext.injectFunction(
      (
        new FunctionIdentifier("graft_f2"),
        new ExpressionInfo(classOf[graft.functions.F2SketchAgg].getName,
          "graft_f2"),
        (exprs: Seq[Expression]) =>
          graft.functions.F2SketchAgg(exprs.head, exprs(1))))
    ext.injectFunction(
      (
        new FunctionIdentifier("winnow_stats"),
        new ExpressionInfo(classOf[graft.functions.WinnowStats].getName,
          "winnow_stats"),
        (exprs: Seq[Expression]) => graft.functions.WinnowStats(exprs.head)))
    ext.injectFunction(
      (
        new FunctionIdentifier("winnow_fps"),
        new ExpressionInfo(classOf[graft.functions.WinnowFps].getName,
          "winnow_fps"),
        (exprs: Seq[Expression]) => graft.functions.WinnowFps(exprs.head)))
    // the fused scalar kernels, so SQL users have full parity with the
    // Column API (literal-argument builders for the parameterized two)
    ext.injectFunction(
      (
        new FunctionIdentifier("minhash_slices"),
        new ExpressionInfo(classOf[graft.functions.MinhashSlices].getName,
          "minhash_slices"),
        (exprs: Seq[Expression]) => graft.functions.MinhashSlices(exprs.head)))
    ext.injectFunction(
      (
        new FunctionIdentifier("simhash16"),
        new ExpressionInfo(classOf[graft.functions.Simhash16].getName,
          "simhash16"),
        (exprs: Seq[Expression]) => graft.functions.Simhash16(exprs.head)))
    ext.injectFunction(
      (
        new FunctionIdentifier("chars_in_ranges"),
        new ExpressionInfo(classOf[graft.functions.CountCharsInRanges].getName,
          "chars_in_ranges"),
        (exprs: Seq[Expression]) => graft.functions.CountCharsInRanges(
          exprs.head, graft.functions.GraftFunctions.parseRanges(
            graft.functions.GraftFunctions.litString(exprs(1),
              "chars_in_ranges")))))
    ext.injectFunction(
      (
        new FunctionIdentifier("jaro_winkler"),
        new ExpressionInfo(classOf[graft.functions.JaroWinkler].getName,
          "jaro_winkler"),
        (exprs: Seq[Expression]) => graft.functions.JaroWinkler(exprs.head,
          exprs(1))))
    ext.injectFunction(
      (
        new FunctionIdentifier("gram_run_stats"),
        new ExpressionInfo(classOf[graft.functions.GramRunStats].getName,
          "gram_run_stats"),
        (exprs: Seq[Expression]) => graft.functions.GramRunStats(exprs.head,
          graft.functions.GraftFunctions.litInt(exprs(1),
            "gram_run_stats"))))
    ext.injectOptimizerRule(_ => SimplifyGraftExpressions)
    ext.injectOptimizerRule(_ => FuseDotProduct)
    // injected optimizer rules run in the operator-optimization batch,
    // BEFORE the early scan-pushdown batch turns DataSourceV2Relation
    // into a planned scan — which is exactly where the automatic
    // late-materialization rewrite must see the raw mailbox relation
    ext.injectOptimizerRule(_ => graft.plans.AutoLateMaterialization)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // query-stage preparation rules run after EnsureRequirements, where
    // a small global sort's range exchange first exists
    ext.injectQueryStagePrepRule(_ => graft.plans.SmallSortSinglePartition)
  }
}
