package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, LogicalQueryStage,
  ShuffleQueryStageExec}
import org.apache.spark.sql.execution.datasources.{FilePartition, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

import graft.functions.{FloatDot, LongL2, MinGramHash60, MinHashes60, SpanHashes60}

/** Engine extension point (`spark.sql.extensions=graft.GraftExtensions`,
  * wired in GraftSession.configure): registers the engine's native
  * Catalyst expressions so they are callable from SQL and `expr(...)` in
  * any session — the idiomatic way to ship custom codegen'd functions
  * without forking Spark — and the [[OnePartitionSort]] rule, in both the
  * static and the AQE runtime optimizer.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDot].getName, "float_dot"),
      (children: Seq[Expression]) => FloatDot(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("long_l2"),
      new ExpressionInfo(classOf[LongL2].getName, "long_l2"),
      (children: Seq[Expression]) => LongL2(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("min_gram_hash60"),
      new ExpressionInfo(classOf[MinGramHash60].getName, "min_gram_hash60"),
      (children: Seq[Expression]) => MinGramHash60(children.head)))
    ext.injectFunction((
      FunctionIdentifier("span_hashes60"),
      new ExpressionInfo(classOf[SpanHashes60].getName, "span_hashes60"),
      (children: Seq[Expression]) => SpanHashes60(children.head)))
    ext.injectFunction((
      FunctionIdentifier("min_hashes60"),
      new ExpressionInfo(classOf[MinHashes60].getName, "min_hashes60"),
      (children: Seq[Expression]) => MinHashes60(children.head, children(1))))
    ext.injectOptimizerRule(_ => OnePartitionSort)
    ext.injectRuntimeOptimizerRule(_ => OnePartitionSort)
  }
}

/** Sorts an ORDER BY input that is one partition already in that one
  * task. A global `Sort` over such an input gets
  * `Repartition(1, shuffle = false)` under it, so it plans as `SortExec`
  * over `CoalesceExec(1)`: a single partition satisfies the ordered
  * distribution, and neither the job that samples range bounds nor the
  * range shuffle runs.
  *
  * The input counts as one partition when Spark would read every leaf
  * under the sort as one:
  *  - files (`LogicalRelation`, `LocalRelation`, at any planning): their
  *    bytes fit in one scan split, the size `FilePartition.maxSplitBytes`
  *    computes for them (at most `spark.sql.files.maxPartitionBytes`,
  *    else the larger of `openCostInBytes` and bytes per core), so a
  *    larger scan keeps its parallel tasks;
  *  - materialized shuffle stages (`LogicalQueryStage`, at AQE
  *    re-optimization): their row bytes (the stage's `dataSize`, which
  *    is larger than the compressed blocks AQE coalesces by) total at
  *    or under what AQE's coalescing reads back as one partition, the
  *    advisory partition size with `parallelismFirst` off, as
  *    [[GraftSession]] sets it; broadcast stages are not partitioned
  *    input;
  * and Spark's estimate of the sort's own input, scaled from those same
  * leaf sizes, is at or under the advisory size too: a join or expand
  * that multiplies the rows past it keeps the range sort. The estimate
  * is not an upper bound (a `Project` or `Aggregate` that builds strings
  * or arrays is scaled by type widths); what [[bounded]] guarantees is
  * that no operator grows the rows beyond what Spark's size estimator
  * accounts for. So the rule drops a shuffle whose two sides would each
  * run one task; it does not trade a parallel sort for a serial one.
  * It leaves alone
  *  - streaming plans;
  *  - anything under a limit, offset or tail: a top-k plans as
  *    `TakeOrderedAndProject`, which has no range exchange to save;
  *  - a sort whose input holds an operator or leaf outside [[bounded]]
  *    (`Generate`, typed/object operators, `LogicalRDD`), or a
  *    `Repartition` — which is what the rule puts there, so a second
  *    application changes nothing;
  *  - a sort whose own range shuffle is already a query stage.
  */
object OnePartitionSort extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan else rewrite(plan)

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail => plan
    case s @ Sort(_, true, child, _) if bounded(child) && onePartition(child) =>
      s.copy(child = Repartition(1, shuffle = false, child))
    case _ => plan.mapChildren(rewrite)
  }

  private def onePartition(child: LogicalPlan): Boolean = {
    val leaves = child.collectLeaves()
    val files = leaves.collect { case l @ (_: LogicalRelation | _: LocalRelation) =>
      l.stats.sizeInBytes }.sum
    val shuffles = leaves.collect {
      case q: LogicalQueryStage if !q.physicalPlan.isInstanceOf[BroadcastQueryStageExec] =>
        q.stats.sizeInBytes }.sum
    val oneRead = BigInt(if (!conf.coalesceShufflePartitionsEnabled ||
      conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) 0L
      else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    files <= FilePartition.maxSplitBytes(SparkSession.active, files.toLong) &&
      shuffles <= oneRead && child.stats.sizeInBytes <= oneRead
  }

  /** Whether every operator from `p` down to its leaves is one whose row
    * growth Spark's size estimator accounts for, over a leaf whose size
    * it knows.
    */
  private def bounded(p: LogicalPlan): Boolean = p match {
    case LogicalQueryStage(_, s: ShuffleQueryStageExec) =>
      !s.outputPartitioning.isInstanceOf[RangePartitioning]
    case _: LogicalQueryStage | _: LogicalRelation | _: LocalRelation => true
    case Sort(_, false, _, _) | _: Project | _: Filter | _: Aggregate | _: Window | _: Union |
        _: Expand | _: Join | _: Intersect | _: Except | _: GlobalLimit | _: LocalLimit |
        _: Offset | _: SubqueryAlias | _: Deduplicate | _: Distinct =>
      p.children.forall(bounded)
    case _ => false
  }
}
