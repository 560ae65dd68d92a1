package graft.plans

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.OrderedDistribution
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime optimizer rule: a global `Sort` whose input is small sorts
  * in one task instead of behind a range exchange.
  *
  *   Sort(order, global, child)  →  Sort(order, global, Repartition(1, shuffle = false, child))
  *
  * `CoalesceExec(1)` reports `SinglePartition`, which satisfies the sort's
  * `OrderedDistribution`, so EnsureRequirements plans no exchange. A range
  * exchange costs a sampling job that re-reads its input to find bounds,
  * plus a map stage of its own; over an input AQE would read as one
  * partition anyway, both buy nothing. The output order is the same.
  *
  * It fires only when all of these hold, so no query loses parallelism:
  *   - `child`'s size is at most the largest input AQE's partition
  *     coalescing already reads as one partition (the coalescing confs,
  *     read the way `CoalesceShufflePartitions` sizes its target);
  *   - every leaf under `child` is a materialized query stage, so the size
  *     is a runtime statistic, not a file-size guess;
  *   - no `Generate` or `Expand` sits between those stages and the sort:
  *     their size estimates ignore how they multiply rows;
  *   - `child` is not already a `Repartition(1, …)` (idempotent across
  *     AQE's re-optimizations), nor a stage whose output is already ordered
  *     for the sort: then the range exchange has run, sampling included;
  *   - the sort is not under a limit (optionally through a `Project`),
  *     which plans as `TakeOrderedAndProject` and has no sampling job.
  */
object SmallSortOnePartition extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) rewrite(plan, underLimit = false)
    else plan

  private def rewrite(p: LogicalPlan, underLimit: Boolean): LogicalPlan = {
    val childUnderLimit = p match {
      case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail => true
      case _: Project => underLimit
      case _ => false
    }
    p.mapChildren(rewrite(_, childUnderLimit)) match {
      case s: Sort if s.global && !underLimit && small(s) =>
        val n = s.copy(child = Repartition(1, shuffle = false, s.child))
        n.copyTagsFrom(s)
        n
      case other => other
    }
  }

  private def small(s: Sort): Boolean = s.child match {
    case Repartition(1, _, _) => false
    case q: LogicalQueryStage if q.physicalPlan.outputPartitioning.satisfies(OrderedDistribution(s.order)) =>
      false
    case child =>
      child.collectLeaves().forall {
        case q: LogicalQueryStage => q.isMaterialized
        case _ => false
      } &&
        child.find { case _: Generate | _: Expand => true; case _ => false }.isEmpty &&
        child.stats.sizeInBytes <= oneTaskBytes
  }

  /** The largest shuffle input AQE's coalescing reads as one partition.
    * Parallelism-first (the default) targets total / parallelism but never
    * below the minimum partition size, so one partition results only at or
    * under that minimum; otherwise the target is the advisory size. */
  private def oneTaskBytes: Long = {
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST) ||
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).isDefined) minSize
    else math.max(minSize, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
  }
}
