package graft.functions

import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, Repartition, Sort, Window}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime rule: a global `Sort`, or a `Window` with no partition
  * spec, over an input that has already run and is tiny, sorts in one
  * partition. It puts a coalesce to one partition (`Repartition(1,
  * shuffle = false)`) under the node; `CoalesceExec(1)` reports
  * `SinglePartition`, which satisfies both the total order and
  * `AllTuples`, so the range or single-partition exchange — and the
  * range sampling job — are never planned. A sorted aggregate of a few
  * hundred rows then runs 2 jobs instead of 4.
  *
  * "Already run": every leaf of the input is a materialized query stage
  * or a `LocalRelation`, so the size is a runtime figure, not an
  * estimate. "Tiny": at most `spark.sql.adaptive.coalescePartitions
  * .minPartitionSize` — below it AQE would coalesce that shuffle to one
  * partition anyway, so the rule only skips a shuffle that moves no
  * data; a large result keeps its parallel range sort. An aggregate
  * over its stage counts the stage's partial buffers, so a percentile
  * whose buffers pass the bound keeps its range sort (and its parallel
  * final merge) even when it returns 3 rows.
  *
  * Left alone: a node whose input is already one partition (the rule
  * runs to a fixed point), a node over its own materialized range or
  * single-partition exchange, and anything below a nondeterministic
  * expression (`monotonically_increasing_id`, `spark_partition_id`),
  * whose values depend on the partition count.
  *
  * Installed by [[GraftExtensions]]; exclude it with
  * `spark.sql.adaptive.optimizer.excludedRules` and this class's name. */
object TinySortInOnePartition extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.expressions.exists(!_.deterministic)) plan
    else plan.mapChildren(apply) match {
      case s: Sort if s.global && qualifies(s.child) =>
        s.copy(child = Repartition(1, shuffle = false, s.child))
      case w: Window if w.partitionSpec.isEmpty && qualifies(w.child) =>
        w.copy(child = Repartition(1, shuffle = false, w.child))
      case other => other
    }

  private def qualifies(input: LogicalPlan): Boolean =
    !onePartition(input) && input.collectLeaves().forall {
      case q: LogicalQueryStage => q.isMaterialized && !ownExchange(q)
      case _: LocalRelation => true
      case _ => false
    } && tiny(input)

  private def onePartition(p: LogicalPlan): Boolean = p match {
    case Repartition(1, _, _) => true
    case _: Project | _: Filter | _: Sort | _: Window => onePartition(p.children.head)
    case _ => false
  }

  /** A stage that is the range or single-partition exchange a sort or an
    * unpartitioned window planned for itself: coalescing its read saves
    * nothing. */
  private def ownExchange(q: LogicalQueryStage): Boolean =
    q.physicalPlan.collect { case s: ShuffleQueryStageExec => s.shuffle.outputPartitioning }
      .exists {
        case _: RangePartitioning | SinglePartition => true
        case _ => false
      }

  private def tiny(input: LogicalPlan): Boolean =
    input.stats.sizeInBytes <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
}
