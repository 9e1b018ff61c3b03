package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, LogicalQueryStage, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** A small ORDER BY sorts in one task — an AQE runtime rule. A global
  * sort plans a range exchange: one job samples the range bounds, a
  * second shuffles, and AQE's coalescing then folds that shuffle's
  * output back into one partition when it is small. Once the sort's
  * input is fully materialized (every leaf a query stage) and its
  * measured size is one AQE would coalesce into a single partition —
  * at most `coalescePartitions.minPartitionSize` when
  * `parallelismFirst` is on, `advisoryPartitionSizeInBytes` when off —
  * the sort runs over a no-shuffle `Repartition(1)` instead:
  * `SinglePartition` satisfies the sort's ordering, so no range
  * exchange, no sampling job and no range shuffle are planned. Same
  * rows, same order, same one output partition. Off with coalescing
  * (`spark.sql.adaptive.coalescePartitions.enabled=false`), or by name
  * through `spark.sql.adaptive.optimizer.excludedRules`. */
object SmallSortRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case s @ Sort(_, true, child, _) if !child.isInstanceOf[Repartition] && small(child) =>
      s.copy(child = Repartition(1, shuffle = false, child))
  }

  private def small(child: LogicalPlan): Boolean =
    conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED) &&
      child.collectLeaves().forall(_.isInstanceOf[LogicalQueryStage]) &&
      child.stats.sizeInBytes <= (
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
          conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
        else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
}
