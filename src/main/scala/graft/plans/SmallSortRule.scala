package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit,
  LogicalPlan, Offset, Project, Repartition, Sort, Tail}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Sorts a small global `orderBy` in the one task that produces its
  * input, instead of through a range-partitioning exchange.
  *
  * Spark plans every batch global sort as a range exchange: a sampling
  * job computes the sort's whole input to pick range bounds, the map
  * stage computes that input a second time, and AQE then coalesces the
  * tiny result into one partition anyway. When the plan statistics put
  * the input (`child.stats.sizeInBytes`, the estimate broadcast-join
  * planning reads) at or below [[bound]], the size under which AQE's
  * partition coalescing packs a whole shuffle into one partition, the
  * rule puts `Repartition(1, shuffle = false)` under the sort. That plans
  * as a one-partition `CoalesceExec`, whose `SinglePartition` output
  * satisfies the sort's ordered distribution, so no exchange is added:
  * no sampling job, no range map stage, no second computation of the
  * input, and the one task AQE would have left. Rows and order are
  * unchanged.
  *
  * Left alone: streaming plans, sessions with AQE or its partition
  * coalescing off (no bound), a sort a limit, offset or tail consumes
  * (Spark plans those `TakeOrderedAndProject`/`CollectTail`), and a sort
  * that is already over one partition (so a second pass is a no-op).
  * `Tables.warmup` installs the rule.
  */
object SmallSortRule extends Rule[LogicalPlan] {

  /** The input size at or below which AQE's partition coalescing packs a
    * whole shuffle into one partition: `minPartitionSize` when
    * `parallelismFirst` is on, else `advisoryPartitionSizeInBytes`; none
    * when AQE or its coalescing is off. */
  private def bound(conf: SQLConf): Option[Long] =
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled)
      None
    else Some(conf.getConf(
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE
      else SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))

  override def apply(plan: LogicalPlan): LogicalPlan = bound(conf) match {
    case Some(max) if !plan.isStreaming =>
      val limited = plan.collect {
        case l @ (_: GlobalLimit | _: LocalLimit | _: Offset | _: Tail) =>
          l.children.collect {
            case s: Sort => s
            case Project(_, s: Sort) => s
          }
      }.flatten
      // top-down, so a sort is seen as `collect` saw it (its subtree not
      // yet rebuilt) and the identity test against `limited` holds
      plan transformDown {
        case s @ Sort(_, true, child, _) if !onePartition(child) &&
            !limited.exists(_ eq s) && child.stats.sizeInBytes <= max =>
          s.copy(child = Repartition(1, shuffle = false, child))
      }
    case _ => plan
  }

  private def onePartition(p: LogicalPlan): Boolean = p match {
    case Repartition(1, _, _) => true
    case _ => false
  }

  /** Attach to a live session (idempotent). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
}
