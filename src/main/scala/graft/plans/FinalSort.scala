package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation,
  LogicalPlan, Project, Repartition, Sort, SubqueryAlias, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec,
  CoalesceShufflePartitions, LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.datasources.{V1WriteCommand,
  WriteFiles}
import org.apache.spark.sql.internal.SQLConf

/** Final-sort shape, chosen from the input size actually measured.
  *
  * A global sort plans a range exchange: a sampling job, a shuffle, then
  * the sort. When AQE would read the final stage's input in one task
  * anyway, `Sort(global = false)` over `Repartition(1, shuffle = false)`
  * (what `coalesce(1).sortWithinPartitions` builds) gives the same rows
  * in the same total order with no exchange and no sampling job.
  *
  * The plan's final global sort (seen through projections, aliases, a
  * coalesce and a write) is rewritten only when every leaf below it is a
  * materialized shuffle stage AQE may coalesce
  * (`CoalesceShufflePartitions.isSupported`, so a fixed-count
  * `repartition(n, …)` such as `Fan.out`'s never qualifies), a broadcast
  * stage or a `LocalRelation`, and the bytes of those shuffle and local
  * leaves add up to at most `coalescePartitions.minPartitionSize`, below
  * which AQE coalesces the read into one partition in both
  * `parallelismFirst` modes. A scan or an unmaterialized subtree as a
  * leaf keeps the range sort, so no stage doing real work loses its
  * parallelism. Installed as a runtime optimizer rule (AQE re-optimizes
  * with each materialized stage as a `LogicalQueryStage` leaf) and as a
  * static one (plans over driver-built frames have no stage). */
final case class FinalSort(session: SparkSession) extends Rule[LogicalPlan] {

  private lazy val coalesce = CoalesceShufflePartitions(session)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan else rewrite(plan)

  private def rewrite(p: LogicalPlan): LogicalPlan = p match {
    case Sort(order, true, child, _) if oneTask(child) =>
      Sort(order, global = false, Repartition(1, shuffle = false, child))
    case _: Project | _: SubqueryAlias | _: V2WriteCommand | _: WriteFiles |
        _: V1WriteCommand | Repartition(_, false, _) =>
      p.withNewChildren(p.children.map(rewrite))
    case _ => p
  }

  private def oneTask(child: LogicalPlan): Boolean = {
    val bytes = child.collectLeaves().flatMap {
      case l: LocalRelation => Seq(Some(l.stats.sizeInBytes))
      case q: LogicalQueryStage => q.physicalPlan.collectLeaves().map(stage)
      case _ => Seq(None)
    }
    bytes.forall(_.isDefined) && bytes.flatten.sum <=
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
  }

  /** Bytes a final stage reads from `leaf`, if the rule may fire on it. */
  private def stage(leaf: SparkPlan): Option[BigInt] = leaf match {
    case s: ShuffleQueryStageExec if s.isMaterialized &&
        conf.coalesceShufflePartitionsEnabled &&
        coalesce.isSupported(s.shuffle) =>
      Some(BigInt(s.mapStats.map(_.bytesByPartitionId.sum).getOrElse(0L)))
    case _: BroadcastQueryStageExec => Some(BigInt(0))
    case _ => None
  }
}
