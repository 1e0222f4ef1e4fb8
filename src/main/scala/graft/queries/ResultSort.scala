package graft.queries

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.{Command, LocalRelation, LogicalPlan, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SQLExecution, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.internal.SQLConf

/** The final total order of a small result, sorted in one task: plans
  * a global `Sort` at the answer root as a local sort over a
  * one-partition coalesce, instead of a range shuffle (a bounds-sampling
  * job, a map job, then the result job). It fires only when every leaf
  * below the sort has an exact size — a materialized adaptive query
  * stage or a local relation, with at least one stage — and that size
  * is within the target AQE's `CoalesceShufflePartitions` would use
  * for it, i.e. when AQE would coalesce the range shuffle to one
  * partition anyway. Adaptive re-planning roots the plan in
  * `ReturnAnswer`, so a collected query takes the one-task sort once
  * its last shuffle stage below the sort has run. An initial plan has
  * no stage and is never changed; a write, whose execution root is a
  * command, keeps the range shuffle. Neither does a sort whose input
  * is its own range shuffle (the first stage over a local relation):
  * that stage has already run, so the global sort over its read is
  * kept and no job would be saved. Installed by [[Tables.prep]]. */
object ResultSort extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(Sort(order, true, child, _)) if !underCommand && small(child) =>
      SortExec(order, global = false, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  /** A write's query is re-planned under `ReturnAnswer` too; the
    * current execution's root tells a command from a result. */
  private def underCommand: Boolean =
    Option(SparkContext.getOrCreate().getLocalProperty(SQLExecution.EXECUTION_ID_KEY))
      .flatMap(id => Option(SQLExecution.getQueryExecution(id.toLong)))
      .exists(_.logical.isInstanceOf[Command])

  private def small(child: LogicalPlan): Boolean = {
    val conf = SQLConf.get
    val leaves = child.collectLeaves()
    conf.coalesceShufflePartitionsEnabled && !ownRangeStage(child) &&
    leaves.exists(_.isInstanceOf[LogicalQueryStage]) && leaves.forall {
      case s: LogicalQueryStage => s.isMaterialized
      case _: LocalRelation => true
      case _ => false
    } && onePartition(conf, child.stats.sizeInBytes)
  }

  /** The sort's input is a materialized range shuffle: the sort's own
    * exchange, made a stage because nothing below it was one. */
  private def ownRangeStage(child: LogicalPlan): Boolean = child match {
    case LogicalQueryStage(_, s: ShuffleQueryStageExec) =>
      s.shuffle.outputPartitioning.isInstanceOf[RangePartitioning]
    case _ => false
  }

  /** Whether `bytes` fit `ShufflePartitionsUtil`'s coalesced-partition
    * target size for them under the session's AQE confs. */
  private def onePartition(conf: SQLConf, bytes: BigInt): Boolean = {
    val minParts = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM)
      .getOrElse(if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        SparkContext.getOrCreate().defaultParallelism else 1)
    val perPart = (bytes + minParts - 1) / minParts
    bytes <= perPart.min(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
      .max(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
  }
}
