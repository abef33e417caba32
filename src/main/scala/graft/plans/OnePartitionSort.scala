package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** Plans a global sort over a small input as one task: `SortExec` over
  * `CoalesceExec(1)`, which is a single partition, so no range exchange
  * is added. Spark's own plan range-partitions every global sort; that
  * costs a RangePartitioner sample job and a shuffle map stage, even
  * when AQE then coalesces the range shuffle into one partition anyway.
  *
  * The strategy applies only where that coalescing would happen: AQE
  * and its partition coalescing are on, and the input's
  * `stats.sizeInBytes` is within the target size AQE's
  * `CoalesceShufflePartitions` computes from the session's confs
  * ([[fitsOnePartition]]). AQE re-plans through the session planner
  * after each stage, so a sort over a finished stage is judged on that
  * stage's runtime size, and AQE adopts the plan with the exchange
  * removed. Streaming plans are left to Spark, and so is a sort under a
  * limit, which `TakeOrderedAndProject` plans with it. Installed by
  * [[graft.GraftExtensions]]. */
object OnePartitionSort extends SparkStrategy {

  /** Set on a sort a limit consumes. AQE's optimizer drops a limit over
    * fewer rows than it keeps; the sort it exposes keeps Spark's plan,
    * so AQE keeps the `TakeOrderedAndProject` it already runs. Tags
    * survive AQE's rewrites of the plan above a finished stage. */
  private val UnderLimit = TreeNodeTag[Unit]("graft.sortUnderLimit")

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(child) => markUnderLimit(child, limited = false); Nil
    case _: GlobalLimit | _: LocalLimit => markUnderLimit(plan, limited = false); Nil
    case s: Sort if s.global && !s.isStreaming && s.getTagValue(UnderLimit).isEmpty &&
        fitsOnePartition(s.child.stats.sizeInBytes, SQLConf.get,
          SparkSession.active.sparkContext.defaultParallelism) =>
      SortExec(s.order, global = true, CoalesceExec(1, planLater(s.child))) :: Nil
    case _ => Nil
  }

  /** Tags the sort below the limits and projections at the top of `p`. */
  private def markUnderLimit(p: LogicalPlan, limited: Boolean): Unit = p match {
    case _: GlobalLimit | _: LocalLimit => markUnderLimit(p.children.head, limited = true)
    case Project(_, child) if limited => markUnderLimit(child, limited)
    case s: Sort if limited => s.setTagValue(UnderLimit, ())
    case _ =>
  }

  /** Whether AQE would coalesce a shuffle of `bytes` into one partition
    * under `conf`. The target size is `CoalesceShufflePartitions`': the
    * total over the minimum partition count (the default parallelism
    * when `parallelismFirst` is on, else 1), capped by the advisory
    * partition size and raised to the minimum partition size. */
  def fitsOnePartition(bytes: BigInt, conf: SQLConf, defaultParallelism: Int): Boolean =
    conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled && {
      val minPartitions = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) defaultParallelism else 1)
      val perPartition = (bytes + minPartitions - 1) / minPartitions
      val target = perPartition
        .min(BigInt(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)))
        .max(BigInt(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)))
      bytes <= target
    }
}
