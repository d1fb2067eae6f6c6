package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** A global ORDER BY whose input is small enough to broadcast sorts in
  * one task, `SortExec(global = false)` over `CoalesceExec(1)`, instead
  * of behind a range exchange, whose partitioner samples its input in a
  * job of its own before the shuffle's map stage runs in a second. A
  * larger size estimate, or a broadcast threshold of 0 or -1, keeps
  * Spark's plan, so a 100 TB result still sorts in parallel. AQE re-plans
  * with the same strategies: a sort over an aggregate of a large input
  * fires once the aggregate's shuffle stage has runtime statistics.
  */
object SmallSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if fitsOneTask(child) =>
      SortExec(order, global = false, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  private def fitsOneTask(p: LogicalPlan): Boolean = {
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    threshold > 0 && p.stats.sizeInBytes <= threshold
  }
}

/** graft's planner strategies: injected at session build by
  * `GraftExtensions`, or installed idempotently on a live session,
  * which `SparkEntry` does for every query it hands out.
  */
object GraftStrategies {
  val all: Seq[SparkStrategy] = Seq(GroupedTopKStrategy, SmallSortStrategy)

  def ensure(s: SparkSession): Unit = {
    val missing = all.filterNot(s.experimental.extraStrategies.contains)
    if (missing.nonEmpty) s.experimental.extraStrategies ++= missing
  }
}
