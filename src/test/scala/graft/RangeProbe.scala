package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.internal.SQLConf

/** Which registered queries still range-partition: each query (default:
  * all) is collected on the spec session, and those whose final plan
  * keeps a range exchange print every global sort's input size
  * estimate and the plan node where that estimate first crosses
  * `SmallSortStrategy`'s threshold, top-down. The committed list is
  * plans/range_exchanges_sf0.001.txt.
  *
  * Usage: sbt "Test/runMain graft.RangeProbe <sfDir> [query…]"
  */
object RangeProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkTestBase.session
    def over(p: LogicalPlan): LogicalPlan = p.children
      .find(_.stats.sizeInBytes > SQLConf.get.autoBroadcastJoinThreshold)
      .fold(p)(over)
    val names = if (args.length > 1) args.toSeq.tail
      else SparkEntry.queries.keys.toSeq.sorted
    for (name <- names) try {
      val df = SparkEntry.queries(name)(spark, args(0))
      df.collect()
      val qe = df.queryExecution
      if (qe.executedPlan.toString.split("== Initial Plan ==").head
          .contains("rangepartitioning"))
        println(s"[ranges] $name " + qe.optimizedPlan.collect {
          case s: Sort if s.global =>
            s"${s.child.stats.sizeInBytes} B from ${over(s.child).nodeName}"
        }.mkString(", "))
    } catch {
      case NonFatal(e) =>
        println(s"[ranges] $name FAILED: ${String.valueOf(e.getMessage).take(80)}")
    }
    spark.stop()
  }
}
