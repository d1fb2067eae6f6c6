package graft

import java.io.File
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.Sort
import graft.plans.SmallSortStrategy

/** Differential check of `SmallSortStrategy`: every query perfbench
  * times returns the same rows in the same order whether its global
  * ORDER BY sorts in one task or behind Spark's range exchange. The
  * one allowed difference is the order inside a run of rows tied on
  * every ORDER BY key, which the range sort does not fix either.
  */
class SmallSortSpec extends SparkTestBase {

  /** The timed queries of every workload in perfbench/workloads.json. */
  private val timed: Seq[String] =
    new ObjectMapper().readTree(new File("perfbench/workloads.json"))
      .get("workloads").elements().asScala
      .flatMap(_.get("queries").elements().asScala.map(_.asText)).toSeq

  /** The final plan, without AQE's copy of the initial one. */
  private def finalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head

  /** `body` with the strategy taken out of the session, put back even
    * if the body throws. `SparkEntry.queries` installs it on every call,
    * so a query is built outside this and collected inside it.
    */
  private def withoutSmallSort[T](body: => T): T = {
    val saved = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = saved.filterNot(_ == SmallSortStrategy)
    try body finally spark.experimental.extraStrategies = saved
  }

  /** A value's text; a byte array's default text is its identity. */
  private def canon(v: Any): String = v match {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case x => String.valueOf(x)
  }

  /** `rows` in order, cut into runs that tie on every ORDER BY key
    * (positions `keys` in the output), each run's rows sorted.
    */
  private def tieRuns(rows: Seq[Row], keys: Seq[Int]): Seq[Seq[String]] =
    rows.foldLeft(List.empty[(Seq[String], List[String])]) {
      case ((k, run) :: done, r) if k == keys.map(i => canon(r.get(i))) =>
        (k, canon(r) :: run) :: done
      case (acc, r) => (keys.map(i => canon(r.get(i))), List(canon(r))) :: acc
    }.reverse.map(_._2.sorted)

  test("perfbench's timed queries return the same rows with and without the one-task sort") {
    assert(timed.size === 24, timed)
    val fired = timed.filter { q =>
      val withRule = SparkEntry.queries(q)(spark, sf)
      val a = withRule.collect().toSeq
      val plain = SparkEntry.queries(q)(spark, sf)
      val b = withoutSmallSort(plain.collect().toSeq)
      // the ORDER BY keys, as output positions; a key the output drops
      // cannot split ties, so its run compares as one multiset
      val out = plain.queryExecution.analyzed.output.map(_.exprId)
      val keys = plain.queryExecution.optimizedPlan.collectFirst {
        case s: Sort if s.global => s.order.map(_.child).collect {
          case a: Attribute if out.contains(a.exprId) => out.indexOf(a.exprId)
        }
      }.getOrElse(Nil)
      assert(a.size === b.size, s"$q: row counts differ")
      assert(tieRuns(a, keys) === tieRuns(b, keys),
        s"$q: rows or order differ (ORDER BY key positions $keys)")
      !finalPlan(withRule).contains("rangepartitioning") &&
        finalPlan(plain).contains("rangepartitioning")
    }
    info(s"the one-task sort replaced a range exchange in ${fired.size} of " +
      s"${timed.size}: ${fired.mkString(" ")}")
    // non-vacuity: most timed queries' sorts really changed plan
    assert(fired.size >= timed.size / 2, s"the one-task sort fired only for $fired")
  }
}
