package graft

import java.io.File
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Relational
import graft.recommend.AlsPipeline

/** Semantic properties of the core relational operators (SURVEY.md §5
  * tier 1-2) on the sf0.001 testdata. DuckDB hash-equality is the
  * driver's t2 gate; these assert engine-internal invariants.
  */
class RelationalSpec extends SparkTestBase {

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() === 10)
  }

  /** Runs every query in `qs` in name order and fails once, naming
    * each one that returned 0 rows or threw, so one failure does not
    * hide the queries after it.
    */
  private def assertAllNonEmpty(
      qs: Map[String, (SparkSession, String) => DataFrame]): Unit = {
    val offenders = qs.keys.toSeq.sorted.flatMap { name =>
      try {
        if (qs(name)(spark, sf).count() > 0) None
        else Some(s"$name: 0 rows")
      } catch {
        case NonFatal(e) =>
          Some(s"$name: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    assert(offenders.isEmpty, s"${offenders.size} of ${qs.size} " +
      s"queries returned no rows or threw:\n${offenders.mkString("\n")}")
  }

  // The reference-data queries ignore sfDir (AlsPipeline.queries), so
  // they are checked on their own, where their CSVs exist.
  test("every query runs non-empty at sf0.001") {
    assertAllNonEmpty(SparkEntry.queries -- AlsPipeline.queries.keySet)
  }

  test("every reference-data query runs non-empty") {
    val missing = Seq("ratings.csv", "movies.csv")
      .map(f => new File(AlsPipeline.DataDir, f)).filterNot(_.isFile)
    assume(missing.isEmpty,
      s"reference CSVs absent: ${missing.mkString(", ")}")
    assertAllNonEmpty(AlsPipeline.queries)
  }

  test("anti-join and semi-join partition the dimension") {
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val ords = spark.read.parquet(s"$sf/orders.parquet")
    val anti = cust.join(ords, col("c_custkey") === col("o_custkey"),
      "left_anti").count()
    val semi = cust.join(ords, col("c_custkey") === col("o_custkey"),
      "left_semi").count()
    assert(anti + semi === cust.count())
  }

  test("top-k equals sort-then-limit") {
    val viaSort = Relational.sortGlobal(spark, sf).limit(10)
      .collect().map(_.getLong(0))
    val viaTopK = spark.read.parquet(s"$sf/orders.parquet")
      .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(10)
      .collect().map(_.getLong(0))
    assert(viaSort.sameElements(viaTopK))
  }

  test("union-all count is additive") {
    val u = Relational.unionAll(spark, sf).count()
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val f = o.filter(col("o_orderstatus") === "F").count()
    val oo = o.filter(col("o_orderstatus") === "O").count()
    assert(u === f + oo)
  }

  test("min-max scaling bounds and monotonicity") {
    val scaled = Relational.minMaxScale(spark, sf)
    val row = scaled.agg(min("scaled"), max("scaled")).first()
    assert(row.getDouble(0) === 1.0)
    assert(row.getDouble(1) === 5.0)
    // monotone: scaling preserves the o_totalprice ordering
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .orderBy(desc("o_totalprice")).select("o_orderkey")
      .limit(1).first().getLong(0)
    val top = scaled.orderBy(desc("scaled")).limit(1).first().getLong(0)
    assert(o === top)
  }

  test("broadcast hint reaches the physical plan for dimension joins") {
    val plan = Relational.topK(spark, sf).queryExecution.executedPlan
      .toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"expected BroadcastHashJoin in:\n$plan")
  }

  test("filter pushdown reaches the parquet scan") {
    val plan = Relational.filterPredicates(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"expected pushed filters in:\n$plan")
  }
}
