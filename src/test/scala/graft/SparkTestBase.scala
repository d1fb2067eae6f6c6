package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite
import graft.util.Delta

/** One shared local session per suite (lazy; Spark reuses the
  * singleton across suites in the same JVM).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sf: String = "/root/testdata/sf0.001"

  /** The registered split followed by the two hostile ones each
    * merge ≡ rebuild spec also folds: an empty batch, and a batch that
    * is the whole corpus (so the base is empty).
    */
  def deltasFor(registered: Delta): Seq[Delta] = Seq(registered,
    Delta(lit(false), "empty", broadcast = false),
    Delta(lit(true), "all", broadcast = false))

  /** `body`'s result and the Spark jobs it starts on this thread: its
    * jobs carry a fresh job group, and a marker job started after it
    * proves the listener has seen all of them (the bus delivers in
    * order).
    */
  def jobsStartedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet(): Unit
          case Some(g) if g == s"$group-end" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      val result = body
      sc.setJobGroup(s"$group-end", "marker")
      spark.range(1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never reported")
      (result, jobs.get)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = graft.util.Confs.session("4")
      // local[4, 2] = 4 threads, 2 task attempts: StreamCrashSpec's
      // injected first-attempt task failures need a retry budget
      // (plain local[N] fails the job on the first task failure)
      .master("local[4, 2]")
      .appName("graft-test")
      // plan-quality specs assert on scan metadata (PushedFilters /
      // Location); the 100-char default truncates multi-bound
      // envelopes mid-list and the assertion would pass/fail on
      // which bound got cut, not on what was pushed
      .config("spark.sql.maxMetadataStringLength", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // specs call the ops functions directly, not through SparkEntry
    graft.plans.GraftStrategies.ensure(s)
    s
  }
}
