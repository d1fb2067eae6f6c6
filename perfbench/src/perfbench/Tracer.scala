package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are epoch milliseconds;
  * `query` is the id shared by every span of one query execution.
  */
final case class Span(id: Long, parent: Long, name: String, query: Long,
    startMs: Double, endMs: Double)

/** Listeners for the traced run. Spark delivers listener events on its
  * own bus threads, so everything here is guarded by `this`; a query's
  * events are taken only after `drain` has waited for the bus.
  */
final class Tracer(spark: SparkSession) {
  private var nextId = 0L
  private var counts = mutable.Map.empty[String, Double]
  private var pending = ArrayBuffer.empty[Span]
  private val stageBusy = ArrayBuffer.empty[(Double, Double)]
  private val jobSpan = mutable.Map.empty[Int, (Long, Double)]
  private val stageJob = mutable.Map.empty[Int, Long]
  private var query = -1L

  val spans = ArrayBuffer.empty[Span]

  def newId(): Long = synchronized { nextId += 1; nextId }

  private def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v

  private def event(name: String, parent: Long, start: Double, end: Double): Long = {
    val id = newId()
    pending += Span(id, parent, name, query, start, end)
    id
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      add("exec.jobs", 1)
      val id = newId()
      jobSpan(e.jobId) = (id, e.time.toDouble)
      e.stageIds.foreach(s => stageJob(s) = id)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, start) =>
        pending += Span(id, 0L, "job", query, start, e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      add("exec.stages", 1)
      for (s <- info.submissionTime; c <- info.completionTime) {
        stageBusy += ((s.toDouble, c.toDouble))
        event("stage", stageJob.getOrElse(info.stageId, 0L), s.toDouble, c.toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      add("exec.tasks", 1)
      if (m != null) {
        add("exec.task_run_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.task_gc_s", m.jvmGCTime / 1e3)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("exec.shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        add("exec.spill_mb", m.diskBytesSpilled / 1048576.0)
        add("scan.input_mb", m.inputMetrics.bytesRead / 1048576.0)
        add("scan.input_records", m.inputMetrics.recordsRead.toDouble)
        add("write.output_mb", m.outputMetrics.bytesWritten / 1048576.0)
        add("write.output_records", m.outputMetrics.recordsWritten.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      add("catalyst.executions", 1)
      qe.tracker.phases.foreach { case (phase, p) =>
        add(s"catalyst.${phase}_s", p.durationMs / 1e3)
        event(s"catalyst.$phase", 0L, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      add("stream.batches", 1)
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      Seq("trigger_s" -> "triggerExecution", "add_batch_s" -> "addBatch",
        "query_planning_s" -> "queryPlanning", "wal_commit_s" -> "walCommit",
        "commit_offsets_s" -> "commitOffsets", "latest_offset_s" -> "latestOffset",
        "get_batch_s" -> "getBatch").foreach { case (k, src) => add(s"stream.$k", ms(src) / 1e3) }
      p.stateOperators.foreach { s =>
        add("stream.state_commit_s", s.commitTimeMs / 1e3)
        add("stream.state_rows", s.numRowsTotal.toDouble)
      }
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      event("stream.batch", 0L, start, start + ms("triggerExecution"))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Starts collecting for one query execution. */
  def begin(queryId: Long): Unit = synchronized {
    query = queryId
    counts = mutable.Map.empty
    pending = ArrayBuffer.empty
    stageBusy.clear()
  }

  /** Waits for the query's events, parents each event span under the
    * harness span it falls in (the `action` span when it starts inside
    * it, else `ops.build`), and returns the query's counters together
    * with the wall time during which at least one stage ran.
    */
  def end(build: Span, action: Span): (Map[String, Double], Double) = {
    drain()
    synchronized {
      val byTime = pending.map { s =>
        if (s.parent != 0L) s
        else s.copy(parent = if (s.startMs >= action.startMs - 1.0) action.id else build.id)
      }
      spans ++= byTime
      pending = ArrayBuffer.empty
      (counts.toMap, Tracer.unionMs(stageBusy.toSeq) / 1e3)
    }
  }
}

object Tracer {

  /** Length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else if (e > curE) curE = e
    }
    if (open) total + curE - curS else total
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))).filter(x => x._2 > x._1)
      s.id -> math.max(0.0, (s.endMs - s.startMs) - unionMs(covered))
    }.toMap
  }
}
