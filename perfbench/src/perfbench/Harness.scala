package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.util.ScratchIndex

/** Closed-loop client for one workload: one JVM, one client thread,
  * `local[N]`. It calls graft's registered query functions from
  * outside the engine, one after another: a cold pass, then warm passes
  * until the measuring time is used. Results go to a JSON file that
  * `run.py` turns into metrics.
  *
  * Modes: `list` (query → family and module), `oracle` (DuckDB SQL per
  * query), `digest` (one untimed pass over a whole family, for the
  * output check's reference data) and `run`.
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Each module that registers queries, by its source name. */
  val modules: Seq[(String, Map[String, Query])] = Seq(
    "Relational" -> graft.ops.Relational.queries,
    "Relational2" -> graft.ops.Relational2.queries,
    "Relational3" -> graft.ops.Relational3.queries,
    "TextAnalysis" -> graft.ops.TextAnalysis.queries,
    "Curation" -> graft.ops.Curation.queries,
    "Dedup" -> graft.ops.Dedup.queries,
    "Similarity" -> graft.ops.Similarity.queries,
    "Events" -> graft.ops.Events.queries,
    "Graph" -> graft.ops.Graph.queries,
    "Multimodal" -> graft.ops.Multimodal.queries,
    "Udfs" -> graft.ops.Udfs.queries,
    "Skew" -> graft.ops.Skew.queries,
    "Sources" -> graft.sources.Sources.queries,
    "EventStream" -> graft.streaming.EventStream.queries,
    "DedupStream" -> graft.streaming.DedupStream.queries,
    "AlsPipeline" -> graft.recommend.AlsPipeline.queries)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = try {
      val assignment = assign(new File(opt("workloads")))
      opt("mode") match {
        case "list" =>
          val moduleOf = modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
          writeJson(opt("out"), assignment.map { case (q, w) =>
            q -> Map("workload" -> w, "module" -> moduleOf(q)) })
          0
        case "oracle" => writeJson(opt("out"), graft.SparkEntry.oracleSql); 0
        case mode => new Harness(opt, assignment).run(mode)
      }
    } catch {
      case e: AssignmentError => System.err.println(s"[perfbench] ${e.getMessage}"); 3
    }
    System.out.flush()
    System.exit(code)
  }

  final class AssignmentError(msg: String) extends Exception(msg)

  /** query name → workload family (or "excluded"). Refuses to start
    * unless every registered query is in exactly one family or in the
    * excluded list, every module query is registered once, and every
    * timed query belongs to its workload's family.
    */
  def assign(spec: File): Map[String, String] = {
    val root = new ObjectMapper().readTree(spec)
    val workloads = root.get("workloads").fields.asScala.map(e => e.getKey -> e.getValue).toSeq
    val prefixes = workloads.map { case (w, v) => w -> v.get("prefixes").elements.asScala.map(_.asText).toSeq }
    val excluded = root.get("excluded").fieldNames.asScala.toSet
    val registered = graft.SparkEntry.queries.keySet
    val fromModules = modules.flatMap(_._2.keys)
    val problems = ArrayBuffer.empty[String]
    if (fromModules.size != fromModules.distinct.size || fromModules.toSet != registered)
      problems += "module query maps do not partition SparkEntry.queries"
    (excluded -- registered).foreach(q => problems += s"excluded query $q is not registered")
    val out = registered.toSeq.sorted.map { q =>
      val hits = prefixes.filter(_._2.exists(q.startsWith)).map(_._1)
      val all = if (excluded(q)) hits :+ "excluded" else hits
      if (all.size != 1) problems += s"$q is in ${all.size} families (${all.mkString(",")})"
      q -> all.headOption.getOrElse("")
    }.toMap
    for ((w, v) <- workloads; q <- timed(v) if !out.get(q).contains(w))
      problems += s"timed query $q of $w is not in that family"
    if (problems.nonEmpty) throw new AssignmentError(problems.mkString("; "))
    out
  }

  private def timed(v: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
    v.get("queries").elements.asScala.map(_.asText).toSeq

  /** The queries a workload times, in the order listed. */
  def timedQueries(spec: File, workload: String): Seq[String] =
    timed(new ObjectMapper().readTree(spec).get("workloads").get(workload))

  def writeJson(path: String, value: Any): Unit = {
    def conv(v: Any): AnyRef = v match {
      case m: scala.collection.Map[_, _] =>
        val j = new java.util.LinkedHashMap[String, AnyRef]()
        m.foreach { case (k, x) => j.put(k.toString, conv(x)) }
        j
      case s: Iterable[_] => s.map(conv).toSeq.asJava
      case d: Double => java.lang.Double.valueOf(d)
      case l: Long => java.lang.Long.valueOf(l)
      case i: Int => java.lang.Integer.valueOf(i)
      case b: Boolean => java.lang.Boolean.valueOf(b)
      case None | null => null
      case Some(x) => conv(x)
      case x => x.toString
    }
    new ObjectMapper().writeValue(new File(path), conv(value))
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}

final class Harness(opt: Map[String, String], assignment: Map[String, String]) {
  import Harness._

  private val mainNs = System.currentTimeMillis() * 1000000L
  private val cores = opt.getOrElse("cores", "4")
  private val sf = opt("sf")
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Same session as graft.Bench builds. */
  private def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", ScratchIndex.sparkLocalDir())
      .config("spark.sql.warehouse.dir", ScratchIndex.warehouseDir())
      .config("spark.hadoop.fs.file.impl", "graft.util.BareLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "graft.util.BareLocalFs")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The non-sweep warm-ups graft.Bench runs before its sweeps: a range
    * aggregate, a dimension scan, and one tiny bounded stateful stream
    * per state-store provider.
    */
  private def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(1000).selectExpr("sum(id) AS s").collect()
    spark.read.parquet(s"$sf/nation.parquet").count()
    val src = ScratchIndex.dir("warm_stream_src")
    spark.range(0, 200)
      .selectExpr("timestamp_micros(1700000000000000 + id*1000000) AS ts")
      .coalesce(1).write.mode("overwrite").parquet(src.toString)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    Seq(None, Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
      .foreach { provider =>
        provider.foreach(spark.conf.set(key, _))
        val q = spark.readStream.schema("ts TIMESTAMP").parquet(src.toString)
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "10 seconds")).agg(count(lit(1)).as("n"))
          .writeStream.outputMode("append")
          .option("checkpointLocation", ScratchIndex.dir(s"ck_warmup_${provider.isDefined}").toString)
          .format("memory").queryName(s"warmup_${provider.isDefined}")
          .start()
        try q.processAllAvailable() finally q.stop()
        spark.conf.unset(key)
      }
    spark.conf.set("spark.sql.shuffle.partitions", parts)
  }

  def run(mode: String): Int = {
    val spark = session()
    val sessionNs = epochNs()
    warmUp(spark)
    val setupNs = epochNs()
    val launchNs = opt("launch-ns").toLong
    val setup = Map(
      "jvm_s" -> (mainNs - launchNs) / 1e9,
      "session_s" -> (sessionNs - mainNs) / 1e9,
      "warmup_s" -> (setupNs - sessionNs) / 1e9,
      "setup_s" -> (setupNs - launchNs) / 1e9)
    val out: Map[String, Any] = mode match {
      case "digest" =>
        val names = opt.get("queries").map(_.split(",").toSeq)
          .getOrElse(assignment.keys.filter(assignment(_) == opt("workload")).toSeq.sorted)
        Map("execs" -> names.map(q => execute(spark, q, 0, None, 0L)))
      case "run" => Map("setup" -> setup) ++ measure(spark)
    }
    spark.stop()
    writeJson(opt("out"), out ++ Map(
      "scratch_tmpfs" -> ScratchIndex.tmpfsBacked,
      "peak_rss_mb" -> peakRssMb()))
    0
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private lazy val queryFns: Map[String, Query] = graft.SparkEntry.queries
  private lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  private def execute(spark: SparkSession, q: String, pass: Int,
      tracer: Option[Tracer], runSpan: Long): Map[String, Any] = {
    val fn = queryFns(q)
    val qid = tracer.map(_.newId()).getOrElse(0L)
    val before = tracer.map(_ => snapshot())
    tracer.foreach { t =>
      t.begin(qid)
      spark.sparkContext.setJobGroup(s"q$qid", q, interruptOnCancel = false)
    }
    val epoch0 = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val c0 = osBean.getProcessCpuTime
    var t1 = t0
    val result = try {
      val df = fn(spark, sf)
      t1 = System.nanoTime()
      val rows = df.collect()
      Right((df.schema, rows))
    } catch {
      case NonFatal(e) =>
        if (t1 == t0) t1 = System.nanoTime()
        Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
    }
    val t2 = System.nanoTime()
    val cpu = (osBean.getProcessCpuTime - c0) / 1e9
    val base = Map[String, Any](
      "q" -> q, "module" -> moduleOf(q), "pass" -> pass,
      "build_s" -> (t1 - t0) / 1e9, "action_s" -> (t2 - t1) / 1e9,
      "wall_s" -> (t2 - t0) / 1e9, "cpu_s" -> cpu)
    val check: Map[String, Any] = result match {
      case Right((schema, rows)) => Map("rows" -> rows.length,
        "digest" -> Canon.digest(schema, rows), "schema" -> Canon.schemaString(schema))
      case Left(err) => Map("error" -> err)
    }
    val traced: Map[String, Any] = tracer.map { t =>
      spark.sparkContext.clearJobGroup()
      def at(ns: Long) = epoch0 + (ns - t0) / 1e6
      val qSpan = Span(qid, runSpan, "query", qid, at(t0), at(t2))
      val build = Span(t.newId(), qid, "ops.build", qid, at(t0), at(t1))
      val action = Span(t.newId(), qid, "action", qid, at(t1), at(t2))
      val (counts, busy) = t.end(build, action)
      t.spans ++= Seq(qSpan, build, action)
      val (delta, fresh) = diff(before.get, snapshot())
      Map("traced" -> true, "scratch_new" -> fresh, "c" -> (counts ++ delta ++ Map(
        "ops.build_s" -> (t1 - t0) / 1e9, "ops.action_s" -> (t2 - t1) / 1e9,
        "exec.stage_busy_s" -> busy,
        "exec.driver_gap_s" -> math.max(0.0, (t2 - t0) / 1e9 - busy))))
    }.getOrElse(Map.empty)
    base ++ check ++ traced
  }

  /** Process-wide counters read around a traced query (codegen, file
    * listing, JVM GC and JIT) and the top-level entries of the scratch
    * root.
    */
  private def snapshot(): (Map[String, Double], Set[String]) = (Map(
    "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.compile_s" -> CodeGenerator.compileTime / 1e9,
    "scan.files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
    "scan.file_cache_hits" -> HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount.toDouble,
    "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3,
    "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3),
    Option(ScratchIndex.dir("").listFiles()).getOrElse(Array.empty[File])
      .map(_.getName).filterNot(_.contains(".build_")).toSet)

  /** Bytes under the scratch root, without the live session's block
    * manager files, which the context cleaner removes at its own pace.
    */
  private def scratchBytes(): Long =
    dirBytes(ScratchIndex.dir("")) - dirBytes(new File(ScratchIndex.sparkLocalDir()))

  /** Heap in use once full collections stop freeing more than 1 %:
    * what stays reachable. Between collections Spark's ContextCleaner
    * drops the broadcasts and shuffles a collection found unreferenced,
    * which frees more at the next one.
    */
  private def liveHeapBytes(): Long = {
    def collect(): Long = {
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var used = collect()
    var next = collect()
    var rounds = 2
    while (next < used * 0.99 && rounds < 3) {
      used = next; next = collect(); rounds += 1
    }
    next
  }

  /** A scratch entry holding a streaming checkpoint (an offset log)
    * rather than a memoized artifact.
    */
  private def isCheckpoint(name: String): Boolean =
    new File(ScratchIndex.dir(name), "offsets").isDirectory

  /** Counter deltas, plus the scratch entries the query created: their
    * count, total size and names.
    */
  private def diff(a: (Map[String, Double], Set[String]), b: (Map[String, Double], Set[String]))
      : (Map[String, Double], Seq[String]) = {
    val fresh = (b._2 -- a._2).toSeq.sorted
    val root = ScratchIndex.dir("")
    (b._1.map { case (k, v) => k -> (v - a._1(k)) } ++ Map(
      "scratch.builds" -> fresh.count(n => !isCheckpoint(n)).toDouble,
      "scratch.checkpoints" -> fresh.count(isCheckpoint).toDouble,
      "scratch.written_mb" -> fresh.map(n => dirBytes(new File(root, n))).sum / 1048576.0),
      fresh)
  }

  /** Cold pass, then five warm passes; past the third, a pass starts
    * only within `seconds` of the cold pass's start, which bounds a run
    * on a slow host. The counted passes are fixed by index (3 to 5, see
    * metrics.py), so they sit at the same point of the JIT's warm-up in
    * every run; a cut-short run counts fewer of them. Each pass runs
    * the workload's queries in an
    * order drawn from the seed. The traced run traces the cold pass and
    * every second warm pass, so traced and untraced warm passes of the
    * same JVM give the tracing overhead.
    */
  private def measure(spark: SparkSession): Map[String, Any] = {
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val trace = opt.getOrElse("trace", "0") == "1"
    val names = timedQueries(new File(opt("workloads")), workload)
    val seconds = opt("seconds").toDouble
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val runSpan = tracer.map(_.newId()).getOrElse(0L)
    val runStart = System.currentTimeMillis().toDouble
    val execs = ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    var scratchMb, liveHeapMb = 0.0
    var pass = 0
    def elapsedS = (System.nanoTime() - start) / 1e9
    while (pass <= 3 || (pass <= 5 && elapsedS < seconds)) {
      val traced = tracer.filter(_ => pass == 0 || pass % 2 == 0)
      traced.foreach(_.register())
      val order = new scala.util.Random(seed * 7919L + pass).shuffle(names)
      val p0 = System.currentTimeMillis().toDouble
      val passSpan = traced.map(_.newId()).getOrElse(0L)
      order.foreach(q => execs += execute(spark, q, pass, traced, passSpan))
      traced.foreach { t =>
        t.spans += Span(passSpan, runSpan, if (pass == 0) "pass.cold" else "pass.warm", 0L,
          p0, System.currentTimeMillis().toDouble)
        t.unregister()
      }
      if (pass == 0) {
        scratchMb = scratchBytes() / 1048576.0
        liveHeapMb = liveHeapBytes() / 1048576.0
      }
      pass += 1
    }
    tracer.foreach { t =>
      t.spans += Span(runSpan, 0L, "run", 0L, runStart, System.currentTimeMillis().toDouble)
      writeSpans(t.spans.toSeq)
    }
    Map("workload" -> workload, "seed" -> seed, "cores" -> cores.toInt, "scratch_mb" -> scratchMb,
      "live_heap_mb" -> liveHeapMb, "execs" -> execs.toSeq)
  }

  /** All spans of the traced run, with their self times. */
  private def writeSpans(spans: Seq[Span]): Unit = opt.get("spans").foreach { path =>
    val self = Tracer.selfTimes(spans)
    val w = new PrintWriter(Files.newBufferedWriter(new File(path).toPath, UTF_8))
    try spans.sortBy(_.startMs).foreach { s =>
      w.println(f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","query":${s.query},""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_ms":${self(s.id)}%.3f}""")
    } finally w.close()
  }
}
