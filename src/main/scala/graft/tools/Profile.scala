package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicLongArray}
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.ops.{Dedup, Graph, Relational3, Similarity}
import graft.util.{Delta, ScratchIndex, Tables}

/** Development profiling entry (not part of the Bench/Verify contract).
  *
  * Usage: runMain graft.tools.Profile <sfDir> <mode> [args…]
  *  - `all [query…]`: every registered query (or the named ones) run
  *    twice; one JSON line of min-of-runs seconds, rows, shuffle and
  *    spill MB and peak state rows per query (read by tools/scaling.py,
  *    minmerge.py and addquery.py).
  *  - `laps <rounds> <query…>`: the named queries timed in order, lap by
  *    lap, each with its codegen compiles, micro-batches and summed
  *    streaming `durationMs` phases.
  *  - `dumpq <query…>`: each query's full output as single-file CSV
  *    under /tmp/graft_dumpq/<query>, for byte-diffing a restructured
  *    rows-only query against its pre-change self.
  *  - `explain [query…]` / `explainc <query…>`: the formatted physical
  *    plan as registered / as the sweep's `count()` executes it.
  *  - `pqsplit`: sim_ann_pq's first touch split by layer.
  *  - `trainquality`: IVF quantizer distortion, sampled vs full training.
  *  - the constant-sized-delta controls (see [[controls]]).
  *
  * SPARK_GRAFT_CPUS sets local cores and shuffle partitions (strong
  * scaling); SPARK_GRAFT_MIN_PARTITIONS pins the file-scan map count
  * across a data decade (partial-agg output ∝ map count, so a map count
  * that grows with the file count would inflate the byte exponents).
  */
object Profile {

  /** The sf0.1 testdata: default corpus and the controls' key range. */
  private val BaseDir = "/root/testdata/sf0.1"
  private val QueryModes = Seq("all", "laps", "dumpq", "explain", "explainc")
  private def modes: Seq[String] =
    QueryModes ++ Seq("pqsplit", "trainquality") ++ controls.keys.toSeq.sorted

  private def fail(msg: String): Nothing = {
    System.err.println(s"[profile] $msg")
    System.err.println(s"[profile] modes: ${modes.mkString(" ")}")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(BaseDir)
    val mode = args.lift(1).getOrElse("")
    if (!modes.contains(mode)) fail(s"unknown mode '$mode'")
    val rest = args.drop(2).toSeq
    val rounds = if (mode == "laps") rest.headOption.flatMap(_.toIntOption) else None
    if (mode == "laps" && (rounds.forall(_ < 1) || rest.size < 2))
      fail("usage: laps <rounds> <query...>")
    val names = if (mode == "laps") rest.tail else rest
    if (QueryModes.contains(mode)) {
      val registered = graft.SparkEntry.queries.keySet
      val unknown = names.filterNot(registered)
      if (unknown.nonEmpty) fail(s"unknown queries: ${unknown.mkString(" ")}")
    }

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.Confs.session(cpus)
      .master(s"local[$cpus]")
      .config("spark.sql.files.minPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITIONS", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def query(name: String): DataFrame = graft.SparkEntry.queries(name)(spark, sfDir)

    mode match {
      case "all" => sweep(spark, sfDir, names)
      case "laps" => laps(spark, sfDir, rounds.get, names)
      case "dumpq" =>
        for (name <- names) {
          val out = s"/tmp/graft_dumpq/$name"
          query(name).coalesce(1)
            .write.mode("overwrite").option("header", "true").csv(out)
          println(s"[dumpq] $name -> $out")
        }
      case "explain" | "explainc" =>
        // explainc: EliminateSorts may drop a terminal sort under the
        // sweep's count aggregate, so a query's sweep cost can exclude
        // its order-by; this shows the plan the sweep really runs
        val counted = mode == "explainc"
        for (name <- if (names.nonEmpty) names else Seq("rel_topk",
            "rel_groupby_agg", "rel_join_multi_agg", "rel_filter",
            "sim_knn_brute", "events_tumbling_window")) {
          println(s"========== $name${if (counted) " (as counted)" else ""} ==========")
          (if (counted) query(name).groupBy().count() else query(name))
            .explain("formatted")
        }
      case "pqsplit" =>
        // each layer memoizes, so sequential timings isolate one each
        time("session warm-up")(Tables.embeddings(spark, sfDir).count())
        time("codebook train (Lloyd rounds)")(Similarity.pqCodebooks(spark, sfDir).length)
        time("corpus encode (code table)")(Similarity.pqCodeTable(spark, sfDir).count())
        for (r <- 1 to 3) time(s"sim_ann_pq query round $r")(query("sim_ann_pq").count())
      case "trainquality" => trainQuality(spark, sfDir)
      case control => runControl(spark, sfDir, control)
    }
    spark.stop()
  }

  private def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    val rows = r match { case n: Long => f" $n%9d rows"; case _ => "" }
    println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s$rows")
    r
  }

  /** Absorbs session bring-up, so the first timed query pays only its own cold cost. */
  private def warmUp(s: SparkSession, d: String): Unit =
    time("session warm-up") {
      Tables.documents(s, d).count()
      Tables.lineitem(s, d).groupBy("l_returnflag").count().count(): Unit
    }

  /** Task and streaming-progress counters fed by listener events. */
  private final class Tally(s: SparkSession) {
    /** Shuffle write, memory spill and disk spill bytes. */
    val task = new AtomicLongArray(3)
    val batches = new AtomicInteger(0)
    val phases = new ConcurrentHashMap[String, AtomicLong]()
    /** Peak streaming state rows (numRowsTotal over operators). */
    val statePeak = new AtomicLong(0)

    s.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach { m =>
          task.addAndGet(0, m.shuffleWriteMetrics.bytesWritten)
          task.addAndGet(1, m.memoryBytesSpilled)
          task.addAndGet(2, m.diskBytesSpilled): Unit
        }
    })
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        batches.incrementAndGet()
        e.progress.durationMs.forEach { (k, v) =>
          phases.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v): Unit
        }
        val rows = e.progress.stateOperators.map(_.numRowsTotal).sum
        statePeak.getAndUpdate(math.max(_, rows)): Unit
      }
    })

    def resetStream(): Unit = { batches.set(0); phases.clear(); statePeak.set(0) }

    /** Task counters once the listener bus drained (two reads 150 ms apart agree; 3 s cap). */
    def settled(): Array[Long] = {
      def snap() = Array.tabulate(3)(task.get) :+ batches.get.toLong
      val deadline = System.nanoTime() + 3000000000L
      var prev = snap()
      Thread.sleep(150)
      var cur = snap()
      while (!java.util.Arrays.equals(prev, cur) && System.nanoTime() < deadline) {
        prev = cur; Thread.sleep(150); cur = snap()
      }
      cur.take(3)
    }
  }

  /** Mode `all`: each query timed back-to-back twice, min-of-runs
    * reported — its steady-state cost with its own codegen compiled.
    * Shuffle-write and spill bytes come from the second run (after any
    * first-touch index builds), so scaling.py can fit shuffle-volume
    * exponents too. Scan bytes are not recorded: Spark 4's local
    * vectorized parquet path bypasses the FS-statistics callback.
    */
  private def sweep(s: SparkSession, d: String, only: Seq[String]): Unit = {
    val tally = new Tally(s)
    warmUp(s, d)
    val registered = graft.SparkEntry.queries
    val selected =
      if (only.isEmpty) registered else registered.filter(kv => only.contains(kv._1))
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // rows prove the query ran against this corpus: a source that
      // silently matches nothing shows as 0, not as a fast timing
      def once(): Either[String, (Double, Long)] = {
        val t0 = System.nanoTime()
        try {
          val rows = fn(s, d).count()
          Right(((System.nanoTime() - t0) / 1e9, rows))
        } catch { case e: Throwable => Left(Option(e.getMessage)
          .getOrElse(e.getClass.getName).take(60)) }
      }
      val first = once()
      val before = tally.settled() // includes a ≥150 ms settle for run 1
      tally.resetStream()
      val second = once()
      val delta = tally.settled().zip(before).map { case (a, b) => a - b }
      val stRows = tally.statePeak.get()
      Seq(first, second).flatMap(_.toOption) match {
        case Nil =>
          val err = first.swap.getOrElse("")
          println(s"[profile] $name FAILED: $err"); name -> Left(err)
        case runs =>
          val (sec, rows) = (runs.map(_._1).min, runs.head._2)
          println(f"[profile] $name%-28s $sec%8.2f s $rows%9d rows " +
            f"${delta(0) / 1e6}%9.1f shufMB " +
            f"${(delta(1) + delta(2)) / 1e6}%9.1f spillMB" +
            (if (stRows > 0) f" $stRows%9d stateRows" else ""))
          name -> Right((sec, rows, delta, stRows))
      }
    }
    def r2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val ok = results.collect { case (n, Right(v)) => n -> v }
    val bad = results.collect { case (n, Left(_)) => n }
    def field(name: String, value: ((Double, Long, Array[Long], Long)) => String) =
      s""""$name":${ok.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + value(v) }
        .mkString("{", ",", "}")}"""
    println(s"""{"metric":"profile_warm","value":${r2(ok.map(_._2._1).sum)},""" +
      s""""unit":"sec",${field("queries", v => r2(v._1))},""" +
      s"""${field("rows", v => v._2.toString)},""" +
      s"""${field("shuffle_mb", v => r2(v._3(0) / 1e6))},""" +
      s"""${field("spill_mb", v => r2((v._3(1) + v._3(2)) / 1e6))},""" +
      s"""${field("state_rows", v => v._4.toString)},""" +
      s""""failed":${bad.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""n":${ok.size},"sf":"$d"}""")
  }

  /** Mode `laps`: lap by lap, each named query timed in order, with
    * the lap's codegen compiles (a warm lap should add 0), micro-batch
    * count and summed streaming `durationMs` phases. One lap of the
    * graph queries in dependency order splits the family's first-touch
    * cascade by layer, since each layer memoizes.
    */
  private def laps(s: SparkSession, d: String, rounds: Int, names: Seq[String]): Unit = {
    println(s"[profile] pid ${ProcessHandle.current().pid()}")
    val tally = new Tally(s)
    warmUp(s, d)
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    for (lap <- 1 to rounds; name <- names) {
      tally.resetStream()
      val compiled = compiles
      time(s"$name lap $lap")(graft.SparkEntry.queries(name)(s, d).count())
      tally.settled(): Unit
      println(s"[laps] $name lap $lap: ${compiles - compiled} codegen compiles, " +
        s"${tally.batches.get} micro-batches, summed durationMs:")
      tally.phases.asScala.toSeq.map { case (k, v) => k -> v.get }.sortBy(-_._2)
        .foreach { case (k, v) => println(f"[laps]   $k%-28s $v%6d ms") }
    }
  }

  /** Does the training-sample cap degrade the IVF quantizer where it
    * binds? Mean cosine distortion (1 − cos to the assigned centroid)
    * over the full corpus, shipped sample-trained centroids vs the
    * same kernel ([[Similarity.lloyd]]) run uncapped, init = the
    * corpus's first IvfK vectors by vec_id.
    */
  private def trainQuality(s: SparkSession, d: String): Unit = {
    val all = Similarity.embRelation(s, d).select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1).map(_._2)
    def distortion(cents: Array[Array[Double]]): Double =
      all.map(v => 1.0 - Similarity.cosine(v, cents(Similarity.nearest(v, cents))))
        .sum / all.length
    val dSampled = distortion(Similarity.ivfCentroids(s, d))
    val dFull = distortion(
      Similarity.lloyd(all, all.take(Similarity.IvfK), Similarity.IvfIters))
    println(f"[trainquality] corpus=${all.length} " +
      f"sampled-train distortion=$dSampled%.6f " +
      f"full-train distortion=$dFull%.6f ratio=${dSampled / dFull}%.4f")
  }

  /** One timed step of a control, run `rounds` times. */
  private final case class Step(label: String, rounds: Int, run: () => Any)
  private def step(label: String, rounds: Int = 1)(run: => Any): Step =
    Step(label, rounds, () => run)

  /** A control: warm-up table, delta, steps over (s, d, delta). */
  private final case class Control(table: String, slice: SparkSession => Delta,
      steps: (SparkSession, String, Delta) => Seq[Step])

  /** `key`'s sf0.1 maximum: ScaleFixture shifts keys per copy, so
    * the rows at or below it are copy 0's at every decade.
    */
  private def sf01Max(s: SparkSession, table: String, key: String): Long =
    Tables.t(s, BaseDir, table).agg(max(col(key))).head().getLong(0)

  /** The constant-sized delta: copy 0's `key % 10 = 7` rows. */
  private def constSlice(s: SparkSession, table: String, key: String): Delta =
    Delta(col(key) <= sf01Max(s, table, key) && pmod(col(key), lit(10)) === 7,
      "const", broadcast = true)

  /** The orders delta ([[Delta.Orders]]) pinned to copy 0's customers. */
  private def ordersSlice(s: SparkSession): Delta =
    Delta(Delta.Orders.pred &&
      col("o_custkey") <= sf01Max(s, "orders", "o_custkey"),
      "const", broadcast = true)

  /** Constant-sized-delta controls. A registered `*_incremental`
    * query's fixture delta is a constant FRACTION of the corpus, so its
    * update cost grows with the decade by construction; a real daily
    * batch is constant-SIZED. Each control runs the same update path
    * with the delta pinned to a slice that never grows: yesterday's
    * artifacts once, the update three times, the full rebuild (where
    * there is one) LAST so JVM warm-up biases against the incremental
    * number. Flat update times across decades mean the update costs in
    * proportion to the delta, not the corpus. A broadcast delta is the
    * plan a real maintainer runs at this size: every base probe is
    * then a scan-only pass.
    */
  private lazy val controls: Map[String, Control] = Map(
    "incdegreeconst" -> Control("lineitem", constSlice(_, "lineitem", "l_orderkey"),
      (s, d, delta) => Seq(
        step("delta mine (const slice, once per batch)")(
          Graph.deltaGraphPairs(s, d, delta).count()),
        step("base artifacts (once ever)")(
          Graph.baseGraphDegrees(s, d, delta).count()),
        step("incremental update (const delta)", 3)(
          Graph.degreeIncremental(s, d, delta).count()))),
    "inctriconst" -> Control("lineitem", constSlice(_, "lineitem", "l_orderkey"),
      (s, d, delta) => Seq(
        step("base edges+adjacency+summary (once ever)") {
          Graph.baseTriangleStats(s, d, delta).count()
          Graph.baseGraphAdjacency(s, d, delta).count()
          Graph.baseP1Vertices(s, d, delta).count()
        },
        step("delta mine + dup filter (once per batch)")(
          Graph.freshDeltaEdges(s, d, delta).count()),
        step("incremental update (const delta)", 3)(
          Graph.trianglesIncrementalParts(s, d, delta).count()))),
    "incscd2const" -> Control("orders", ordersSlice, (s, d, delta) => Seq(
      step("delta orders (const slice)")(delta.batch(Tables.orders(s, d)).count()),
      step("base dimension (yesterday's output)")(
        Relational3.baseScd2Table(s, d, delta).count()),
      step("delta mine (once per batch)")(
        Relational3.deltaOrdersTable(s, d, delta).count()),
      step("append-merge (const delta)", 3)(
        Relational3.scd2Incremental(s, d, delta).count()),
      step("full rebuild (what it replaces)")(Relational3.scd2(s, d).count()))),
    "incaggconst" -> Control("orders", ordersSlice, (s, d, delta) => Seq(
      step("base MV state (yesterday's output)")(
        Relational3.baseAggState(s, d, delta).count()),
      step("delta mine (once per batch)")(
        Relational3.deltaAggState(s, d, delta).count()),
      step("state merge (const delta)", 3)(
        Relational3.aggIncremental(s, d, delta).count()),
      step("full rebuild (what it replaces)")(
        Relational3.aggStateOf(Tables.orders(s, d)).count()))),
    "incclustersconst" -> Control("documents", constSlice(_, "documents", "doc_id"),
      (s, d, delta) => Seq(
        step("delta docs (const slice)")(delta.batch(Tables.documents(s, d)).count()),
        step("base sig+band+edge index (once ever)") {
          Dedup.baseIndexEdges(s, d, delta).count()
          Dedup.baseIndexBands(s, d, delta).count()
        },
        step("base labels (yesterday's output)")(
          Dedup.baseClusterLabels(s, d, delta).count()),
        // each round drops the memoized output, so it re-runs the daily
        // job and its time includes publishing the result
        step("incremental update (const delta)", 3) {
          ScratchIndex.dropKey(delta.key("dedupclustinc", d))
          Dedup.dedupClustersIncremental(s, d, delta).count()
        })),
    "incivfconst" -> Control("embeddings", constSlice(_, "embeddings", "vec_id"),
      (s, d, delta) => Seq(
        step("delta vectors (const slice)")(delta.batch(Tables.embeddings(s, d)).count()),
        step("frozen quantizer + base postings (once ever)") {
          Similarity.baseIvfPostings(s, d).count()
          Similarity.baseIvfPostingsPath(s, d, delta)
        },
        step("delta publish (const delta)", 3) {
          ScratchIndex.dropKey(delta.key("ivfdelta_v2", d))
          Similarity.deltaIvfPostingsPath(s, d, delta)
        })))

  private def runControl(s: SparkSession, d: String, name: String): Unit = {
    val c = controls(name)
    val delta = c.slice(s)
    time("session warm-up")(Tables.t(s, d, c.table).count())
    for (st <- c.steps(s, d, delta); r <- 1 to st.rounds)
      time(if (st.rounds > 1) s"${st.label} round $r" else st.label)(st.run())
  }
}
