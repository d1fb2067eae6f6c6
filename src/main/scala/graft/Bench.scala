package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR and prints the contract JSON.
  *
  * Two lines are printed: a verbose line first (full-precision cold +
  * warm per-query seconds and process CPU-seconds, for humans reading
  * the log), then the driver-contract line LAST — compact (2-decimal
  * values, no per-query warm map) so it fits entirely inside the
  * driver's 2000-char stdout tail buffer even as the query count grows
  * (round-1's single verbose line overflowed that buffer and the driver
  * recorded `parsed: null`).
  *
  * `value`/`queries` are COLD first-run times (includes Catalyst
  * planning + whole-stage-codegen compilation — the driver-comparable
  * number). `warm_total` times an immediate second run of the same
  * plans: steady-state cost with codegen compiled and ALS models
  * memoized, i.e. what a long-lived session/cluster pays.
  *
  * A query that throws is NOT given a fake timing: its name goes into
  * `failed` and it is excluded from `queries`/totals, so a regression
  * shows up as a failure instead of flattering the sweep.
  *
  * SELF-DIAGNOSIS against host I/O stalls (two rounds running, the
  * headline number was invalidated by storage throttling — multi-
  * second kernel-time stalls that hit random queries): the bench
  * (1) measures fsync'd sequential write throughput before and after
  * the sweeps and reports the worse of the two as `io_mbps`, plus the
  * READ side once up front: O_DIRECT vs page-cache-warm sequential
  * scan bandwidth of the largest testdata file (`scan_direct_mbps` /
  * `scan_cached_mbps`), so scan-side noise on a throttled host is
  * attributable as mechanically as state-side noise;
  * (2) re-runs any query whose time is implausibly far above its
  * other-sweep counterpart (k×, see `StallFactor`) and reports
  * min-of-runs, listing every adjusted query with its ORIGINAL time
  * in `stalls` on the verbose line so nothing is silently rewritten;
  * (3) sets `io_degraded` when the probe reads slow or any stall was
  * adjudicated, so a bad round is flagged in the JSON itself.
  *
  * And since round 7, INSULATION, not just diagnosis: all engine-
  * controlled fsync traffic (streaming checkpoints/state stores,
  * shuffle spill via spark.local.dir, scratch indexes) lives on the
  * tmpfs-backed ScratchIndex base when available, so only the
  * unavoidable testdata reads still touch the host disk. The probe
  * deliberately keeps writing to java.io.tmpdir — `io_mbps` reports
  * the HOST's storage health (context for the source-scan side),
  * while `tmpfs` reports whether the engine's own writes were
  * insulated from it.
  */
object Bench {
  /** Whether pre/post-sweep probes of one health figure differ > `factor`×. */
  private[graft] def diverged(a: Double, b: Double, factor: Double): Boolean =
    math.max(a, b) > factor * math.max(math.min(a, b), 1e-9)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // perfbench's Harness builds the same session: keep them in step
    val spark = graft.util.Confs.session(cpus)
      .master(s"local[$cpus]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // process-wide CPU time: local mode runs executor tasks in this
    // JVM, so the delta across a query is the compute it actually did
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    // name -> Right((wallSec, cpuSec)) | Left(error head)
    def timeOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Either[String, (Double, Double)] = {
      val t0 = System.nanoTime()
      val c0 = osBean.getProcessCpuTime
      try {
        fn(spark, sfDir).count()
        Right(((System.nanoTime() - t0) / 1e9,
          (osBean.getProcessCpuTime - c0) / 1e9))
      } catch {
        case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(80))
      }
    }

    def sweep(): (Map[String, (Double, Double)], List[String]) = {
      val results = SparkEntry.queries.map { case (name, fn) =>
        name -> timeOne(fn)
      }
      val ok = results.collect { case (n, Right(s)) => n -> s }
      val bad = results.collect { case (n, Left(err)) =>
        System.err.println(s"[bench] $n FAILED: $err")
        n
      }.toList.sorted
      (ok, bad)
    }

    // Session bring-up (codegen infra, JIT, parquet reader init) is
    // paid once per JVM; without this warm-up the sweep's FIRST query
    // absorbs ~5 s of it, and since Map iteration order shifts as
    // queries are added, round-over-round per-query cold numbers jump
    // by whichever query happens to run first. Warm the session on
    // plans that are NOT part of the sweep (a range agg + a tiny
    // dimension scan) so cold numbers measure each query's own
    // planning + codegen, not shared engine init.
    spark.range(1000).selectExpr("sum(id) AS s").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()

    // Streaming engine bring-up is its own fixed-cost pile on top of
    // the batch one — micro-batch scheduler threads, offset/commit log
    // classes, state-store provider init (both the HDFS-backed default
    // AND RocksDB, which loads a native library on first touch), and
    // streaming-specific codegen. Without this, whichever stream_*
    // query ran first absorbed ~1-2 s of shared init. Warm on tiny
    // NON-sweep streams: a stateful window agg per provider over a
    // BOUNDED file source, drained synchronously like the sweep
    // queries run. (The first version of this warm-up used an
    // unbounded rate source: on a host where one stateful micro-batch
    // runs slower than the rate interval, processAllAvailable never
    // observes a caught-up instant and the bench hangs chasing the
    // source — observed 25 min on a degraded-IO boot. Every sweep
    // query drains a static file source, so the warm-up must too.)
    val warmSrc = graft.util.ScratchIndex.dir("warm_stream_src")
    spark.range(0, 200)
      .selectExpr("timestamp_micros(1700000000000000 + id*1000000) AS ts")
      .coalesce(1).write.mode("overwrite").parquet(warmSrc.toString)
    def warmStream(rocksDb: Boolean): Unit = {
      import org.apache.spark.sql.functions._
      // the sweep's own state sizing: per-batch cost is state-store
      // commits x partitions, and the warm-up only needs to touch the
      // machinery once per provider
      def drain(): Unit = graft.streaming.EventStream.drain(spark)(
        spark.readStream.schema("ts TIMESTAMP")
          .parquet(warmSrc.toString)
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "10 seconds"))
          .agg(count(lit(1)).as("n"))
          .writeStream.outputMode("append")
          .option("checkpointLocation",
            graft.util.ScratchIndex.dir(s"ck_warmup_$rocksDb").toString)
          .format("memory").queryName(s"warmup_$rocksDb")
          .start()): Unit
      if (rocksDb) graft.streaming.EventStream.withRocksDb(spark)(drain())
      else drain()
    }
    warmStream(rocksDb = false)
    warmStream(rocksDb = true)

    // fsync'd sequential-write probe (same measurement as the manual
    // `dd conv=fdatasync` diagnosis of the round-4/5 throttle
    // windows): healthy local storage reads ~300 MB/s, documented
    // throttle windows 12-73 MB/s
    def diskProbeMBps(totalMb: Int = 64): Double = {
      val f = java.io.File.createTempFile("graft_bench_probe", ".bin")
      try {
        val ch = java.nio.channels.FileChannel.open(f.toPath,
          java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
        try {
          val buf = java.nio.ByteBuffer.allocate(1 << 20)
          val t0 = System.nanoTime()
          var i = 0
          while (i < totalMb) {
            buf.rewind()
            while (buf.hasRemaining) ch.write(buf)
            i += 1
          }
          ch.force(true)
          totalMb / ((System.nanoTime() - t0) / 1e9)
        } finally ch.close()
      } finally { f.delete(): Unit }
    }

    // Scan-side probe (the counterpart of the write probe): the sweeps
    // READ the testdata from the host disk by design, so a throttled
    // host can still show up as scan-side noise even with all engine
    // writes insulated on tmpfs. Two numbers attribute it mechanically:
    //  - `scan_direct_mbps`: O_DIRECT sequential read of the largest
    //    testdata file — device-path read health, page cache bypassed
    //    (and not polluted), the bandwidth a COLD scan sees;
    //  - `scan_cached_mbps`: buffered re-read of the same bytes — the
    //    page-cache bandwidth a WARM scan sees. A future throttled
    //    round shows scan_direct collapsing while scan_cached holds.
    def scanProbeMBps(): (Double, Double) = {
      // A *.parquet entry can be a DIRECTORY of part files (multi-file
      // lake layout, as the scale fixture writes); probing only plain
      // files would measure the largest residual single file — a small
      // dim table — and weaken the disk-health diagnostic. Descend one
      // level so the probe always reads from the genuinely largest
      // table's bytes.
      val file = new java.io.File(sfDir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .flatMap { f =>
          if (f.isFile) Array(f)
          else f.listFiles().filter(p =>
            p.isFile && p.getName.endsWith(".parquet"))
        }
        .maxBy(_.length)
      // 1 MiB chunks, or 64 KiB when the whole corpus is tiny (sf0.001
      // smoke runs) — O_DIRECT only needs 4 KiB alignment
      val chunk = if (file.length() >= (1 << 20)) 1 << 20 else 1 << 16
      val whole = (file.length() / chunk).toInt
      if (whole == 0) return (0.0, 0.0)
      val passes = // ~64 MiB per measurement
        math.max(1, ((64L << 20) / (whole.toLong * chunk)).toInt)
      def readSeq(direct: Boolean): Double = {
        val opts: Array[java.nio.file.OpenOption] =
          if (direct) Array(java.nio.file.StandardOpenOption.READ,
            com.sun.nio.file.ExtendedOpenOption.DIRECT)
          else Array(java.nio.file.StandardOpenOption.READ)
        val buf = java.nio.ByteBuffer.allocateDirect(chunk + 4096)
          .alignedSlice(4096)
        val t0 = System.nanoTime()
        var bytes = 0L
        for (_ <- 1 to passes) {
          val ch = java.nio.channels.FileChannel.open(file.toPath, opts: _*)
          try {
            var i = 0
            while (i < whole) {
              buf.clear(); buf.limit(chunk)
              ch.position(i.toLong * chunk)
              while (buf.hasRemaining && ch.read(buf) >= 0) {}
              i += 1; bytes += chunk
            }
          } finally ch.close()
        }
        (bytes >> 20).toDouble / ((System.nanoTime() - t0) / 1e9)
      }
      val directMbps =
        try readSeq(direct = true)
        catch { case _: Throwable => 0.0 } // fs without O_DIRECT
      readSeq(direct = false) // populate the cache
      (directMbps, readSeq(direct = false))
    }

    // CPU-health probe (the compute counterpart of the write/scan
    // probes): the r17 driver bench ran inside a window where 32-way
    // parallel work was 2-12× slower than 8-way on identical code —
    // CPU steal / host oversubscription that no disk probe can see
    // and that the stall heuristic cannot adjudicate (a contended
    // query still burns CPU, so it is not "starved"). Measure the
    // single-thread throughput of a fixed integer-mix kernel and the
    // aggregate SPEEDUP of the same kernel on `cpus` threads: a
    // healthy host speeds up to ~min(cpus, physical cores); a stolen
    // window collapses the ratio toward 1. Reported pre and post so
    // a mid-run shift is visible, like the io probes.
    val cpuSink = new java.util.concurrent.atomic.AtomicLong(0)
    def cpuProbe(threads: Int): (Double, Double) = {
      def kernel(iters: Long): Long = {
        var h = 0x9E3779B97F4A7C15L
        var i = 0L
        while (i < iters) {
          h = java.lang.Long.rotateLeft(h * 0xC2B2AE3D27D4EB4FL, 31) ^ i
          i += 1
        }
        h
      }
      cpuSink.addAndGet(kernel(1000000L)): Unit // JIT warm-up
      val iters = 150000000L // ~100 ms/thread on a healthy core
      // best of three: one stolen slice inside a single ~100 ms sample
      // would deflate the baseline and inflate the reported speedup
      val stMops = (1 to 3).map { _ =>
        val t1 = System.nanoTime()
        cpuSink.addAndGet(kernel(iters)): Unit
        iters / ((System.nanoTime() - t1) / 1e9) / 1e6
      }.max
      val tn = System.nanoTime()
      val ts = (1 to threads).map { _ =>
        val t = new Thread(() => { cpuSink.addAndGet(kernel(iters)): Unit })
        t.start(); t
      }
      ts.foreach(_.join())
      val aggMops =
        threads.toLong * iters / ((System.nanoTime() - tn) / 1e9) / 1e6
      (stMops, aggMops / stMops)
    }
    val (cpuStPre, cpuParPre) = cpuProbe(cpus.toInt)

    val (scanDirect, scanCached) = scanProbeMBps()
    val ioPre = diskProbeMBps()
    val (coldRaw, coldFailed) = sweep()
    val (warmRaw, _) = sweep()
    val ioPost = diskProbeMBps()
    val (cpuStPost, cpuParPost) = cpuProbe(cpus.toInt)
    val ioMbps = math.min(ioPre, ioPost)
    // worse of the two windows, like io_mbps: the number a reader
    // should use to adjudicate whether parallel cells were starved
    val cpuParX = math.min(cpuParPre, cpuParPost)

    // Stall adjudication: a query is a stall CANDIDATE when all of
    // (a) wall time above an absolute floor (sub-second jitter is
    //     not a stall),
    // (b) `StallFactor`× above its other-sweep counterpart, and
    // (c) CPU-STARVED — the process burned less than one core-second
    //     per wall-second. This is what separates a host I/O stall
    //     (blocked in the kernel, CPU idle — the documented throttle
    //     signature) from genuine one-time work like an ALS retrain
    //     or a memoized index build, which also runs 8×+ its warm
    //     counterpart but saturates many cores doing it.
    // Candidates re-run once; min-of-runs is reported and the
    // ORIGINAL time is kept in `stalls` for transparency.
    val StallFactor = 8.0
    val StallFloorSec = 3.0
    def adjudicate(m: Map[String, (Double, Double)],
        other: Map[String, Double])
        : (Map[String, Double], Map[String, Double]) = {
      val stalls = scala.collection.mutable.Map.empty[String, Double]
      val adjusted = m.map { case (n, (t, cpu)) =>
        val peer = other.getOrElse(n, t)
        val starved = cpu < t // < 1 core-sec/wall-sec on a 32-thread host
        if (t > StallFloorSec && t > StallFactor * math.max(peer, 0.05)
            && starved) {
          timeOne(SparkEntry.queries(n)) match {
            case Right((r, _)) if r < t =>
              stalls(n) = t; n -> r
            case _ => n -> t
          }
        } else n -> t
      }
      (adjusted, stalls.toMap)
    }
    val (cold, coldStalls) = adjudicate(coldRaw, warmRaw.map {
      case (n, (t, _)) => n -> t })
    val (warmAdj, warmStalls) = adjudicate(warmRaw, cold)
    val stallCount = coldStalls.size + warmStalls.size

    // Mid-run WINDOW-SHIFT guard (VERDICT r13 #7): BENCH_r13 started
    // healthy (io_pre 427) and ended in the deepest throttle band
    // (io_post 36.7) with ZERO stall re-runs — the stall heuristic
    // compares each sweep against the OTHER sweep, so a throttle that
    // degrades BOTH sweeps' tails together is invisible to it. When
    // the pre/post write probes diverge >3×, re-run the top-K slowest
    // WARM cells once, post-sweep, and min-merge into warm — warm is
    // the steady-state number BENCH_HISTORY compares across rounds,
    // and a post-sweep isolated run measures exactly that state. Cold
    // is left untouched (a post-sweep re-run has no first-touch work
    // left to pay, so merging it into cold would understate cold);
    // the shift is annotated on both JSON lines instead. CPU steal
    // shifts it too: r18's cpu_par_x fell 27.2 → 21.0 (1.30×)
    // unflagged, against a healthy 24–27 band (1.13×), hence 1.2×.
    val windowShifted =
      diverged(ioPre, ioPost, 3.0) || diverged(cpuParPre, cpuParPost, 1.2)
    var shiftReruns = 0
    val warm: Map[String, Double] =
      if (!windowShifted) warmAdj
      else warmAdj.toSeq.sortBy(-_._2).take(8).foldLeft(warmAdj) {
        case (acc, (n, t)) =>
          timeOne(SparkEntry.queries(n)) match {
            case Right((r, _)) =>
              shiftReruns += 1
              if (r < t) acc + (n -> r) else acc
            case _ => acc
          }
      }
    val ioDegraded = ioMbps < 60.0 || stallCount > 0

    def jmap(m: Map[String, Double], fmt: Double => String): String =
      m.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    // process CPU-seconds per query, from the unadjudicated first runs
    def cpuSecs(m: Map[String, (Double, Double)]): Map[String, Double] =
      m.map { case (n, (_, cpu)) => n -> cpu }
    def jlist(xs: List[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    // explicit ROOT locale: f"$v%.2f" uses the JVM default locale and
    // emits "1,23" under comma-decimal locales, breaking the driver's
    // strict JSON parse of this line
    def r2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

    // Per-query entries, slowest first, until the char budget is hit;
    // the tail of fast queries collapses into one "others" bucket so
    // the line stays inside the driver's 2000-char stdout tail no
    // matter how many queries the engine grows.
    def compactQueries(m: Map[String, Double], budget: Int): String = {
      val byTime = m.toSeq.sortBy(-_._2)
      val sb = new StringBuilder("{")
      var taken = 0
      var full = false
      byTime.foreach { case (k, v) =>
        val entry = (if (taken > 0) "," else "") + "\"" + k + "\":" + r2(v)
        if (!full && sb.length + entry.length < budget) {
          sb ++= entry; taken += 1
        } else full = true // stop at first non-fit so `taken` is a prefix
      }
      if (taken < byTime.size)
        sb ++= (if (taken > 0) "," else "") +
          "\"others\":" + r2(m.values.sum - byTime.take(taken).map(_._2).sum)
      sb ++= "}"
      sb.toString
    }

    val total = cold.values.sum
    val warmTotal = warm.values.sum
    // Verbose (full precision, cold + warm + original stall times) —
    // informational only.
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":${jmap(cold, _.toString)},"warm_total":$warmTotal,""" +
      s""""queries_warm":${jmap(warm, _.toString)},""" +
      s""""queries_cpu":${jmap(cpuSecs(coldRaw), _.toString)},""" +
      s""""queries_warm_cpu":${jmap(cpuSecs(warmRaw), _.toString)},""" +
      s""""stalls_cold":${jmap(coldStalls, _.toString)},""" +
      s""""stalls_warm":${jmap(warmStalls, _.toString)},""" +
      s""""io_mbps_pre":$ioPre,"io_mbps_post":$ioPost,""" +
      s""""cpu_st_mops_pre":$cpuStPre,"cpu_st_mops_post":$cpuStPost,""" +
      s""""cpu_par_x_pre":$cpuParPre,"cpu_par_x_post":$cpuParPost,""" +
      s""""window_shifted":$windowShifted,"shift_reruns":$shiftReruns,""" +
      s""""scan_direct_mbps":$scanDirect,"scan_cached_mbps":$scanCached,""" +
      s""""scratch":"${graft.util.ScratchIndex.base.getPath}",""" +
      s""""failed":${jlist(coldFailed)},"sf":"$sfDir"}""")
    // Driver-contract line: compact, printed LAST. EVERY variable-
    // length part shares the ONE ~1550-char budget: round 8 proved
    // that appending the failed list outside it silently pushed the
    // line past the driver's 2000-char stdout tail exactly when
    // queries failed — truncating the head and losing the round's
    // headline number. The failed list is itself capped at the first
    // 20 REAL query names; the overflow count goes in a separate
    // numeric "failed_more" field so array consumers (rerun/exclusion
    // logic) never see a synthetic element. The queries map gets
    // whatever budget remains.
    val failedPart =
      if (coldFailed.isEmpty) ""
      else {
        val shown = coldFailed.take(20)
        val more =
          if (coldFailed.size > shown.size)
            s""""failed_more":${coldFailed.size - shown.size},"""
          else ""
        s""""failed":${jlist(shown)},$more"""
      }
    // the fixed window_shifted/shift_reruns/cpu_par_x fields joined
    // the compact line, so the variable queries map cedes them ~70
    // chars of the shared ~2000-char driver stdout-tail budget
    val queriesBudget = math.max(400, 1480 - failedPart.length)
    println(s"""{"metric":"total","value":${r2(total)},"unit":"sec",""" +
      s""""queries":${compactQueries(cold, queriesBudget)},""" +
      s""""warm_total":${r2(warmTotal)},$failedPart"n":${cold.size},""" +
      s""""io_mbps":${r2(ioMbps)},"io_degraded":$ioDegraded,""" +
      s""""cpu_par_x":${r2(cpuParX)},""" +
      s""""scan_mbps":${r2(scanDirect)},""" +
      s""""tmpfs":${graft.util.ScratchIndex.tmpfsBacked},""" +
      s""""stall_reruns":$stallCount,"sf":"$sfDir"}""")
    spark.stop()
  }
}
