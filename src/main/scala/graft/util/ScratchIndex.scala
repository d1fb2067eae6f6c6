package graft.util

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Per-corpus derived indexes (co-order edges, MinHash signatures,
  * verified LSH candidates, kNN graph) materialized once per process
  * to scratch parquet.
  *
  * The scratch root is PER-JVM (pid-scoped, removed by a shutdown
  * hook): a shared deterministic path would let one process read an
  * index a different process built — corrupting scans when the other
  * process rebuilds (the old Overwrite hazard), silently reusing
  * stale indexes if the corpus is regenerated in place, and letting
  * a benchmark skip build costs it should be paying. Within the
  * process, builders write to a UNIQUE temp directory and atomically
  * rename into the final path, so the final directory is only ever
  * absent or complete and concurrent builders race the rename — the
  * loser discards its copy and reads the winner's.
  */
object ScratchIndex {

  /** Scratch lives on tmpfs when possible. Three rounds running, the
    * bench headline was inflated 3-6× by host storage throttling, and
    * the dominant victim was fsync traffic the engine itself controls:
    * streaming state-store commits (checkpoint deltas), shuffle spill,
    * and scratch-index builds. None of that data needs durability — it
    * is all per-JVM and deleted at exit — so it belongs on RAM-backed
    * storage, insulating the measurement (and any real run on a
    * throttled host) from disk health. Selection order: explicit
    * `GRAFT_SCRATCH_DIR` env override, then `/dev/shm` if writable
    * with ample headroom, then `java.io.tmpdir`. The size guard keeps
    * a small-tmpfs host from ENOSPC-ing mid-query: tmpfs pages come
    * out of RAM, so we only opt in when at least 16 GiB are free —
    * two orders of magnitude above the observed sf0.1 scratch
    * footprint (~150 MB indexes + ~100 MB checkpoints).
    *
    * FOOTPRINT ASSUMPTION (the guard is evaluated once, at first
    * touch): scratch grows ~linearly with the scale factor — indexes
    * and checkpoints are derived relations over the corpus — so the
    * 16 GiB headroom covers roughly sf6 worth of concurrent scratch
    * per JVM before tmpfs pressure becomes RAM pressure. Larger runs
    * (or many concurrent JVMs) should set GRAFT_SCRATCH_DIR to a
    * disk-backed path; `warnIfLowHeadroom` additionally reports the
    * first time usable space on the chosen base drops below
    * `LowWaterBytes` mid-run, so an approaching ENOSPC is visible in
    * the log before it bites.
    */
  private val MinTmpfsFreeBytes = 16L << 30
  private val LowWaterBytes = 2L << 30

  /** Selection rule (spec-tested): explicit override if it can be
    * created/written, else `fast` if writable with `minFree` headroom,
    * else `fallback`. An explicit override is operator intent, so a
    * not-yet-existing path is created rather than silently ignored;
    * one that can't be made writable is rejected WITH a warning
    * (dropping an explicit override without a signal was the bug).
    */
  private[graft] def selectBase(overridePath: Option[String], fast: File,
      fallback: File, minFree: Long): File = {
    def writable(d: File): Boolean = d.isDirectory && d.canWrite
    val explicit = overridePath.map { p =>
      val d = new File(p)
      d.mkdirs(): Unit
      d
    }
    explicit.filter(writable)
      .orElse {
        explicit.foreach(d => System.err.println(
          s"[graft] scratch override rejected (not a creatable writable " +
            s"directory): $d — falling through to default selection"))
        Option(fast).filter(d => writable(d) && d.getUsableSpace >= minFree)
      }
      .getOrElse(fallback)
  }

  private[graft] lazy val base: File = selectBase(
    sys.env.get("GRAFT_SCRATCH_DIR"), new File("/dev/shm"),
    new File(System.getProperty("java.io.tmpdir")), MinTmpfsFreeBytes)

  /** Whether the chosen base is RAM-backed (reported in the bench
    * contract line so a round's numbers carry their own storage
    * context). Derived from the FILESYSTEM, not the path literal: a
    * GRAFT_SCRATCH_DIR override pointing at a tmpfs (or a symlinked
    * /dev/shm variant) reports true, and a bind-mounted disk at
    * /dev/shm would report false.
    */
  lazy val tmpfsBacked: Boolean =
    try {
      val t = Files.getFileStore(base.toPath.toRealPath()).`type`()
      t == "tmpfs" || t == "ramfs"
    } catch { case scala.util.control.NonFatal(_) => false }

  private val lowHeadroomWarned = new java.util.concurrent.atomic
    .AtomicBoolean(false)

  /** One-shot mid-run headroom report: the MinTmpfsFreeBytes guard
    * runs once at JVM start, but shuffle spill and state stores keep
    * writing afterwards — surface the first time the base gets tight
    * instead of letting a later write hit ENOSPC silently.
    */
  private def warnIfLowHeadroom(): Unit =
    if (base.getUsableSpace < LowWaterBytes
        && lowHeadroomWarned.compareAndSet(false, true))
      System.err.println(s"[graft] scratch base $base below " +
        s"${LowWaterBytes >> 30} GiB usable — large scratch writes may " +
        "ENOSPC; set GRAFT_SCRATCH_DIR to a roomier path")

  /** Reap pid-scoped scratch left by DEAD processes. The shutdown
    * hook only runs on orderly exit; a SIGKILL (OOM killer, external
    * kill) skips it and leaves the whole scratch tree behind — and on
    * a tmpfs base that garbage is RAM, not disk. Observed failure
    * chain (2026-08-15): an OOM-killed profiling JVM left 111 GiB of
    * shuffle spill in /dev/shm, which then starved and OOM-killed the
    * NEXT JVM. Reaping at first touch bounds the leak to one process
    * generation: liveness comes from `ProcessHandle.of(pid)`, so a
    * running sibling JVM's scratch is never touched, and concurrent
    * reapers deleting the same dead dir are harmless (delete of a
    * missing file is a no-op).
    */
  private[graft] def reapDeadScratch(baseDir: File): Unit = {
    val Named = """graft_scratch_(\d+)""".r
    Option(baseDir.listFiles()).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case Named(pid) if pid.toLong != ProcessHandle.current().pid() &&
            !ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive)
              .orElse(false) =>
          System.err.println(s"[graft] reaping scratch of dead pid $pid: $f")
          deleteRecursively(f)
        case _ => ()
      }
    }
  }

  private lazy val root: File = {
    reapDeadScratch(base)
    val dir = new File(base, s"graft_scratch_${ProcessHandle.current().pid()}")
    dir.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      deleteRecursively(dir)))
    dir
  }

  /** A per-JVM `spark.local.dir` under the scratch root, for session
    * builders: routes shuffle spill, broadcast scratch, and the RocksDB
    * state store's working files onto the fast base. Under the same
    * pid-scoped root so the shutdown hook cleans it with everything
    * else.
    */
  def sparkLocalDir(): String = {
    val d = new File(root, "spark_local")
    d.mkdirs()
    d.toString
  }

  /** A per-JVM `spark.sql.warehouse.dir` under the scratch root. The
    * warehouse's contents here are rebuild-per-JVM by construction
    * (bucketed tables and CBO catalog tables drop + recreate their
    * physical locations on first touch), so the default
    * `./spark-warehouse` was de-facto scratch living on the host disk
    * — and a shared physical path two concurrent JVMs could corrupt
    * for each other (the hazard class this object exists to remove).
    */
  def warehouseDir(): String = {
    val d = new File(root, "warehouse")
    d.mkdirs()
    d.toString
  }

  /** Parquet codec for scratch artifacts: UNCOMPRESSED when the base
    * is RAM-backed — compressing bytes whose medium is memory burns
    * CPU on the build (jstack samples of the graph first-touch builds
    * showed the snappy compressor + RLE/dictionary encoders as top
    * frames) and again on every re-read, for zero I/O benefit. On a
    * disk-backed base the session default (snappy) stays: there the
    * bytes do cross a device. Footprint: the 16 GiB tmpfs opt-in
    * guard and warnIfLowHeadroom already police scratch growth, and
    * uncompressed parquet still dictionary/RLE-encodes, so the growth
    * is bounded (~2-3× observed).
    */
  private def scratchWriter(df: DataFrame) = {
    val w = df.write.mode(SaveMode.Overwrite)
    if (tmpfsBacked) w.option("compression", "uncompressed") else w
  }

  /** The artifact under `key`, built on first touch as a plain
    * parquet dump of `build` and read back (schema inferred once per
    * JVM, see `Tables.parquet`).
    */
  def materialize(s: SparkSession, key: String)(build: => DataFrame)
      : DataFrame =
    Tables.parquet(s,
      materializePath(s, key)(p => scratchWriter(build).parquet(p)))

  /** Like `materialize`, but the builder controls the write (e.g. a
    * hive-partitioned `partitionBy` layout a plain parquet dump can't
    * express). The callback writes into a unique temp dir which is
    * atomically renamed into place; returns the final path.
    */
  def materializePath(s: SparkSession, key: String)(write: String => Unit)
      : String = {
    warnIfLowHeadroom()
    val dst = new File(root, key)
    if (!dst.exists()) {
      val tmp = new File(root,
        s"$key.build_${java.util.UUID.randomUUID().toString.take(8)}")
      write(tmp.toString)
      try Files.move(tmp.toPath, dst.toPath,
        StandardCopyOption.ATOMIC_MOVE): Unit
      catch {
        case _: java.nio.file.FileSystemException =>
          deleteRecursively(tmp) // another builder won the rename
      }
    }
    dst.toString
  }

  // NOTE: there was a cross-JVM `sharedArtifact` store here (r8-r17,
  // /dev/shm/graft_scratch_shared, used for ALS factor matrices).
  // Removed in r18: persistence ACROSS bench invocations let a cold
  // driver run load a previous process's fitted model — result
  // caching across runs, which the optimization brief classifies as
  // gaming. Everything memoized now lives under the pid-scoped root
  // and dies with the process.

  /** On-disk byte size of a pid-scoped memoized artifact, 0 if not
    * (yet) materialized. Plan-time sizing input for scale-adaptive
    * join-strategy gates (guide §3.1: broadcast the side that fits —
    * but only when its MEASURED size says so, not an estimate): the
    * artifact is a plain parquet directory whose length is the best
    * available proxy for the relation's in-memory footprint, and
    * reading it costs a few stat calls, not a Spark job.
    */
  def artifactBytes(key: String): Long = {
    def sz(f: File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).map(_.map(sz).sum).getOrElse(0L)
    val dst = new File(root, key)
    if (dst.exists()) sz(dst) else 0L
  }

  /** Drop a pid-scoped memoized artifact (measurement-only: profile
    * loops re-time a daily publish by dropping its key between
    * rounds; registered query paths never drop).
    */
  def dropKey(key: String): Unit = {
    val dst = new File(root, key)
    if (dst.exists()) deleteRecursively(dst)
  }

  /** A named scratch directory under the pid-scoped root, for callers
    * that manage their own file layout (streaming checkpoints/sinks).
    * Pid-scoping matters because those callers typically START by
    * recursively deleting the directory — a path shared across JVMs
    * would let two concurrent harnesses delete each other's in-flight
    * state. Cleaned up by the same shutdown hook as the indexes.
    */
  def dir(key: String): File = { warnIfLowHeadroom(); new File(root, key) }

  /** Collision-resistant corpus identifier for scratch keys: the
    * sanitized corpus path itself, NOT a 32-bit `hashCode` — one JVM
    * sweeping multiple corpora (the five-decade scaling sweeps) must
    * never alias two corpora onto one key, and a path hash can
    * (ADVICE r13). Underscore-folding keeps the tag a legal directory
    * name AND a legal Hive database suffix (`[A-Za-z0-9_]` only — the
    * CBO query derives a database name from it, which rejects dots).
    * Corpus paths are short (< 60 chars), so the full path fits any
    * filename limit with room for the key prefix.
    */
  def corpusTag(path: String): String =
    path.replaceAll("[^A-Za-z0-9_]", "_")

  /** Deletes `f` and everything under it; a missing `f` is a no-op.
    * Plain `java.io` on purpose: Spark's `JavaUtils.deleteRecursively`
    * forks `rm -rf`.
    */
  private[graft] def deleteRecursively(f: File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
