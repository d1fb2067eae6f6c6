package graft.util

import org.apache.spark.sql.SparkSession

/** Session confs: the shared base every entry point builds on, and
  * scoped SQL-conf overrides with exact restore.
  *
  * Operators that need non-default session confs (AQE skew knobs,
  * broadcast thresholds, runtime bloom filters) must not leak them
  * into the shared session: the bench sweep and the test suite run
  * hundreds of queries on one `SparkSession`, and a leaked AQE knob
  * silently changes planning for every query that follows — results
  * become order-dependent. `withConfs` snapshots each touched key
  * before setting it and restores (or unsets, if the session had not
  * set the key) in a `finally`, so every key it touches is
  * guaranteed restored even when the body throws.
  */
object Confs {

  /** The base of every graft session (Bench, Verify, the tools and
    * the specs); callers add the master, an app name and their own
    * extras.
    *  - UTC session time: the determinism contract's event-time zone.
    *  - Codegen cache 5000 (a static conf, default 100): a full sweep
    *    generates several hundred codegen units, the default cache
    *    thrashes and the warm pass re-compiles nearly every plan.
    *  - Shuffle spill, broadcast scratch, RocksDB working files and
    *    the warehouse live under the scratch root (see ScratchIndex),
    *    off the host disk's fsync backlog.
    *  - The no-fork local file system: absent the Hadoop native
    *    library the stock one shells out to `chmod`, `ls` and
    *    `readlink` on the write path (see [[BareLocalFileSystem]]).
    */
  def session(shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", ScratchIndex.sparkLocalDir())
      .config("spark.sql.warehouse.dir", ScratchIndex.warehouseDir())
      .config("spark.hadoop.fs.file.impl", "graft.util.BareLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.util.BareLocalFs")

  def withConfs[A](s: SparkSession)(kvs: (String, String)*)(body: => A): A = {
    val conf = s.conf
    // getAll, not getOption: getOption answers a registered key's default
    val saved = kvs.map { case (k, _) => k -> conf.getAll.get(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
