package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers for the driver-generated testdata tables
  * (`/root/testdata/sf*`, see TESTDATA.md). All engine queries funnel
  * through here so scan-level concerns (schema quirks, session confs)
  * live in one place.
  */
object Tables {

  /** Parquet scan for a testdata table. Column pruning + predicate
    * pushdown happen in the callers' plans (verified via
    * `.explain("formatted")` — PushedFilters/ReadSchema).
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  // the confs parquet schema conversion reads: one footer, many schemas
  private val schemaConfs = Seq("spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[String]), ((Long, Long), StructType)]()

  /** `s.read.parquet(path)`, inferring the path's schema once per JVM:
    * a plain read re-reads a footer through a one-task Spark job every
    * time, a hit supplies the remembered schema and starts no job. A
    * miss is the plain read itself, so the path is still listed once.
    * The cache relies on its callers' paths never being rewritten:
    * testdata is never written, and memoized artifacts appear only by
    * atomic rename (`ScratchIndex.materializePath`). Each entry is
    * still stamped with the path's mtime and length, and a changed
    * stamp replaces it. Reads whose inference is the point (the
    * `sources` roundtrip and schema-evolution checks of their own
    * output) or whose path is rewritten per call stay `s.read.parquet`.
    */
  def parquet(s: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    val stamp = (st.getModificationTime, st.getLen)
    val key = (path, schemaConfs.map(s.conf.get))
    schemas.get(key) match {
      case (`stamp`, schema) => s.read.schema(schema).parquet(path)
      case _ =>
        val df = s.read.parquet(path)
        schemas.put(key, (stamp, df.schema))
        df
    }
  }

  /** Streaming file source for `$dir/$name.parquet`, accepting BOTH
    * layouts a lake presents: a plain single file (the driver
    * testdata) and a directory of part files (the multi-file scale
    * fixture; any real lake table). The streaming source monitors a
    * directory, and `pathGlobFilter` matches LEAF file names only —
    * so the single-file layout must be selected via glob on the
    * PARENT dir, while a directory-shaped table streams the directory
    * itself (globbing the parent for `name.parquet` would match the
    * directory but stream zero rows from it — the silent-empty trap
    * ScaleFixture used to avoid by writing one coalesced file, which
    * in turn capped batch scan parallelism at one task per 128 MB).
    */
  def streamTable(s: SparkSession, dir: String, name: String,
      schema: StructType): DataFrame = {
    // Layout detection goes through Hadoop's FileSystem, not
    // java.io.File: a URI-style or remote path (file:/, hdfs:, s3a:)
    // is invisible to java.io.File, which would report !isDirectory
    // and fall into the glob branch — matching the DIRECTORY by name
    // and silently streaming zero rows, the exact trap this helper
    // exists to close. A missing table fails loudly here instead.
    val leaf = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = leaf.getFileSystem(s.sparkContext.hadoopConfiguration)
    val status =
      try fs.getFileStatus(leaf)
      catch {
        case e: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"streamTable: $leaf does not exist — a typo'd table name " +
              "would otherwise stream zero rows silently", e)
      }
    if (status.isDirectory)
      s.readStream.schema(schema).parquet(leaf.toString)
    else
      s.readStream.schema(schema)
        .option("pathGlobFilter", s"$name.parquet").parquet(dir)
  }

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Raw `events` scan, `ts` in WHATEVER type the driver generator
    * wrote it — the generator has already drifted once (parquet INT64
    * TIMESTAMP(NANOS) through round 7, TIMESTAMP(MICROS)/TIMESTAMP_NTZ
    * from round 8's regen), so nothing outside this file may assume a
    * `ts` physical type. `nanosAsLong` is set so the legacy NANOS form
    * still scans on Spark 4.1.2 ([PARQUET_TYPE_ILLEGAL] otherwise);
    * it is a no-op for µs data. Engine code wants [[events]]; this raw
    * form exists for schema probes (streaming sources need the file
    * schema) and for fixture replication that must preserve the
    * driver's `ts` type byte-for-type (tools/ScaleFixture).
    */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // every graft entry point already pins UTC; re-pin here so a
    // FOREIGN session (the driver smoke-checking SparkEntry.entry)
    // gets the same NTZ↔epoch reinterpretation the oracles assume
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t(spark, dir, "events")
  }

  /** The `events` table in the engine-CANONICAL event-time schema:
    * raw `ts` is replaced by
    *   - `ts_us`      BIGINT epoch-microseconds (all integer
    *                  bucket/gap arithmetic runs on this — exact and
    *                  engine-portable; DuckDB's `epoch_us(ts)` yields
    *                  the same values for every `ts` encoding), and
    *   - `event_time` TIMESTAMP at µs precision (window/session/
    *                  watermark operators consume this).
    * This is the ONLY place that inspects the scanned `ts` type; every
    * downstream query consumes the canonical columns, so a future
    * generator drift is absorbed here (or rejected with one clear
    * diagnostic), not at 30 query sites.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTime(eventsRaw(spark, dir))

  /** Normalize an events-shaped frame (batch OR streaming) whose `ts`
    * column is one of the known driver encodings into the canonical
    * `ts_us` + `event_time` columns described on [[events]].
    *
    * `event_time` is µs-floored in every branch, so windows, session
    * gaps and watermark comparisons agree exactly with the integer
    * `ts_us` arithmetic and with DuckDB's µs-truncating `epoch_us`.
    * TIMESTAMP_NTZ → epoch extraction goes through a cast to
    * session-TZ timestamp: every graft entry point pins
    * `spark.sql.session.timeZone=UTC` (Bench/Verify/Profile/specs),
    * under which the cast is an exact reinterpretation.
    */
  def normalizeEventTime(df: DataFrame): DataFrame = {
    val tsUs: Column = df.schema("ts").dataType match {
      case LongType =>
        // Legacy epoch-NANOS. Guard the unit assumption AT RUNTIME:
        // if the generator ever drifts to plain INT64 epoch-micros or
        // -millis, `div 1000` would silently shift every timestamp
        // 1000x. Plausible epoch-ns for the corpus era (1990..2100) is
        // [6.3e17, 4.2e18]; µs (~1.5e15), ms (~1.5e12) and s (~1.5e9)
        // magnitudes all fall OUTSIDE it, so a per-row range check —
        // two codegen'd long compares, negligible vs parquet decode,
        // streaming-safe (no action) — turns the drift into the same
        // loud 'drifted' diagnostic the type tripwire raises.
        when(col("ts").between(6.3e17.toLong, 4.2e18.toLong),
          expr("ts div 1000"))
          .otherwise(raise_error(concat(
            lit("events.ts drifted: INT64 value "), col("ts").cast("string"),
            lit(" is outside the plausible epoch-nanos range — the " +
              "generator likely switched INT64 units; teach " +
              "graft.util.Tables.normalizeEventTime this encoding " +
              "(single fix point; see SchemaContractSpec)"))))
      case _: TimestampNTZType    => unix_micros(col("ts").cast(TimestampType))
      case _: TimestampType       => unix_micros(col("ts"))
      case other =>
        throw new IllegalStateException(
          s"events.ts drifted to unsupported type $other — teach " +
            "graft.util.Tables.normalizeEventTime this encoding " +
            "(single fix point; see SchemaContractSpec)")
    }
    df.withColumn("ts_us", tsUs)
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .drop("ts")
  }
}
