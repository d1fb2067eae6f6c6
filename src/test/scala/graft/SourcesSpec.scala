package graft

import graft.sources.Sources

class SourcesSpec extends SparkTestBase {

  test("csv round-trip preserves the relation") {
    val back = Sources.csvRoundtrip(spark, sf)
    val orig = spark.read.parquet(s"$sf/orders.parquet")
    assert(back.count() === orig.count())
  }

  test("partitioned read prunes to one partition directory") {
    val df = Sources.partitionedWrite(spark, sf)
    assert(df.count() > 0)
    // the scan must carry a partition filter on event_type, leaving no
    // data filter (pruning happened at planning, not at runtime)
    val scan = df.queryExecution.executedPlan.toString()
    assert(scan.contains("PartitionFilters: [isnotnull(event_type"),
      s"expected partition filters in:\n$scan")
  }

  test("DSv2 synthetic source: real partitions, pruned generator schema") {
    val raw = spark.read.format("graft-synthetic")
      .option("rows", "1000").option("numPartitions", "8").load()
    assert(raw.rdd.getNumPartitions === 8) // planInputPartitions width
    assert(raw.count() === 1000)
    // column pruning reaches the generator: a 2-column projection
    // scans a 2-column schema
    val pruned = raw.select("id", "value")
    val scan = pruned.queryExecution.executedPlan.toString()
    assert(scan.contains("BatchScan"), scan)
    assert(!scan.replaceAll("\\s", "").contains("bucket"),
      s"pruned scan still reads 'bucket':\n$scan")
  }

  test("DSv2 filter pushdown narrows the generated id range at the source") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("graft-synthetic")
      .option("rows", "100000").option("numPartitions", "8").load()
      .filter(col("id") >= 90000L && col("id") < 99000L
        && col("tag") =!= "t3")
    val plan = df.queryExecution.executedPlan.toString()
    // the range predicate crossed the DSv2 boundary: the scan's
    // description shows the narrowed generator range
    assert(plan.contains("range=[90000,99000)"),
      s"expected filter-narrowed source range in:\n$plan")
    // the non-pushable tag predicate stayed a residual Spark filter
    assert(plan.contains("Filter"), s"expected residual filter in:\n$plan")
    assert(df.count() === 9000 - 900) // 9000 ids minus the t3 decile
  }

  test("DSv2 pushdown bound arithmetic saturates at Long.MaxValue") {
    import org.apache.spark.sql.functions._
    def synth = spark.read.format("graft-synthetic")
      .option("rows", "1000").option("numPartitions", "2").load()
    // id > MaxValue is unsatisfiable; a wrapping v+1 would have left
    // the range un-narrowed while reporting the filter fully handled
    assert(synth.filter(col("id") > Long.MaxValue).count() === 0)
    // id <= MaxValue is a tautology; a wrapping v+1 would have
    // collapsed the range to empty
    assert(synth.filter(col("id") <= Long.MaxValue).count() === 1000)
    assert(synth.filter(col("id") === Long.MaxValue).count() === 0)
  }

  test("dynamic partition pruning scans only dim-selected year partitions") {
    val out = Sources.dppJoin(spark, sf) // writes fact+dim layouts
    val rows = out.collect()
    assert(rows.nonEmpty)
    // only years the filtered dim selects appear (1996..1998)
    assert(rows.map(_.getInt(0)).toSet.subsetOf(Set(1996, 1997, 1998)))
    val plan = out.queryExecution.executedPlan.toString()
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected dynamicpruningexpression in fact PartitionFilters:\n$plan")
  }

  test("schema evolution: divergent footers merge, old rows null-backfill") {
    import org.apache.spark.sql.functions._
    val agg = Sources.schemaEvolution(spark, sf) // writes both epochs
    assert(agg.columns.toSeq ===
      Seq("priority", "n_orders", "total"))
    assert(agg.filter(col("priority") === "<pre-upgrade>").count() === 1)
    // the merged read exposes the evolved column over ALL files
    val out = Sources.scratchPath("orders_evolving")
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.columns.contains("o_orderpriority"))
    // per-file footers genuinely differ: some files lack the column
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    val widths = files.map(f => spark.read.parquet(f).columns.length).toSet
    assert(widths === Set(3, 4),
      s"expected mixed 3- and 4-column footers, got widths $widths")
    // old-epoch rows surface NULL, new-epoch rows a real priority
    assert(merged.filter(col("o_orderpriority").isNull)
      .filter(pmod(col("o_orderkey"), lit(2)) === 1).count() === 0)
  }

  test("range export writes disjoint, internally-sorted files") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Sources.rangeExport(spark, sf).count() // produce the export
    // per-file min/max must be disjoint ranges
    val files = Sources.rangeExport(spark, sf).inputFiles.sorted
    assert(files.length > 1)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min($"o_orderkey"), max($"o_orderkey"))
        .as[(Long, Long)].head()
      r
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2,
        s"file ranges overlap: $ranges")
      case _ =>
    }
  }

  test("DSv2 sink: round trip preserves the relation, commit is atomic") {
    import org.apache.spark.sql.functions._
    val direct = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 4).as("total"))
    val back = Sources.dsv2SinkRoundtrip(spark, sf)
    assert(back.count() === direct.count())
    assert(back.except(direct).count() === 0)
    // nothing visible under a different table name — commit publishes
    // only the written table
    assert(graft.sources.MemorySink.rowsOf("never-written").isEmpty)
  }

  test("DSv2 sink: append accumulates, overwrite truncates atomically") {
    import spark.implicits._
    val name = "memsink-modes-spec"
    graft.sources.MemorySink.drop(name)
    def write(df: org.apache.spark.sql.DataFrame,
        mode: org.apache.spark.sql.SaveMode): Unit =
      df.write.format("graft-memsink").option("table", name)
        .mode(mode).save()
    val a = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b = Seq((3L, "c")).toDF("id", "v")
    write(a, org.apache.spark.sql.SaveMode.Append)
    write(b, org.apache.spark.sql.SaveMode.Append)
    assert(graft.sources.MemorySink.rowsOf(name).get._2.length === 3,
      "append must accumulate committed batches")
    write(b, org.apache.spark.sql.SaveMode.Overwrite)
    val after = graft.sources.MemorySink.rowsOf(name).get._2
    assert(after.length === 1 && after.head(0) === 3L,
      "overwrite must truncate prior commits, keep only the new batch")
    val back = Sources.dsv2SinkOverwrite(spark, sf)
    // decoy batch (negated n for status F) must not survive
    assert(back.collect().forall(_.getLong(1) > 0))
  }

  test("stats skipping: files are actually pruned, answer equals full scan") {
    import org.apache.spark.sql.functions._
    val got = Sources.statsSkipping(spark, sf).collect()
    // manifest pruning must have skipped real files (the 1997 band
    // covers ~1/6 of the 1995..2001 date range across 8 range files)
    val (read, total) = Sources.statsSkipFileCounts(sf)
    assert(read < total, s"no files skipped: read $read of $total")
    assert(read > 0)
    // and the pruned read answers exactly like the unpruned scan
    val want = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") <= lit("1997-12-31 23:59:59").cast("timestamp"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 4).as("total_price"),
        min(col("o_orderdate")).as("first_date"),
        max(col("o_orderdate")).as("last_date"))
      .orderBy("o_orderstatus").collect()
    assert(got.toSeq === want.toSeq)
  }

  test("compaction collapses the file count without losing a row") {
    val agg = Sources.compaction(spark, sf).collect()
    val (before, after) = Sources.compactionFileCounts(sf)
    assert(before > after, s"no collapse: $before -> $after files")
    assert(after <= 4 && after > 0)
    // row conservation across the rewrite
    val n = agg.map(_.getLong(1)).sum
    assert(n === spark.read.parquet(s"$sf/events.parquet").count())
  }

  test("bucketed join plans with no shuffle exchange") {
    val df = Sources.bucketedJoin(spark, sf)
    assert(df.count() > 0)
    // the bucketed join must not re-shuffle on the join key: the only
    // allowed exchange is the final orderBy's range repartition, which a
    // result small enough to sort in one task does without
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected hash exchange in bucketed join plan:\n$plan")
  }

  test("bucketed layout is written once and re-registered, not rebuilt") {
    import org.apache.spark.sql.functions.col
    val first = Sources.bucketedJoin(spark, sf)
    val firstRows = first.orderBy("o_orderkey").collect()
    // one file per bucket: the aligned pre-repartition means file
    // count == bucket count, not input-partitions × buckets
    val files = first.inputFiles
    assert(files.nonEmpty && files.forall(_.matches(".*_\\d{5}\\.c.*")),
      s"bucket-id suffix missing from: ${files.take(3).mkString(", ")}")
    val mtimes = files.map(f =>
      f -> new java.io.File(new java.net.URI(f)).lastModified).toMap
    // simulate a fresh JVM's empty catalog: drop both entries (the
    // files survive — the tables are external) and run again.
    // listTables(db) also returns SESSION TEMP VIEWS other suites
    // registered (e.g. the events_canon canonicalization view), which
    // do not live in the database and fail a qualified DROP TABLE —
    // filter to real (non-temporary) tables
    spark.catalog.listTables("graft_buckets").collect()
      .filter(!_.isTemporary)
      .foreach(t => spark.sql(s"DROP TABLE graft_buckets.${t.name}"))
    val second = Sources.bucketedJoin(spark, sf)
    val plan = second.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange hashpartitioning"),
      "re-registered tables lost their bucket metadata")
    assert(second.orderBy("o_orderkey").collect().sameElements(firstRows))
    // every original file untouched — re-registration, not a rewrite
    second.inputFiles.foreach { f =>
      assert(mtimes.contains(f) &&
        mtimes(f) == new java.io.File(new java.net.URI(f)).lastModified,
        s"bucket file rebuilt or replaced: $f")
    }
  }

  test("scratch base selection: override > tmpfs-with-headroom > fallback") {
    import graft.util.ScratchIndex.selectBase
    val tmp = java.nio.file.Files.createTempDirectory("graft_base_spec")
    val a = new java.io.File(tmp.toFile, "override"); a.mkdirs()
    val fast = new java.io.File(tmp.toFile, "fast"); fast.mkdirs()
    val fb = new java.io.File(tmp.toFile, "fallback"); fb.mkdirs()
    // writable override always wins
    assert(selectBase(Some(a.getPath), fast, fb, 0L) === a)
    // a not-yet-existing override is CREATED and wins — an explicit
    // override is operator intent, not a hint (round-7 advice: the
    // old rule silently dropped it)
    val fresh = new java.io.File(tmp.toFile, "fresh_override")
    assert(selectBase(Some(fresh.getPath), fast, fb, 0L) === fresh)
    assert(fresh.isDirectory)
    // an UNCREATABLE override (parent is a file) falls through to the
    // fast base, with a warning on stderr
    val blocker = new java.io.File(tmp.toFile, "blocker")
    java.nio.file.Files.write(blocker.toPath, "x".getBytes): Unit
    assert(selectBase(Some(new java.io.File(blocker, "sub").getPath),
      fast, fb, 0L) === fast)
    assert(selectBase(None, fast, fb, 0L) === fast)
    // insufficient headroom on the fast base -> durable fallback (the
    // guard that keeps a small-tmpfs host from ENOSPC mid-query)
    assert(selectBase(None, fast, fb, Long.MaxValue) === fb)
    a.delete(); fast.delete(); fb.delete(); tmp.toFile.delete(): Unit
  }

  test("dead-pid scratch is reaped; live and foreign dirs survive") {
    import graft.util.ScratchIndex.reapDeadScratch
    val base = java.nio.file.Files.createTempDirectory("graft_reap_spec")
      .toFile
    // a dead pid's scratch: SIGKILL skips the shutdown hook, and on a
    // tmpfs base the leftovers are RAM (observed: 111 GiB from one
    // OOM-killed JVM starving the next). Pid max is bounded well
    // below Long.MaxValue, so this pid can never be alive.
    val dead = new java.io.File(base, s"graft_scratch_${Long.MaxValue}")
    new java.io.File(dead, "spark_local").mkdirs()
    // this JVM's own dir and non-matching names must never be touched
    val mine = new java.io.File(base,
      s"graft_scratch_${ProcessHandle.current().pid()}")
    mine.mkdirs()
    val shared = new java.io.File(base, "graft_scratch_shared")
    shared.mkdirs()
    val foreign = new java.io.File(base, "unrelated_dir")
    foreign.mkdirs()
    reapDeadScratch(base)
    assert(!dead.exists(), "dead pid scratch should be reaped")
    assert(mine.exists() && shared.exists() && foreign.exists(),
      "live/shared/foreign dirs must survive the reap")
    Seq(mine, shared, foreign, base).foreach(_.delete(): Unit)
  }
}
