package graft

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Both lake layouts a table can present — a plain single file
  * (driver testdata) and a directory of part files (multi-file scale
  * fixture; any real lake) — must stream identically through
  * Tables.streamTable. The directory layout is the one the streaming
  * source silently DROPPED under the old parent-dir glob
  * (pathGlobFilter matches leaf names only), which forced ScaleFixture
  * into single coalesced files and capped batch scan parallelism at
  * one task per 128 MB of file bytes.
  *
  * The same drain also guards the no-fork local FS on the checkpoint
  * path: every checkpoint file Spark renames through FileContext asks
  * for its link status, which the stock non-native RawLocalFileSystem
  * answers by forking `readlink` (see graft.util.BareLocalFileSystem).
  *
  * The last two cases guard `EventStream.drain`, the one helper every
  * graft stream starts through: a warm run of a stream reuses the
  * code the first run compiled, and the drain's confs never leak.
  */
class StreamLayoutSpec extends SparkTestBase {

  private def drain(src: org.apache.spark.sql.DataFrame,
      name: String): Seq[(Long, Long)] = {
    val q = src.groupBy((col("doc_id") % 3).as("k"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation",
        graft.util.ScratchIndex.dir(s"ck_layout_$name").toString)
      .format("memory").queryName(s"layout_$name").start()
    try q.processAllAvailable() finally q.stop()
    spark.table(s"layout_$name").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
  }

  test("file-shaped and directory-shaped tables stream identically") {
    val base = graft.util.ScratchIndex.dir("layout_fixture").toString
    val docs = spark.range(0, 97)
      .select(col("id").as("doc_id"),
        concat(lit("text "), col("id")).as("text"))
    // single-file layout: one part file renamed to <name>.parquet
    docs.coalesce(1).write.mode("overwrite").parquet(s"$base/tmp")
    val part = new java.io.File(s"$base/tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    new java.io.File(s"$base/single").mkdirs()
    java.nio.file.Files.move(part.toPath,
      new java.io.File(s"$base/single/docs.parquet").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // directory layout: 3 part files under <name>.parquet/
    docs.repartition(3).write.mode("overwrite")
      .parquet(s"$base/multi/docs.parquet")

    val schema = docs.schema
    val single = drain(
      graft.util.Tables.streamTable(spark, s"$base/single", "docs", schema),
      "single")
    val multi = drain(
      graft.util.Tables.streamTable(spark, s"$base/multi", "docs", schema),
      "multi")
    assert(single.map(_._2).sum == 97, s"single-file drain lost rows: $single")
    assert(single == multi,
      s"layouts diverged: single=$single multi=$multi")
  }

  /** Runs `body` under a JFR recording of `jdk.ProcessStart` and
    * returns the command of every `readlink` start naming `dir`.
    */
  private def readlinkStarts(dir: java.io.File)(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withThreshold(java.time.Duration.ZERO)
    val out = new java.io.File(dir.getParentFile, s"${dir.getName}.jfr").toPath
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
    } finally rec.close()
    try jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
      .filter(c => c.startsWith("readlink") && c.contains(dir.getPath))
    finally java.nio.file.Files.deleteIfExists(out): Unit
  }

  test("checkpoint writes start no readlink process") {
    val src = graft.util.ScratchIndex.dir("layout_forks_src").getPath
    spark.range(0, 40).select(col("id").as("doc_id"))
      .write.mode("overwrite").parquet(src)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, "org.apache.spark.sql.execution" +
      ".streaming.state.HDFSBackedStateStoreProvider")
    // drain's checkpoint dir: offset, commit and source logs, the
    // state-store deltas and the operator metadata all land here
    val drained = try readlinkStarts(
        graft.util.ScratchIndex.dir("ck_layout_forks")) {
      val rows = drain(spark.readStream.schema("doc_id LONG").parquet(src),
        "forks")
      assert(rows.map(_._2).sum == 40, rows)
    } finally prevProvider match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None    => spark.conf.unset(providerKey)
    }
    assert(drained.isEmpty, s"the drain forked readlink: $drained")

    val dir = graft.util.ScratchIndex.dir("layout_forks_atomic")
    graft.util.ScratchIndex.deleteRecursively(dir)
    dir.mkdirs(): Unit
    val conf = spark.sparkContext.hadoopConfiguration
    val ckfm = org.apache.spark.sql.execution.streaming.checkpointing
      .CheckpointFileManager.create(new Path(s"file:${dir.getPath}"), conf)
    val writes = readlinkStarts(dir) {
      for (i <- 1 to 3) {
        val os = ckfm.createAtomic(new Path(s"file:${dir.getPath}/$i"),
          false)
        os.write(Array[Byte](1, 2, 3))
        os.close()
      }
    }
    assert(writes.isEmpty, s"checkpoint writes forked readlink: $writes")

    // the probe does see a readlink start: the stock FS forks one
    val stock = new RawLocalFileSystem
    stock.initialize(java.net.URI.create("file:///"), conf)
    val control = readlinkStarts(dir) {
      stock.getFileLinkStatus(new Path(s"file:${dir.getPath}/1")): Unit
    }
    assert(control.nonEmpty, "JFR recorded no readlink start for the stock FS")
  }

  test("fork-free link status matches the inherited one") {
    val dir = graft.util.ScratchIndex.dir("link_status")
    graft.util.ScratchIndex.deleteRecursively(dir)
    val file = new java.io.File(dir, "f")
    val sub = new java.io.File(dir, "d")
    val link = new java.io.File(dir, "l")
    sub.mkdirs(): Unit
    java.nio.file.Files.write(file.toPath, Array[Byte](1, 2, 3, 4)): Unit
    java.nio.file.Files.createSymbolicLink(link.toPath, file.toPath): Unit
    val conf = spark.sparkContext.hadoopConfiguration
    val bare = new graft.util.BareRawLocalFileSystem
    val stock = new RawLocalFileSystem
    Seq(bare, stock).foreach(
      _.initialize(java.net.URI.create("file:///"), conf))
    def fields(st: org.apache.hadoop.fs.FileStatus) =
      (st.getPath, st.getLen, st.isDirectory, st.isSymlink,
        st.getModificationTime,
        if (st.isSymlink) Some(st.getSymlink) else None)

    for (f <- Seq(file, sub)) {
      val p = new Path(s"file:${f.getPath}")
      assert(fields(bare.getFileLinkStatus(p)) ==
        fields(stock.getFileLinkStatus(p)), f)
      assert(fields(bare.getFileLinkStatus(p)) ==
        fields(bare.getFileStatus(p)), f)
    }
    val missing = new Path(s"file:${dir.getPath}/missing")
    intercept[java.io.FileNotFoundException](bare.getFileLinkStatus(missing))
    intercept[java.io.FileNotFoundException](stock.getFileLinkStatus(missing))
    // a scheme-less path is one the inherited `readlink` resolves, so
    // both report the symlink and its qualified target
    val lp = new Path(link.getPath)
    val viaBare = bare.getFileLinkStatus(lp)
    assert(viaBare.isSymlink, viaBare)
    assert(fields(viaBare) == fields(stock.getFileLinkStatus(lp)))
    assert(viaBare.getSymlink.toUri.getScheme == "file")
    assert(viaBare.getSymlink.toUri.getPath == file.getPath)
  }

  test("a warm stream run compiles nothing") {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // each recompiled on every run through the per-run executor class
    // loader; the last two also through a per-run GroupState encoder
    for ((name, query) <- Seq(
        "stream_tws_totals" -> graft.streaming.EventStream.twsTotals _,
        "stream_sessionize" -> graft.streaming.EventStream.sessionCounts _,
        "stream_dedup_minhash" -> graft.streaming.DedupStream.streamingDedup _)) {
      val first = query(spark, sf).collect()
      val before = compiles
      val second = query(spark, sf).collect()
      val recompiled = compiles - before
      assert(recompiled == 0, s"the second drain of $name compiled $recompiled classes")
      assert(second.toSeq == first.toSeq, name)
    }
  }

  test("the stream drain restores its confs, also when start() throws") {
    val parts = "spark.sql.shuffle.partitions"
    val isolation = "spark.sql.artifact.isolation.enabled"
    val src = graft.util.ScratchIndex.dir("layout_confs_src").getPath
    spark.range(0, 10).write.mode("overwrite").parquet(src)
    val isolationBefore = spark.conf.get(isolation)
    assert(!spark.conf.getAll.contains(isolation), "precondition: unset")
    graft.util.Confs.withConfs(spark)(parts -> "7") {
      var during = Seq.empty[String]
      def inScope(): Unit = during = Seq(spark.conf.get(parts), spark.conf.get(isolation))
      def restored(): Unit = {
        assert(during == Seq("4", "false"))
        assert(spark.conf.get(parts) == "7")
        assert(!spark.conf.getAll.contains(isolation))
        assert(spark.conf.get(isolation) == isolationBefore)
      }
      val q = graft.streaming.EventStream.drain(spark) {
        inScope()
        spark.readStream.schema("id LONG").parquet(src).writeStream
          .option("checkpointLocation",
            graft.util.ScratchIndex.dir("ck_layout_confs").toString)
          .format("noop").start()
      }
      assert(!q.isActive && q.exception.isEmpty)
      restored()

      during = Nil
      intercept[IllegalStateException] {
        graft.streaming.EventStream.drain(spark) {
          inScope()
          throw new IllegalStateException("start failed")
        }
      }
      restored()
    }
  }
}
