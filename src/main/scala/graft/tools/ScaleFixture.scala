package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** PROFILING-ONLY scale-up fixture: replicates the driver testdata at
  * `srcDir` N× with disjoint key spaces, so `tools/Profile all` can
  * measure one more decade of scale than the largest driver SF and the
  * per-family scaling exponents in SCALING.md rest on measurements,
  * not argument. DERIVED from driver data — never used for
  * correctness oracles (the driver's sf0.01 gate stays authoritative)
  * and never written under /root/testdata.
  *
  * Replication semantics (what "10× bigger world" means per table):
  *  - fact/entity keys (cust/supp/part/order, event+user, doc, vec)
  *    shift by `copy × (max_key + 1)`: key cardinality grows with the
  *    data, FK joins stay consistent within each copy;
  *  - dimensions (region, nation) do NOT grow — every copy references
  *    the same 5/25 rows, like real warehouses;
  *  - document text gets a per-copy marker token spliced between every
  *    3 words (copy 0 verbatim): within a copy the near-dup structure
  *    is the original corpus's, across copies no 5-gram shingle is
  *    shared — so dedup/LSH candidate volume scales linearly with the
  *    corpus instead of exploding into cross-copy duplicate cliques;
  *  - timestamps, prices, embeddings, labels replicate verbatim: the
  *    event timeline densifies (10× users on the same span), value
  *    distributions are unchanged.
  *
  * Usage: runMain graft.tools.ScaleFixture <srcDir> <outDir> <copies>
  *          [mode]
  *
  * mode `docs-unsalted` writes ONLY the documents table, replicated
  * with shifted doc_ids but text VERBATIM (no per-copy salt). This is
  * the CONTROL fixture for the salted-fixture-artifact adjudication:
  * the salt makes every copy's shingles/tokens distinct, so
  * shingle-cardinality grows with the corpus and defeats map-side
  * partial aggregation; the verbatim replica holds cardinality fixed
  * while bytes grow 10×. A doc-only query whose salted-decade time
  * exponent is super-linear but whose control exponent is ~1 is
  * fixture-bound, not plan-bound.
  */
object ScaleFixture {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "/root/repo/.scale/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else "full"
    val spark = graft.util.Confs.session("32")
      .master("local[32]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def keyMax(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0)

    /** Union of `copies` shifted clones; `shift(df, k)` builds copy k. */
    def replicate(base: DataFrame)(shift: (DataFrame, Int) => DataFrame)
        : DataFrame =
      (0 until copies).map(k => shift(base, k)).reduce(_.unionAll(_))

    // MULTI-FILE tables, like a real lake: a single coalesced file
    // caps batch scan parallelism at one task per 128 MB of FILE
    // bytes — for the 10:1-compressed documents table that meant the
    // whole 100x text corpus scanned in ONE task, flattening the
    // cores-axis measurement and inflating top-decade exponents
    // (observed: cur_chunk e=1.58 on the single-file layout). File
    // count grows with the fixture (x copies/10, capped at 64) so
    // per-file size stays roughly lake-like across decades; streaming
    // reads handle the directory layout via Tables.streamTable.
    // Tables with files=1 (dims) stay single-file — also the shape
    // the driver testdata uses, so both layouts stay exercised.
    def write(df: DataFrame, name: String, files: Int): Unit = {
      val parts =
        if (files <= 1) 1
        else math.max(1, math.min(64, files * copies / 10))
      val dst = new java.io.File(s"$outDir/$name.parquet")
      graft.util.ScratchIndex.deleteRecursively(dst)
      if (parts == 1) {
        val tmp = new java.io.File(s"$outDir/_tmp_$name")
        df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        val pf = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(pf.toPath, dst.toPath): Unit
        tmp.listFiles().foreach(f => f.delete(): Unit)
        tmp.delete(): Unit
      } else {
        df.repartition(parts).write.mode(SaveMode.Overwrite)
          .parquet(dst.toString)
      }
      println(s"[fixture] $name written ($parts file(s))")
    }

    if (mode == "docs-unsalted") {
      val docs = graft.util.Tables.documents(spark, srcDir)
      val docOff = keyMax(docs, "doc_id") + 1
      // file count must match what the REAL fixture writes at the
      // same nominal scale (srcDir is typically already a replicated
      // fixture, so the effective copy count is copies × its own):
      // unequal scan-task counts would bias the control decade's
      // parallelism, which is the very thing under measurement
      write(replicate(docs) { (d, k) =>
        d.withColumn("doc_id", col("doc_id") + k * docOff)
      }, "documents", 64)
      println(s"[fixture] done: $outDir = $copies x $srcDir (docs only, " +
        "text verbatim)")
      spark.stop()
      return
    }

    if (mode == "embeddings-only") {
      // vector-corpus decade for the incremental-IVF measurement: the
      // full fixture ties the embeddings cardinality to the relational
      // decade (2 k rows at sf0.1 → 200 k at sf10), which leaves both
      // index-maintenance paths fixed-cost-bound; this mode scales the
      // vector table alone so the avoided work (Lloyd passes + full
      // reassign over history) is measurable. Perturbing one dimension
      // per copy keeps copies from being bit-identical duplicate
      // cliques without changing the distribution's shape.
      val emb = graft.util.Tables.embeddings(spark, srcDir)
      val vecOff = keyMax(emb, "vec_id") + 1
      write(replicate(emb) { (d, k) =>
        d.withColumn("vec_id", col("vec_id") + k * vecOff)
          .withColumn("embedding", transform(col("embedding"), (x, i) =>
            when(i === k % 64, x + lit(1e-4f) * (k % 7 - 3))
              .otherwise(x)))
      }, "embeddings", 8)
      println(s"[fixture] done: $outDir = $copies x $srcDir " +
        "(embeddings only)")
      spark.stop()
      return
    }

    // dimensions: verbatim, one copy
    write(graft.util.Tables.region(spark, srcDir), "region", 1)
    write(graft.util.Tables.nation(spark, srcDir), "nation", 1)

    val cust = graft.util.Tables.customer(spark, srcDir)
    val custOff = keyMax(cust, "c_custkey") + 1
    write(replicate(cust) { (d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + k * custOff)
    }, "customer", 4)

    val supp = graft.util.Tables.supplier(spark, srcDir)
    val suppOff = keyMax(supp, "s_suppkey") + 1
    write(replicate(supp) { (d, k) =>
      d.withColumn("s_suppkey", col("s_suppkey") + k * suppOff)
    }, "supplier", 1)

    val part = graft.util.Tables.part(spark, srcDir)
    val partOff = keyMax(part, "p_partkey") + 1
    write(replicate(part) { (d, k) =>
      d.withColumn("p_partkey", col("p_partkey") + k * partOff)
    }, "part", 2)

    val ord = graft.util.Tables.orders(spark, srcDir)
    val ordOff = keyMax(ord, "o_orderkey") + 1
    write(replicate(ord) { (d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + k * ordOff)
        .withColumn("o_custkey", col("o_custkey") + k * custOff)
    }, "orders", 8)

    val li = graft.util.Tables.lineitem(spark, srcDir)
    write(replicate(li) { (d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + k * ordOff)
        .withColumn("l_partkey", col("l_partkey") + k * partOff)
        .withColumn("l_suppkey", col("l_suppkey") + k * suppOff)
    }, "lineitem", 16)

    // RAW scan: the fixture must replicate `ts` in WHATEVER type the
    // driver wrote it, so Tables.events normalizes the fixture decade
    // exactly like the driver decades (the generator has drifted this
    // type before — round 8 NANOS→MICROS)
    val ev = graft.util.Tables.eventsRaw(spark, srcDir)
    val evOff = keyMax(ev, "event_id") + 1
    val userOff = keyMax(ev, "user_id") + 1
    write(replicate(ev) { (d, k) =>
      d.withColumn("event_id", col("event_id") + k * evOff)
        .withColumn("user_id", col("user_id") + k * userOff)
    }, "events", 8)

    // splice "zqN" between every 3 words for copy N>0: copies share no
    // word-5-gram with each other, so near-dup pairs stay within-copy
    val salt = udf { (text: String, k: Int) =>
      if (k == 0) text
      else {
        val words = text.split(' ')
        val sb = new StringBuilder(text.length + text.length / 3 + 8)
        var i = 0
        while (i < words.length) {
          if (i > 0) { sb += ' ' }
          if (i % 3 == 0 && i > 0) { sb ++= s"zq$k "; () }
          sb ++= words(i)
          i += 1
        }
        sb.toString
      }
    }
    val docs = graft.util.Tables.documents(spark, srcDir)
    val docOff = keyMax(docs, "doc_id") + 1
    write(replicate(docs) { (d, k) =>
      d.withColumn("doc_id", col("doc_id") + k * docOff)
        .withColumn("text", salt(col("text"), lit(k)))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents", 8)

    val emb = graft.util.Tables.embeddings(spark, srcDir)
    val vecOff = keyMax(emb, "vec_id") + 1
    write(replicate(emb) { (d, k) =>
      d.withColumn("vec_id", col("vec_id") + k * vecOff)
    }, "embeddings", 8)

    println(s"[fixture] done: $outDir = $copies x $srcDir")
    spark.stop()
  }
}
