package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextAnalysis}
import graft.util.Delta

/** Dedup + text-analysis semantics, including cross-validation of the
  * murmur3-seeded paths (MinHash/SimHash) that the DuckDB oracle
  * cannot replay.
  */
class DedupTextSpec extends SparkTestBase {

  import spark.implicits._

  private def docsDf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("rolling hash fold matches a plain Scala left fold") {
    val text = "key agg row scan slow"
    val expected = text.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L)
    val got = docsDf((1L, text))
      .select(aggregate(
        filter(split(lit(text), ""), c => c =!= lit("")), lit(0L),
        (acc, ch) => (acc * 31 + ascii(ch)) % 1000000007L))
      .first().getLong(0)
    assert(got === expected)
  }

  test("shingles: distinct sorted 3-gram word windows") {
    val got = docsDf((1L, "a b c d c d a b c"))
      .select(Dedup.shingles(col("text"))).first().getSeq[String](0)
    assert(got === Seq("a b c", "b c d", "c d a", "c d c", "d a b", "d c d"))
  }

  test("custom WordShingles expression equals the declarative HOF form on the corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val mismatches = docs.select(
        Dedup.shingles(col("text")).as("fused"),
        Dedup.shinglesDeclarative(col("text")).as("declarative"))
      .filter(not(col("fused") === col("declarative")))
      .count()
    assert(mismatches === 0)
  }

  test("shingles of short docs fall back to the full token join") {
    val got = docsDf((1L, "only two"))
      .select(Dedup.shingles(col("text"))).first().getSeq[String](0)
    assert(got === Seq("only two"))
  }

  test("containment: kernel equals declarative intersect, dominates jaccard") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"doc_id" < 60)
      .select($"doc_id", Dedup.shingles($"text").as("sh"))
    val a = docs.select($"doc_id".as("a_id"), $"sh".as("a_sh"))
    val b = docs.select($"doc_id".as("b_id"), $"sh".as("b_sh"))
    val kernel = graft.functions.SetSimilarityFunctions
      .sorted_intersect_count($"a_sh", $"b_sh")
    val rows = a.join(b, $"a_id" < $"b_id")
      .select($"a_id", $"b_id",
        kernel.as("inter_kernel"),
        size(array_intersect($"a_sh", $"b_sh")).cast("long")
          .as("inter_declarative"),
        graft.functions.SetSimilarityFunctions
          .jaccard_sorted($"a_sh", $"b_sh").as("jaccard"),
        size($"a_sh").as("na"), size($"b_sh").as("nb"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("inter_kernel") === r.getAs[Long]("inter_declarative"),
        s"kernel/declarative intersect disagree on (${r.get(0)},${r.get(1)})")
      val inter = r.getAs[Long]("inter_kernel").toDouble
      val cont = math.max(inter / r.getAs[Int]("na"), inter / r.getAs[Int]("nb"))
      // max-direction containment always dominates jaccard:
      // inter/min(na,nb) >= inter/union
      assert(cont >= r.getAs[Double]("jaccard") - 1e-12)
    }
    // a strict subset scores containment 1.0 but jaccard < 1
    val sub = docsDf((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .select($"doc_id", Dedup.shingles($"text").as("sh"))
    val sa = sub.filter($"doc_id" === 1).select($"sh".as("a_sh"))
    val sb = sub.filter($"doc_id" === 2).select($"sh".as("b_sh"))
    val pair = sa.crossJoin(sb).select(
      graft.functions.SetSimilarityFunctions
        .sorted_intersect_count($"a_sh", $"b_sh").as("inter"),
      size($"a_sh").as("na"),
      graft.functions.SetSimilarityFunctions
        .jaccard_sorted($"a_sh", $"b_sh").as("j")).first()
    assert(pair.getAs[Long]("inter") === pair.getAs[Int]("na").toLong)
    assert(pair.getAs[Double]("j") < 1.0)
  }

  test("minhash LSH finds planted near-duplicates and skips distinct docs") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i")
      .mkString(" ")
    val other = (100 to 160).map(i => s"z$i").mkString(" ")
    val docs = docsDf((1L, base), (2L, nearDup), (3L, other))
    val sigs = Dedup.minhashSignatures(docs)
      .select($"doc_id", $"sig").as[(Long, Seq[Long])].collect().toMap
    // signature similarity of the planted pair must be high, cross pairs low
    def simOf(a: Long, b: Long) =
      sigs(a).zip(sigs(b)).count { case (x, y) => x == y } / 32.0
    assert(simOf(1L, 2L) > 0.6, s"near-dup sig sim ${simOf(1L, 2L)}")
    assert(simOf(1L, 3L) < 0.2, s"distinct sig sim ${simOf(1L, 3L)}")
  }

  test("minhash estimate tracks exact jaccard on the real corpus") {
    val pairs = Dedup.candidateEdges(spark, sf)
      .select($"est_jaccard", $"jaccard").as[(Double, Double)].collect()
    assert(pairs.nonEmpty)
    // every LSH candidate surfaced at est>=0.5 should be genuinely similar
    val confident = pairs.filter(_._1 >= 0.9)
    assert(confident.forall(_._2 >= 0.5),
      s"high-estimate pair with low exact jaccard: ${confident.mkString(",")}")
  }

  test("LSH-driven clusters equal exact all-pairs J>=0.5 clusters") {
    // the scale path mines edges from banded LSH candidates; this is
    // the oracle cross-check that banding loses no J>=0.5 edge on the
    // corpus (planted near-dups sit far above the threshold)
    val got = Dedup.dedupClusters(spark, sf)
      .select($"doc_id", $"cluster_id", $"cluster_size")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val sh = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", Dedup.shingles($"text").as("sh"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, v) => id -> v.toSet }
    // in-memory union-find over exact all-pairs edges
    val parent = scala.collection.mutable.Map(sh.map(d => d._1 -> d._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for {
      i <- sh.indices; j <- (i + 1) until sh.length
      (a, sa) = sh(i); (b, sb) = sh(j)
      inter = (sa & sb).size
      if inter > 0 && inter.toDouble / (sa | sb).size >= 0.5
    } parent(find(a)) = find(b)
    val comps = sh.map(_._1).groupBy(find).values
    val want = comps.flatMap { c =>
      val lbl = c.min; c.map(_ -> (lbl, c.size.toLong))
    }.toMap
    assert(got === want)
  }

  test("incremental LSH merge equals the full rebuild, edge for edge") {
    // the delta-only update (sign the new batch, band-join it against
    // base ∪ delta, keep base-base edges untouched) must produce
    // EXACTLY the edge relation a from-scratch rebuild would — same
    // candidates, same estimates, same verified Jaccards
    val full = Dedup.candidateEdges(spark, sf)
      .as[(Long, Long, Double, Double)].collect().toSet
    for (delta <- deltasFor(Delta.Documents)) {
      val inc = Dedup.incrementalEdges(spark, sf, delta)
        .as[(Long, Long, Double, Double)].collect().toSet
      assert(inc.nonEmpty)
      assert(inc === full, s"merge != rebuild under the ${delta.tag} delta")
    }
  }

  test("incremental clustering equals the full rebuild, doc for doc") {
    // the O(delta) maintenance path (project delta edges through
    // yesterday's labels, contract only the touched component graph,
    // compose) must reproduce the full closure EXACTLY — same
    // component-min label and same cluster size for every doc,
    // including merges of previously separate base components and
    // delta-only components
    val full = Dedup.dedupClusters(spark, sf)
      .as[(Long, Long, Long)].collect()
    for (delta <- deltasFor(Delta.Documents)) {
      val inc = Dedup.dedupClustersIncremental(spark, sf, delta)
        .as[(Long, Long, Long)].collect()
      assert(inc.nonEmpty)
      assert(inc === full, s"merge != rebuild under the ${delta.tag} delta")
    }
  }

  test("canonical retention keeps exactly one argmax-quality doc per cluster") {
    val labels = Dedup.dedupClusters(spark, sf)
      .as[(Long, Long, Long)].collect() // (doc_id, cluster_id, size)
    val nChars = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    val kept = Dedup.dedupCanonical(spark, sf)
      .select($"cluster_id", $"kept_doc_id", $"kept_n_chars",
        $"cluster_size", $"n_dropped")
      .as[(Long, Long, Long, Long, Long)].collect()
    // one output row per cluster, covering every cluster
    val clusters = labels.groupBy(_._2)
    assert(kept.length === clusters.size)
    assert(kept.map(_._1).toSet === clusters.keySet)
    kept.foreach { case (cid, keep, keepChars, size, dropped) =>
      val members = clusters(cid).map(_._1)
      assert(members.contains(keep), s"cluster $cid keeps non-member $keep")
      assert(size === members.length.toLong)
      assert(dropped === size - 1)
      // the policy: longest doc wins, lowest doc_id breaks ties
      val maxChars = members.map(nChars).max
      assert(keepChars === maxChars)
      assert(keep === members.filter(nChars(_) == maxChars).min)
    }
    // retention conserves the corpus: kept + dropped = all docs
    assert(kept.map(_._4).sum === labels.length.toLong)
  }

  test("simhash: near-identical docs differ in fewer bits than distinct docs") {
    val base = (1 to 80).map(i => s"w$i").mkString(" ")
    val nearDup = base + " extra"
    val far = (200 to 280).map(i => s"q$i").mkString(" ")
    val fps = Dedup.simhashOf(docsDf((1L, base), (2L, nearDup), (3L, far)))
      .select($"doc_id", $"simhash").as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val near = hamming(fps(1L), fps(2L))
    val cross = hamming(fps(1L), fps(3L))
    assert(near < cross, s"near=$near cross=$cross")
    assert(near <= 4, s"planted near-dup hamming distance $near")
  }

  test("exact dedup keeps one row per distinct text") {
    val n = Dedup.dedupExact(spark, sf).count()
    val distinctTexts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").distinct().count()
    assert(n === distinctTexts)
  }

  test("VARIANT round trip: json sidecar extraction equals typed columns") {
    import org.apache.spark.sql.functions._
    val viaVariant = TextAnalysis.variantExtract(spark, sf)
    val direct = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        max(col("source")).as("max_source"))
    assert(viaVariant.count() > 0)
    assert(viaVariant.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(viaVariant).count() === 0)
  }

  test("BPE-ish token count >= whitespace token count") {
    val bad = TextAnalysis.tokenCount(spark, sf)
      .filter($"n_bpe_tokens" < $"n_ws_tokens").count()
    assert(bad === 0)
  }

  test("quality ratios are within [0,1]") {
    val bad = TextAnalysis.textQuality(spark, sf)
      .filter($"stop_ratio" < 0 || $"stop_ratio" > 1
        || $"alpha_ratio" < 0 || $"alpha_ratio" > 1).count()
    assert(bad === 0)
  }

  test("ngram novelty: first owner wins, scores match hand computation") {
    // doc 1 owns all three of its shingles; doc 2 shares two of them
    // (novel only in its tail); doc 3 is a verbatim prefix copy
    val got = TextAnalysis.ngramNoveltyOf(docsDf(
        (1L, "a b c d e"),
        (2L, "a b c d x"),
        (3L, "a b c")))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (1L, 3L, 3L, 1.0),
      (2L, 3L, 1L, 1.0 / 3.0),
      (3L, 1L, 0L, 0.0)))
  }

  test("incremental novelty equals the full rebuild restricted to the delta") {
    // merged owner = min(base owner, delta-internal min) = the
    // corpus-wide min, so the incremental path must reproduce the
    // full recomputation's delta rows EXACTLY (ints and the one
    // IEEE division alike)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val full = TextAnalysis.ngramNoveltyOf(docs)
      .filter(pmod($"doc_id", lit(10)) === 7)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    val inc = TextAnalysis.noveltyIncremental(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(inc === full)
    assert(inc.nonEmpty)
  }

  test("ngram novelty on the corpus: total, and novel counts partition the shingle space") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val nv = TextAnalysis.ngramNoveltyOf(docs).cache()
    // total: one row per document (every doc emits >= 1 shingle)
    assert(nv.count() === docs.count())
    // each distinct shingle has exactly one first owner, so the novel
    // counts sum to the corpus's distinct shingle count
    val sumNovel = nv.agg(sum($"n_novel")).as[Long].head()
    val distinctShingles = docs
      .select(explode(Dedup.shingles($"text")).as("sh"))
      .select($"sh").distinct().count()
    assert(sumNovel === distinctShingles)
    // novelty is a proper ratio and doc order is doc_id
    assert(nv.filter($"novelty" < 0 || $"novelty" > 1).count() === 0)
    nv.unpersist()
  }
}
