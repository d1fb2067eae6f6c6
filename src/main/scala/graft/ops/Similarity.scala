package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions.{cosine_sim, nearest_centroids}
import graft.util.Delta
import graft.util.Tables._

/** Similarity search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim). Thirteen operators:
  *
  *  - exact search: `knnBruteForce` (cosine top-5; the small query
  *    set broadcast against ONE pass over the corpus, the
  *    oracle-checked baseline) and `knnFiltered` (the same behind a
  *    label pre-filter);
  *  - approximate top-3 for 20 queries: `annLsh` (sign-random-
  *    projection buckets), `annIvf` (k-means posting lists),
  *    `annIvfIncremental` (the IVF index maintained by daily deltas),
  *    `annPq` (product-quantized codes), `annIvfPq` (codes inside
  *    posting lists) and `annGraph` (a bounded-degree kNN graph
  *    seeded by IVF probes);
  *  - embedding-space diagnostics: `embedStats` (per-label norms),
  *    `quantizeInt8` (int8 codes and their error) and
  *    `centroidClassify` (nearest label mean, as a confusion matrix);
  *  - dedup: `embCosinePairs` (the 100 most similar pairs of a block)
  *    and `semanticDedup` (SemDeDup within label clusters).
  *
  * Two kernels serve them: [[topKByCosine]] is every exact top-k
  * ranking, and [[lloyd]] trains both the IVF quantizer and the PQ
  * codebooks. All dot products fold left-to-right in both engines
  * (Spark `aggregate` vs DuckDB `list_`*), so doubles match bitwise
  * and round(…, 6) hash-compares exactly.
  */
object Similarity {

  /** Sequential-fold dot product over two double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** The (vec_id, v) relation every index and query reads: the
    * embeddings with their float32 elements widened to double.
    */
  private[graft] def embRelation(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))

  /** Exact cosine top-k per query: scores `(q_id, vec_id, q, v)` pairs
    * by the cosine ROUNDED at 6 dp, ranks each q_id's candidates by
    * (cos_sim DESC, vec_id) — the cross-engine determinism rule — and
    * keeps rank <= k, as the columns `out` ordered by (q_id, rank).
    * Columns of `out` other than q_id, vec_id, cos_sim and rank ride
    * through from `pairs`.
    */
  private def topKByCosine(pairs: DataFrame, k: Int,
      out: Seq[String] = Seq("q_id", "vec_id", "cos_sim", "rank")): DataFrame = {
    val carry = out.filterNot(Set("q_id", "vec_id", "cos_sim", "rank"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(desc("cos_sim"), asc("vec_id"))
    pairs.select((Seq("q_id", "vec_id") ++ carry).map(col) :+
        round(cosine_sim(col("q"), col("v")), 6).as("cos_sim"): _*)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(out.map(col): _*)
      .orderBy("q_id", "rank")
  }

  /** DuckDB's replay of the engine's 6-dp-rounded cosine. */
  private def cosSql(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a))" +
      s" * sqrt(list_dot_product($b, $b))), 6)"

  /** Exact cosine top-5 neighbors for query vectors vec_id < 5.
    * Query side is broadcast; ranking uses the ROUNDED similarity with
    * vec_id tie-break for cross-engine determinism.
    */
  def knnBruteForce(s: SparkSession, d: String): DataFrame = {
    val emb = embRelation(s, d)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("q"))
    topKByCosine(emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id")), 5,
      Seq("q_id", "rank", "vec_id", "cos_sim"))
  }

  val knnBruteForceSql: String =
    s"""WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |), q AS (
      |  SELECT vec_id AS q_id, v AS q FROM e WHERE vec_id < 5
      |), scored AS (
      |  SELECT q_id, vec_id, ${cosSql("q", "v")} AS cos_sim
      |  FROM e CROSS JOIN q WHERE vec_id <> q_id
      |), ranked AS (
      |  SELECT q_id, vec_id, cos_sim,
      |         row_number() OVER (PARTITION BY q_id
      |                            ORDER BY cos_sim DESC, vec_id) AS rank
      |  FROM scored
      |)
      |SELECT q_id, rank, vec_id, cos_sim FROM ranked
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** Sign-random-projection LSH ANN (Charikar, STOC 2002: the
    * random-hyperplane family for cosine). `NumPlanes` deterministic
    * hyperplanes: plane p's weight on dim i is a fixed pseudo-random
    * ±1/±3 derived from (p, i) by integer mixing — reproducible on any
    * cluster with no RNG state. Bucket = the sign-bit string; top-3
    * approximate neighbors per query among same-bucket candidates.
    * Rows-only check (recall vs. brute force is asserted in the
    * ScalaTest suite).
    */
  // 2^NumPlanes buckets: size to keep tens-to-hundreds of candidates
  // per bucket (too many planes → near-empty buckets → no enrichment;
  // at larger corpora raise it so bucket size stays bounded)
  private val NumPlanes = 4

  private def planeWeight(p: Int, i: Int): Double = {
    // splitmix-style integer mix → {-3,-1,1,3}
    var z = p.toLong * 64 + i + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    Seq(-3.0, -1.0, 1.0, 3.0)((z & 3).toInt)
  }

  /** OR-amplification: a single k-bit table recalls only p^k of true
    * neighbors; L independent tables recall 1-(1-p^k)^L (the standard
    * (k,L) construction — Indyk & Motwani, STOC 1998). Candidates are
    * the union of same-bucket mates across tables; exact cosine
    * re-ranks them, so extra tables only add candidates, never error.
    * 16 tables (VERDICT r15 #2: lift the family's recall floor): the
    * 8-table index measured recall@3 0.700/0.817 at sf0.01/sf0.1 —
    * the misses were CANDIDATE coverage (candidates are already
    * exactly re-ranked, so only 1-(1-p^k)^L can move), and doubling L
    * roughly squares the per-neighbor miss probability. The band
    * relation stays (table, bucket, id) rows — 16 ints per vector,
    * no vectors in the shuffle — so candidate volume, not corpus²,
    * still bounds the cost.
    */
  private val NumTables = 16

  def annLsh(s: SparkSession, d: String): DataFrame = {
    val dim = 64
    // ONE nested literal per table, not NumPlanes×dim inline lits:
    // per-plane `array(lit…)` columns made Janino recompile a
    // 256-literal projection on every cold run (the NearestCentroids
    // codegen trap, measured as a 0.5→4 s cold regression here)
    val tableBuckets = (0 until NumTables).map { t =>
      val planes = typedLit((0 until NumPlanes).map(p =>
        (0 until dim).map(i => planeWeight(t * NumPlanes + p, i))))
      graft.functions.VectorFunctions.sign_bucket(col("v"), planes)
    }
    val emb = embRelation(s, d)
    val bands = emb.select(col("vec_id"),
      posexplode(array(tableBuckets: _*)).as(Seq("tbl", "bucket")))
    val qBands = bands.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("tbl"), col("bucket"))
    // candidate ids first (distinct across tables), vectors joined
    // back only for the surviving candidates — the shuffle carries
    // (table, bucket, id) rows, never the vectors themselves
    val cand = bands.join(qBands, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id")).distinct()
    topKByCosine(cand
      .join(emb, "vec_id")
      .join(broadcast(emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("q"))), "q_id"), 3)
  }

  /** IVF (inverted-file) ANN — the other standard scale path
    * (IVF-Flat as in Jégou, Douze & Schmid, "Product quantization for
    * nearest neighbor search", TPAMI 2011): a k-means coarse quantizer
    * assigns every vector to its nearest centroid's posting list; a
    * query probes only the `nprobe` nearest lists and ranks those
    * candidates exactly.
    *
    * The quantizer is deterministic spherical k-means: init = the
    * first `IvfK` vectors of the training sample by vec_id (no RNG
    * state), then `IvfIters` driver-side [[lloyd]] rounds over the
    * collected sample. Assigning the corpus is a SHUFFLE-FREE narrow
    * projection: the centroids ride into the plan as one literal and
    * NearestCentroids picks the argmax per row. Cosine assignment
    * needs no centroid normalization (cos(q,c) is scale-invariant in
    * c).
    *
    * Cost at scale: training = ONE TakeOrdered selection pass over
    * the corpus + one bounded collect of the 2048-row sample
    * ([[trainingSample]]); assignment = one narrow corpus projection;
    * query = sum of probed posting-list sizes, not corpus size.
    */
  private val IvfProbes = 2
  private[graft] val IvfK = 16
  private[graft] val IvfIters = 3

  private val centroidMemo =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Double]]]

  /** A centroid matrix as ONE nested-array literal (see
    * functions.NearestCentroids for why that matters for codegen).
    */
  private def centLit(cents: Array[Array[Double]]): Column =
    typedLit(cents.map(_.toSeq).toSeq)

  /** Nearest-centroid id column for the row's vector column `v`. */
  private[graft] def bestCentroid(cents: Array[Array[Double]]): Column =
    element_at(nearest_centroids(col("v"), centLit(cents), 1), 1)

  /** The query rows `vec_id < maxQ` of a (vec_id, v) relation as
    * (q_id, q, cent_id), one row per probed cell: each query's
    * `IvfProbes` nearest cells, by the same fused expression as
    * [[bestCentroid]] and again without a shuffle.
    */
  private def queryProbes(emb: DataFrame, cents: Array[Array[Double]],
      maxQ: Long = 20): DataFrame =
    emb.filter(col("vec_id") < maxQ)
      .withColumn("cent_id",
        explode(nearest_centroids(col("v"), centLit(cents), IvfProbes)))
      .select(col("vec_id").as("q_id"), col("v").as("q"), col("cent_id"))

  /** Deterministic k-means centroids for an sf dir (memoized: the
    * model is built once per corpus, exactly like a real IVF index).
    */
  def ivfCentroids(s: SparkSession, d: String): Array[Array[Double]] =
    centroidMemo.getOrElseUpdate(d, trainIvfCentroids(embRelation(s, d)))

  /** Quantizer/codebook training-sample cap (VERDICT r15 #1). Nobody
    * trains an IVF coarse quantizer or PQ codebooks on a 100 TB
    * corpus: the model has k×dim (or M×K×dsub) parameters, and a
    * bounded sample saturates it — Jégou, Douze & Schmid (TPAMI 2011)
    * §V train on a learning subset, and FAISS's train/add contract is
    * exactly this split (train on a sample, stream the corpus through
    * `add`). 2048 rows = 8 points per PQ codeword (and 128 per IVF
    * centroid) — above both corpora at the oracle gate scales (500 /
    * 2000 vectors, where the sample IS the corpus and the trained
    * model is bit-identical to full-corpus training), binding from
    * sf1 up, where it turns Lloyd's iters × corpus passes into ONE
    * corpus-bounded selection pass + iters × 2048-row passes.
    */
  private[graft] val TrainSampleN = 2048

  /** Deterministic bounded training sample of a (vec_id, v) relation:
    * the `TrainSampleN` rows with the smallest xxhash64(vec_id) —
    * content-hash selection (the AlsPipeline.splits / cur_hash_split
    * discipline: no RNG state, reproducible on any cluster, and
    * unbiased w.r.t. insertion order because the hash is uniform in
    * vec_id). One TakeOrdered pass over the relation; ties broken by
    * vec_id so the sample is a function of the id set alone.
    */
  private[graft] def trainingSample(emb: DataFrame): DataFrame =
    emb.orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
      .limit(TrainSampleN)

  /** The training sample's vectors in vec_id order, collected ONCE:
    * the Lloyd rounds run driver-side (r18). The sample is
    * TrainSampleN×64 doubles (~1 MB, bounded by construction), while
    * each round as a Spark job paid seconds of job/codegen fixed cost
    * for sub-ms arithmetic.
    */
  private def sampleRows(emb: DataFrame): Array[Array[Double]] =
    trainingSample(emb).orderBy("vec_id")
      .select("v").collect().map(_.getSeq[Double](0).toArray)

  /** Driver-side Lloyd argmax step: the `(-sim, idx)` key
    * [[graft.functions.NearestCentroids]] sorts by, which ranks an
    * underflowed +0.0 above -0.0 (strict `>` would not) and a NaN
    * cosine (zero-norm vector or centroid) last.
    */
  private[graft] def beats(sim: Double, bestSim: Double): Boolean =
    java.lang.Double.compare(-sim, -bestSim) < 0

  /** Cosine over the common prefix of two vectors, in
    * CosineSim.compute's accumulation order, so driver-side training
    * agrees bitwise with the engine's expression.
    */
  private[graft] def cosine(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var d0 = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i); val y = b(i)
      d0 += x * y; na += x * x; nb += y * y
      i += 1
    }
    d0 / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The index of the centroid nearest `v` by cosine, in the
    * NearestCentroids order ([[beats]]): lowest index on ties, and an
    * all-NaN row degenerates to 0, also like the sort.
    */
  private[graft] def nearest(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val sim = cosine(v, cents(c))
      if (beats(sim, bestSim)) { best = c; bestSim = sim }
      c += 1
    }
    best
  }

  /** The one k-means kernel: `iters` Lloyd rounds over `rows` from the
    * centroids `init`. Each round assigns every row to its [[nearest]]
    * centroid, then moves each centroid to its members' mean, summed
    * in row order and rounded to 6 dp HALF_UP each round so float-sum
    * order can never leak into the model; a centroid with no members
    * keeps its coordinates. The IVF quantizer runs it on the training
    * sample, the PQ trainer once per subspace on the sample's
    * sub-slices (PQ training IS per-subspace k-means).
    */
  private[graft] def lloyd(rows: Array[Array[Double]],
      init: Array[Array[Double]], iters: Int): Array[Array[Double]] = {
    val dim = if (rows.nonEmpty) rows(0).length else 0
    var cents = init
    for (_ <- 1 to iters) {
      val sum = Array.ofDim[Double](cents.length, dim)
      val cnt = new Array[Long](cents.length)
      rows.foreach { v =>
        val c = nearest(v, cents)
        cnt(c) += 1
        val ss = sum(c)
        var i = 0
        while (i < dim) { ss(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(cents.length) { c =>
        if (cnt(c) == 0L) cents(c)
        else Array.tabulate(dim) { i =>
          BigDecimal(sum(c)(i) / cnt(c))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
      }
    }
    cents
  }

  /** Quantizer training over an arbitrary (vec_id, v) relation —
    * shared by the full-corpus quantizer above and the base-only
    * (frozen) quantizer of the incremental path. Init = the first
    * `IvfK` vectors of the SAMPLE by vec_id, so base-only training is
    * self-contained (it never peeks at delta rows, exactly like a
    * quantizer trained before today's batch existed).
    */
  private def trainIvfCentroids(emb: DataFrame): Array[Array[Double]] = {
    val rows = sampleRows(emb)
    lloyd(rows, rows.take(IvfK), IvfIters)
  }

  def annIvf(s: SparkSession, d: String): DataFrame = {
    val emb = embRelation(s, d)
    val cents = ivfCentroids(s, d)

    // posting-list assignment: narrow projection, no shuffle
    val assigned = emb.withColumn("cent_id", bestCentroid(cents))
    ivfAnswer(assigned, cents, emb)
  }

  /** The IVF query path, shared verbatim by the from-scratch index
    * (`annIvf`) and the incrementally-maintained one
    * (`annIvfIncremental`): probe the `IvfProbes` nearest lists per
    * query, rank the probed candidates exactly. Taking `assigned` as
    * an argument is what makes the incremental path honest — the ONLY
    * difference between the two queries is where the posting lists
    * came from.
    */
  private[graft] def ivfAnswer(assigned: DataFrame, cents: Array[Array[Double]],
      emb: DataFrame, maxQ: Long = 20): DataFrame =
    // each vector lives in exactly one list and probes are distinct →
    // no dedup needed; the tiny query side broadcasts
    topKByCosine(assigned.join(broadcast(queryProbes(emb, cents, maxQ)), Seq("cent_id"))
      .filter(col("vec_id") =!= col("q_id")), 3)

  /** Incremental IVF index maintenance — the ingestion path of a
    * 100 TB vector index, where embeddings arrive daily and a full
    * retrain + reassign over all history is the job you must never
    * run. The standard production split (FAISS's `train` vs `add`
    * distinction; Jégou et al. TPAMI 2011 §V trains the coarse
    * quantizer on a sample, then streams additions through it):
    *
    *  - the coarse quantizer is TRAINED ONCE on yesterday's corpus
    *    ([[baseIvfCentroids]], frozen thereafter — retraining would
    *    invalidate every existing posting assignment);
    *  - posting lists for yesterday's vectors are PERSISTED
    *    ([[baseIvfPostings]], scratch parquet standing in for the
    *    lake's index table);
    *  - today's batch is assigned by the frozen quantizer — a narrow
    *    projection over the DELTA ONLY, the sole embedding scan of
    *    the whole update — and PUBLISHED as a second per-list layer
    *    beside the base ([[deltaIvfPostingsPath]]); the merged
    *    relation is [[incrementalIvfPostings]].
    *
    * Because per-vector assignment under a frozen quantizer is
    * deterministic and independent across rows, the merged index
    * equals a from-scratch assignment of base ∪ delta through the
    * same centroids — IncrementalIvfSpec proves postings row-for-row
    * and answers row-for-row (incremental path, rebuild truth: the
    * rel_scd2_incremental / dedup_lsh_incremental discipline), and
    * pins query recall vs exact brute force. The split is
    * [[Delta.Embeddings]] (`vec_id % 10 == 7`), the same shape as
    * every other path's "today's batch".
    *
    * What the daily path avoids growing with history: Lloyd training
    * (iters × corpus passes + k×dim driver agg) and the full-corpus
    * assignment scan. What remains corpus-proportional: nothing — the
    * update touches delta rows only, base files are never rewritten,
    * and queries fetch just the PROBED `cent_id=c/` directories of
    * both layers ([[prunedLayer]]), so even the read side follows the
    * probe set, not the corpus (measured flat across 100× in
    * SCALING.md).
    *
    * The frozen coarse quantizer is trained on base vectors only and
    * memoized under a key disjoint from the full-corpus quantizer's.
    */
  private[graft] def baseIvfCentroids(s: SparkSession, d: String,
      delta: Delta = Delta.Embeddings): Array[Array[Double]] =
    centroidMemo.getOrElseUpdate(delta.key("ivfcentbase", d),
      trainIvfCentroids(delta.base(embRelation(s, d))))

  /** Yesterday's posting lists (vec_id, v, cent_id), persisted once
    * per corpus — the index table a real pipeline reads, never
    * rebuilds. Storing the vector beside its cell is IVF-Flat's
    * layout (the ranked scan needs the floats); an IVF-PQ variant
    * would store codes instead (see `sim_ann_ivfpq`).
    *
    * PARTITIONED BY cent_id: a posting list IS a partition, so a
    * query that probes `nprobe` lists prunes the scan to those
    * directories — at 100 TB the index read is proportional to the
    * probed lists, never the corpus ([[annIvfIncremental]] filters on
    * the probed cells before answering; the spec asserts the
    * partition filter reaches this scan).
    */
  private[graft] def baseIvfPostingsPath(s: SparkSession, d: String,
      delta: Delta = Delta.Embeddings): String =
    graft.util.ScratchIndex.materializePath(
      s, delta.key("ivfbase_v3", d)) { tmp =>
      delta.base(embRelation(s, d))
        .withColumn("cent_id", bestCentroid(baseIvfCentroids(s, d, delta)))
        // the cell id rides in the FILES too (`cell`), not only in
        // the directory name: fetches can then load any probed-list
        // subset as ONE multi-path scan whose relation carries no
        // partition column — so the cent_id equi-join above it can
        // never attract a dynamic-partition-pruning subquery (whose
        // InSubqueryExec broke under this union+broadcast shape with
        // "dynamicpruning has not finished"), and the plan stays one
        // scan node instead of a per-directory union (measured: a
        // 32-branch union answered in 6.4 s what the single
        // multi-path scan serves in ~2 s at 2M vectors).
        .withColumn("cell", col("cent_id"))
        // compact each list to TWO files: a 64-partition assignment
        // would scatter every cell across 64 small files (measured
        // 8.0 s batch fetch at 2M vectors), while 1 file/list caps an
        // all-lists fetch at k=16 scan tasks on 32 cores. The
        // secondary vec_id bucket is also exactly how a real
        // maintainer splits hot lists on a skewed corpus.
        .repartition(IvfK * 2, col("cent_id"), pmod(col("vec_id"), lit(2)))
        .write.partitionBy("cent_id")
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
    }

  /** Read one index layer in full through the DATA cell column (the
    * inferred partition column is dropped — see the no-DPP note on
    * the writer).
    */
  private def readLayer(s: SparkSession, path: String): DataFrame =
    graft.util.Tables.parquet(s, path)
      .select(col("vec_id"), col("v"), col("cell").as("cent_id"))

  private[graft] def baseIvfPostings(s: SparkSession, d: String): DataFrame =
    readLayer(s, baseIvfPostingsPath(s, d))

  /** Today's batch, assigned through the frozen quantizer and
    * PUBLISHED beside the base index (same per-list layout, separate
    * path — an append that never rewrites base files): after this,
    * queries are pure index fetches; nothing at query time scans the
    * corpus. This write is the entire daily job, and the only
    * embedding scan in it is the delta itself.
    */
  private[graft] def deltaIvfPostingsPath(s: SparkSession, d: String,
      delta: Delta = Delta.Embeddings): String =
    graft.util.ScratchIndex.materializePath(
      s, delta.key("ivfdelta_v2", d)) { tmp =>
      delta.batch(embRelation(s, d))
        .withColumn("cent_id", bestCentroid(baseIvfCentroids(s, d, delta)))
        .withColumn("cell", col("cent_id"))
        .repartition(IvfK, col("cent_id"))
        .write.partitionBy("cent_id")
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
    }

  /** A probed subset of one index layer: the EXPLICIT list of
    * `cent_id=c/` directories loaded as a single multi-path scan —
    * the scan provably touches only the probed lists, and the
    * relation carries the cell id as the `cell` data column, not as
    * a partition column (see the writer's no-DPP note). Empty cells
    * have no directory — k-means keeps their coords but no vector
    * was ever assigned, or the delta touched none of that cell — so
    * the fetch skips them, exactly like an empty posting list.
    */
  private[graft] def prunedLayer(s: SparkSession, path: String,
      probed: Seq[Int]): Option[DataFrame] = {
    val dirs = probed
      .filter(c => new java.io.File(path, s"cent_id=$c").isDirectory)
      .map(c => s"$path/cent_id=$c")
    if (dirs.isEmpty) None
    else Some(s.read.parquet(dirs: _*)
      .select(col("vec_id"), col("v"), col("cell").as("cent_id")))
  }

  /** The maintained index: base ∪ published delta, BOTH read from
    * their persisted per-list layouts — the relation a query fetches
    * from contains no corpus scan at all (the delta's one corpus scan
    * happened at publish time, inside [[deltaIvfPostingsPath]]).
    */
  private[graft] def incrementalIvfPostings(s: SparkSession, d: String): DataFrame =
    baseIvfPostings(s, d)
      .unionByName(readLayer(s, deltaIvfPostingsPath(s, d)))

  /** ANN top-3 served from the incrementally-maintained index — the
    * same query path as `sim_ann_ivf` ([[ivfAnswer]] is shared code),
    * differing only in index provenance. Approximate by construction →
    * rows-only; IncrementalIvfSpec proves merge ≡ rebuild on postings
    * AND answers, and pins recall vs brute force.
    */
  /** The cells the standard query set probes — ≤ 20 queries ×
    * `IvfProbes` cells, deduped: a bounded driver collect of the
    * ml.fit shape (the probe list is the query plan's input, exactly
    * as FAISS computes probe lists before fetching them).
    */
  private[graft] def probedCentIds(s: SparkSession, d: String,
      maxQ: Long = 20): Seq[Int] = {
    queryProbes(embRelation(s, d), baseIvfCentroids(s, d), maxQ)
      .select("cent_id").distinct().collect().map(_.getInt(0)).sorted.toSeq
  }

  def annIvfIncremental(s: SparkSession, d: String): DataFrame =
    annIvfIncrementalFor(s, d, 20)

  /** `maxQ` bounds the query set: the registered query matches
    * `sim_ann_ivf`'s 20 queries (whose probes cover most of k=16
    * cells — a BATCH query set); the spec also drives maxQ=1, the
    * point-lookup shape where pruning collapses the index read to
    * nprobe directories.
    */
  private[graft] def annIvfIncrementalFor(s: SparkSession, d: String,
      maxQ: Long): DataFrame = {
    val emb = embRelation(s, d)
    // probe lists first, then fetch ONLY those lists from BOTH index
    // layers (explicit per-directory reads — see prunedLists): query
    // scan cost ∝ probed lists, not corpus, and no embedding is
    // re-assigned at query time. Dropping non-probed postings cannot
    // change the answer — the equi-join on cent_id in ivfAnswer
    // discards them anyway, which is what IncrementalIvfSpec's
    // rebuild-equality proves end to end.
    val probed = probedCentIds(s, d, maxQ)
    val pruned = (prunedLayer(s, baseIvfPostingsPath(s, d), probed) ++
      prunedLayer(s, deltaIvfPostingsPath(s, d), probed))
      .reduceOption(_.unionByName(_))
      // no probed cell has a directory (an empty corpus): no candidates
      .getOrElse(emb.withColumn("cent_id", lit(0)).filter(lit(false)))
    ivfAnswer(pruned, baseIvfCentroids(s, d), emb, maxQ)
  }

  /** Product quantization (Jégou/Douze/Schmid, TPAMI 2011): split the
    * 64-dim vector into `PqM` subspaces of 8 dims, k-means each
    * subspace to `PqK` codewords, store each vector as `PqM` byte-size
    * codes — 64 doubles → 8 small ints (a ~32-64× memory/IO
    * compression; at 100 TB the codes fit where raw vectors cannot,
    * and the ADC scan streams codes, not floats).
    *
    * Training is the IVF quantizer's kernel run once per subspace:
    * driver-side [[lloyd]] rounds over the sample's sub-slices, init =
    * the first PqK sample vectors' sub-slices, per-round 6-dp centroid
    * rounding. Encoding the corpus selects each subspace's codebook
    * with element_at on ONE nested codebook literal — the same
    * compile-once property as NearestCentroids.
    *
    * Query path (`sim_ann_pq`): reconstruct v̂ from codes via nested
    * element_at (pure built-ins, codegen'd), rank by CosineSim(q, v̂).
    * Approximate by construction → rows-only; recall vs brute force
    * is spec-bounded in SimilarityEventsSpec.
    */
  private val PqM = 8 // subspaces
  private val PqSub = 8 // dims per subspace (PqM * PqSub = 64)
  // 8-bit codewords (the standard PQ8x8 shape). The original 5-bit
  // K=32 codebooks could not separate the shrinking neighbor margins
  // as the corpus densified: measured recall@3 fell 0.817→0.550
  // (sim_ann_pq) and 0.783→0.633 (sim_ann_ivfpq) from 500→2000
  // vectors while every cell-probing variant improved (SCALING.md
  // round-14 recall table). 256 codewords per subspace keep the code
  // 8 small ints per vector — the index stays ~32× narrower than the
  // raw floats — while the quantization error drops enough for the
  // fixed-depth exact re-rank to recover the true top-3.
  private val PqK = 256 // codewords per subspace
  private val PqIters = 2

  private val pqMemo = scala.collection.concurrent.TrieMap
    .empty[String, Array[Array[Array[Double]]]] // [m][k][dsub]

  private def pqLit(cb: Array[Array[Array[Double]]]): Column =
    typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)

  /** Codebook training runs on the bounded [[trainingSample]], like
    * the coarse quantizer (VERDICT r15 #1): the model is M×K×dsub
    * means, saturated by a fixed-size sample — FAISS's `train`
    * contract; ENCODING the corpus (pqCodeTable) stays full-corpus,
    * that is the `add` half. Init = the first `PqK` sample vectors'
    * sub-slices by vec_id, wrapped round when the sample holds fewer
    * (identical to the previous full-corpus init whenever the sample
    * is the corpus, i.e. at both gate scales). An empty sample trains
    * empty codebooks, which encode and decode nothing.
    */
  private def trainPqCodebooks(s: SparkSession, d: String)
      : Array[Array[Array[Double]]] = {
    val rows = sampleRows(embRelation(s, d))
    val init = if (rows.isEmpty) rows
      else Array.tabulate(PqK)(k => rows(k % rows.length))
    def sub(vs: Array[Array[Double]], m: Int) =
      vs.map(_.slice(m * PqSub, (m + 1) * PqSub))
    Array.tabulate(PqM)(m => lloyd(sub(rows, m), sub(init, m), PqIters))
  }

  /** Trained codebooks, memoized TWICE: per-corpus scratch parquet
    * (one small (m, k, vals) relation — so a fresh JVM loads the
    * model instead of re-running the Lloyd rounds' corpus passes) and
    * the in-process map on top. The key embeds PqM/PqK so a
    * parameter change can never read a stale model.
    */
  def pqCodebooks(s: SparkSession, d: String): Array[Array[Array[Double]]] =
    pqMemo.getOrElseUpdate(d, {
      val df = graft.util.ScratchIndex.materialize(
          s, s"pqcodebook_v1_m${PqM}k${PqK}_" +
            graft.util.ScratchIndex.corpusTag(d)) {
        val cb = trainPqCodebooks(s, d)
        import s.implicits._
        (for { m <- 0 until PqM; k <- cb(m).indices }
          yield (m, k, cb(m)(k).toSeq)).toDF("m", "k", "vals")
      }
      val words = df.collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
      Array.tabulate(PqM, words.size / PqM)((m, k) => words((m, k)))
    })

  /** The stored code table — (vec_id, codes): what a production PQ
    * index persists (8 small ints per vector, ~32× narrower than the
    * raw floats). Encoding the corpus is a one-time index build, not
    * a per-query cost; queries stream THIS relation and decode via
    * codebook lookups.
    */
  private[graft] def pqCodeTable(s: SparkSession, d: String): DataFrame = {
    val cb = pqLit(pqCodebooks(s, d))
    val codes = array((0 until PqM).map { m =>
      element_at(nearest_centroids(
        slice(col("v"), m * PqSub + 1, PqSub),
        element_at(cb, m + 1), 1), 1)
    }: _*)
    graft.util.ScratchIndex.materialize(
        s, s"pqcodes_v1_m${PqM}k${PqK}_" +
          graft.util.ScratchIndex.corpusTag(d)) {
      embRelation(s, d).select(col("vec_id"), codes.as("codes"))
    }
  }

  /** v̂ of a row's `codes`: its codewords stitched back together. */
  private def pqDecode(cb: Column): Column =
    flatten(array((0 until PqM).map { m =>
      element_at(element_at(cb, m + 1), element_at(col("codes"), m + 1) + 1)
    }: _*))

  def annPq(s: SparkSession, d: String): DataFrame = {
    val emb = embRelation(s, d)
    val cb = pqLit(pqCodebooks(s, d))

    // the query path streams the STORED code table and reconstructs
    // v̂ — pure built-ins; the corpus encode happened once at
    // index-build time (pqCodeTable)
    val decoded = pqCodeTable(s, d)
      .select(col("vec_id"), pqDecode(cb).as("vhat"))

    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("q"))
    val cand = decoded.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine_sim(col("q"), col("vhat")), 6).as("cos_approx"))
    rerankTop3(emb, queries, cand, col("cos_approx"))
  }

  /** Refine step (FAISS's IndexRefineFlat shape): the code/bucket scan
    * produces a `RerankDepth`-deep shortlist per query by approximate
    * score; the TRUE vectors are fetched only for shortlist rows and
    * exact cosine picks the final top-3. At 100 TB the approximate
    * scan touches compressed codes only; raw vectors are read for
    * ~RerankDepth × queries rows — the refine join is the only place
    * floats move.
    */
  private val RerankDepth = 25

  /** `queries` must be the SAME (q_id, q) relation whose ids produced
    * `cand` — passed in rather than re-derived here, so an index that
    * changes its query subset cannot silently half-join against a
    * stale predicate.
    */
  private def rerankTop3(emb: DataFrame, queries: DataFrame,
      cand: DataFrame, approxScore: Column,
      depth: Int = RerankDepth): DataFrame = {
    val wa = Window.partitionBy(col("q_id"))
      .orderBy(approxScore.desc, asc("vec_id"))
    val shortlist = cand
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= depth)
      .drop("arank")
    topKByCosine(shortlist
      .join(emb, "vec_id")
      .join(broadcast(queries), "q_id"), 3,
      Seq("q_id", "rank", "vec_id", "cos_approx", "cos_sim"))
  }

  /** IVF-PQ: the full composed index — IVF posting lists bound the
    * candidate set (probe `nprobe` lists, not the corpus) AND each
    * list stores only PQ codes (8 small ints, not 64 doubles). This
    * is the memory/IO shape of a production-scale ANN index: at
    * 100 TB the posting lists are ~32-64× smaller than the raw
    * vectors, and a query touches two lists' worth of codes.
    * Candidates rank by cosine against the PQ-reconstructed vector
    * (asymmetric distance via decode). Rows-only; recall bound in
    * SimilarityEventsSpec.
    */
  def annIvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = embRelation(s, d)
    val cents = ivfCentroids(s, d)
    val cb = pqLit(pqCodebooks(s, d))

    // the stored index: (cent_id, vec_id, codes) — narrow, no
    // floats; built once per corpus (coarse assignment joined onto
    // the shared PQ code table) and memoized like the IVF postings
    val index = graft.util.ScratchIndex.materialize(
        s, s"ivfpqindex_v1_m${PqM}k${PqK}_" +
          graft.util.ScratchIndex.corpusTag(d)) {
      emb.withColumn("cent_id", bestCentroid(cents))
        .select(col("cent_id"), col("vec_id"))
        .join(pqCodeTable(s, d), Seq("vec_id"))
        .select(col("cent_id"), col("vec_id"), col("codes"))
    }

    val qProbe = queryProbes(emb, cents)
    val cand = index.join(broadcast(qProbe), Seq("cent_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("vhat", pqDecode(cb))
      .select(col("q_id"), col("vec_id"),
        round(cosine_sim(col("q"), col("vhat")), 6).as("cos_approx"))
    // 3x the flat-PQ refine depth: the composed index's shortlist is
    // built from code scores WITHIN two probed cells, where the 8-byte
    // codes blur a denser candidate field than the global PQ scan's --
    // measured at the 2000-vector gate the true top-3 sits below rank
    // 25 of the in-cell code ranking for several queries (recall@3
    // 0.783 at depth 25; probing a 3rd cell moved NOTHING, so the
    // misses are ranking depth, not cell coverage). Depth 75 keeps the
    // refine join bounded at 75 x queries rows.
    rerankTop3(emb,
      qProbe.select(col("q_id"), col("q")).distinct(), cand,
      col("cos_approx"), depth = 3 * RerankDepth)
  }

  /** Embedding-cosine near-duplicate pairs: the dedup-by-embedding
    * primitive (top-100 most-similar pairs over a bounded block so
    * DuckDB can replay it; the LSH-bucketed form above is the
    * at-scale candidate generator). Ranking on the ROUNDED similarity
    * with id tie-breaks, as everywhere.
    */
  def embCosinePairs(s: SparkSession, d: String): DataFrame = {
    val e = embRelation(s, d).filter(col("vec_id") < 300)
    val a = e.select(col("vec_id").as("a_id"), col("v").as("a_v"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("b_v"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(cosine_sim(col("a_v"), col("b_v")), 6).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("a_id"), asc("b_id"))
      .limit(100)
  }

  val embCosinePairsSql: String =
    s"""WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |  WHERE vec_id < 300
      |)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id, ${cosSql("a.v", "b.v")} AS cos_sim
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |ORDER BY cos_sim DESC, a_id, b_id LIMIT 100""".stripMargin

  /** Nearest-label-centroid classification + confusion matrix: label
    * centroids from one grouped pass (per-dim means ROUNDED at 6 dp —
    * the same float-sum-order discipline as the k-means quantizer, so
    * both engines build bit-identical centroids), every embedding
    * scored against every centroid (|labels| is tiny → broadcast),
    * argmax by rounded cosine with label tie-break, reported as the
    * (actual, predicted) matrix. The quality diagnostic run before
    * trusting an embedding space for retrieval or dedup.
    */
  def centroidClassify(s: SparkSession, d: String): DataFrame =
    nearestLabel(s, d, "label", "vec_id")
      .groupBy(col("label"), col("c_label").as("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "predicted")

  /** Every embedding's nearest label centroid, shared by
    * [[centroidClassify]] and [[semanticDedup]]: (`keep`…, c_label,
    * cos, rk) rows of rank 1, where `keep` are columns of (label,
    * vec_id, v) and the ranking is by rounded cosine with c_label
    * tie-break.
    */
  private def nearestLabel(s: SparkSession, d: String, keep: String*): DataFrame = {
    val e = embeddings(s, d)
      .select(col("label"), col("vec_id"), asDouble(col("embedding")).as("v"))
    val cents = e
      .select(col("label").as("c_label"),
        posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("c_label"), col("dim"))
      .agg(round(avg(col("x")), 6).as("m"))
      .groupBy(col("c_label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        f => f.getField("m")).as("cv"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(desc("cos"), asc("c_label"))
    e.crossJoin(broadcast(cents))
      .select(keep.map(col) ++ Seq(col("c_label"),
        round(cosine_sim(col("v"), col("cv")), 6).as("cos")): _*)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
  }

  /** The oracle's replay of [[nearestLabel]] up to its scoring: CTEs
    * e, cd, cents and scored, whose rows carry `keep` (columns of e),
    * c_label and cos.
    */
  private def nearestLabelCtes(keep: String): String =
    s"""WITH e AS (
      |  SELECT label, vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |), cd AS (
      |  SELECT label AS c_label, dim, round(avg(x), 6) AS m
      |  FROM (SELECT label, generate_subscripts(v, 1) AS dim,
      |               unnest(v) AS x FROM e)
      |  GROUP BY 1, 2
      |), cents AS (
      |  SELECT c_label, list(m ORDER BY dim) AS cv FROM cd GROUP BY 1
      |), scored AS (
      |  SELECT $keep, c.c_label, ${cosSql("e.v", "c.cv")} AS cos
      |  FROM e CROSS JOIN cents c
      |)""".stripMargin

  val centroidClassifySql: String =
    s"""${nearestLabelCtes("e.label, e.vec_id")}, best AS (
      |  SELECT label, vec_id, c_label,
      |         row_number() OVER (PARTITION BY vec_id
      |                            ORDER BY cos DESC, c_label) AS rk
      |  FROM scored
      |)
      |SELECT label, c_label AS predicted, count(*) AS n
      |FROM best WHERE rk = 1
      |GROUP BY 1, 2 ORDER BY label, predicted""".stripMargin

  /** Per-label embedding statistics: count, mean L2 norm, and mean
    * per-dimension absolute centroid coordinate. Demonstrates grouped
    * aggregation over array columns; all folds sequential.
    */
  def embedStats(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm",
        sqrt(graft.functions.VectorFunctions.dot_product(col("v"), col("v"))))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("nrm")), 6).as("avg_norm"),
        round(min(col("nrm")), 6).as("min_norm"),
        round(max(col("nrm")), 6).as("max_norm"))
      .orderBy("label")

  val embedStatsSql: String =
    """WITH e AS (
      |  SELECT label,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |)
      |SELECT label, count(*) AS n,
      |       round(avg(nrm), 6) AS avg_norm,
      |       round(min(nrm), 6) AS min_norm,
      |       round(max(nrm), 6) AS max_norm
      |FROM e GROUP BY label ORDER BY label""".stripMargin

  /** Per-vector symmetric int8 quantization: scale = max|x|/127,
    * q_i = round(x_i / scale) ∈ [-127,127] — the storage/bandwidth
    * form of an embedding corpus at scale (4× smaller than fp32, ADC
    * kernels run on the int codes). Emits per-vector scale, code
    * checksums, and reconstruction RMSE so the oracle pins the exact
    * integer codes, not just shapes. All math runs in double on both
    * engines (float32 elements widened first); per-vector folds are
    * left-to-right in both, so the doubles agree bitwise.
    */
  def quantizeInt8(s: SparkSession, d: String): DataFrame =
    embRelation(s, d)
      .withColumn("scale",
        aggregate(col("v"), lit(0.0),
          (acc, x) => greatest(acc, abs(x))) / 127.0)
      .withColumn("q", transform(col("v"), x => round(x / col("scale"), 0)
        .cast("long")))
      .select(col("vec_id"),
        round(col("scale"), 9).as("scale_r"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"),
        round(sqrt(
          aggregate(zip_with(col("v"), col("q"),
            (x, q) => pow(x - q * col("scale"), 2)),
            lit(0.0), (a, e) => a + e) / size(col("v"))), 9)
          .as("rmse"))
      .orderBy("vec_id")

  val quantizeInt8Sql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
      |           / 127.0 AS scale
      |  FROM embeddings
      |), q AS (
      |  SELECT vec_id, v, scale,
      |         list_transform(v, x -> CAST(round(x / scale, 0) AS BIGINT))
      |           AS qs
      |  FROM e
      |)
      |SELECT vec_id, round(scale, 9) AS scale_r,
      |       CAST(list_sum(qs) AS BIGINT) AS q_sum,
      |       list_min(qs) AS q_min, list_max(qs) AS q_max,
      |       round(sqrt(list_sum(
      |         list_transform(list_zip(v, qs),
      |           p -> pow(p[1] - p[2] * scale, 2))) / len(v)), 9) AS rmse
      |FROM q ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- //
  // Graph-expansion ANN (NSW-lite): a bounded-degree kNN graph as the //
  // index; queries seed from IVF probes and expand one hop through    //
  // the graph before exact re-rank.                                   //
  // ---------------------------------------------------------------- //

  private val GraphDegree = 8

  /** Bounded-degree approximate kNN graph, built once per corpus to
    * scratch parquet (an ANN index build). Construction bounds the
    * quadratic term by IVF cell: candidate neighbor pairs only within
    * a coarse-quantizer cell (cell² work, never corpus²), keep each
    * vector's top-`GraphDegree` by cosine. The NN-Descent family
    * refines exactly this seed graph at planetary scale; one
    * partition-bounded pass is the right cost/recall point here.
    */
  private def knnGraphEdges(s: SparkSession, d: String): DataFrame =
    graft.util.ScratchIndex.materialize(
      s, s"knngraph_v1_${graft.util.ScratchIndex.corpusTag(d)}") {
      val cents = ivfCentroids(s, d)
      val assigned = embRelation(s, d)
        .withColumn("cent_id", bestCentroid(cents))
      val a = assigned.select(col("cent_id"), col("vec_id"), col("v"))
      val b = assigned.select(col("cent_id"), col("vec_id").as("dst"),
        col("v").as("w"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(desc("sim"), asc("dst"))
      a.join(b, Seq("cent_id"))
        .filter(col("vec_id") =!= col("dst"))
        .select(col("vec_id"), col("dst"),
          round(cosine_sim(col("v"), col("w")), 6).as("sim"))
        .withColumn("r", row_number().over(w))
        .filter(col("r") <= GraphDegree)
        .select(col("vec_id").as("src"), col("dst"))
    }

  /** NSW-style search, batch form: seeds = the IVF-probed candidate
    * lists; one expansion hop through the kNN graph recovers near
    * neighbors living in cells the probe missed (the cross-cell
    * recall IVF alone gives up); exact cosine re-ranks the union.
    * Expansion is a single equi-join against the bounded-degree edge
    * relation — candidates stay O(seeds × degree), never corpus-sized.
    */
  def annGraph(s: SparkSession, d: String): DataFrame = {
    val emb = embRelation(s, d)
    val cents = ivfCentroids(s, d)
    val assigned = emb.withColumn("cent_id", bestCentroid(cents))
    val qProbe = queryProbes(emb, cents).select(col("q_id"), col("cent_id"))
    val seeds = assigned.join(broadcast(qProbe), Seq("cent_id"))
      .select(col("q_id"), col("vec_id"))
    val hop = seeds
      .join(knnGraphEdges(s, d), seeds("vec_id") === col("src"))
      .select(col("q_id"), col("dst").as("vec_id"))
    val cand = seeds.unionByName(hop)
      .filter(col("vec_id") =!= col("q_id")).distinct()
    topKByCosine(cand
      .join(emb, "vec_id")
      .join(broadcast(emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("q"))), "q_id"), 3)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): cluster the embedding space,
    * then look for near-duplicates ONLY within a cluster, dropping
    * every vector that has a lower-id in-cluster neighbor above the
    * cosine threshold. The cluster pass is exactly what makes the
    * method scale — the pairwise block is per-cluster (bounded by
    * cluster size), never corpus², and the cluster id is the shuffle
    * key, so each cluster's block runs where its vectors already
    * live. Clusters here are nearest label-mean centroids (the same
    * deterministic, SQL-replayable construction as centroidClassify;
    * an unlabeled corpus would swap in the k-means quantizer's
    * centroids from the IVF path — the downstream pair/drop logic is
    * identical). Emits the per-cluster retention summary: vectors,
    * dup pairs, dropped, kept.
    */
  private val SemDedupTau = 0.35

  def semanticDedup(s: SparkSession, d: String): DataFrame = {
    val asg = nearestLabel(s, d, "vec_id", "v")
      .select(col("c_label").as("cluster"), col("vec_id"), col("v"))
    val a = asg.select(col("cluster"), col("vec_id").as("a_id"),
      col("v").as("a_v"))
    val b = asg.select(col("cluster"), col("vec_id").as("b_id"),
      col("v").as("b_v"))
    val pairs = a.join(b, Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .select(col("cluster"), col("a_id"), col("b_id"),
        round(cosine_sim(col("a_v"), col("b_v")), 6).as("cos"))
      .filter(col("cos") >= SemDedupTau)
    val nPairs = pairs.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_dup_pairs"))
    val nDropped = pairs.select(col("cluster"), col("b_id")).distinct()
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_dropped"))
    asg.groupBy(col("cluster")).agg(count(lit(1)).as("n_vectors"))
      .join(nPairs, Seq("cluster"), "left")
      .join(nDropped, Seq("cluster"), "left")
      .select(col("cluster"), col("n_vectors"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_vectors") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
      .orderBy("cluster")
  }

  val semanticDedupSql: String =
    s"""${nearestLabelCtes("e.vec_id, e.v")}, asg AS (
      |  SELECT c_label AS cluster, vec_id, v FROM (
      |    SELECT vec_id, v, c_label,
      |           row_number() OVER (PARTITION BY vec_id
      |                              ORDER BY cos DESC, c_label) AS rk
      |    FROM scored) WHERE rk = 1
      |), p0 AS (
      |  SELECT a.cluster, a.vec_id AS a_id, b.vec_id AS b_id,
      |         ${cosSql("a.v", "b.v")} AS cos
      |  FROM asg a JOIN asg b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |), p AS (
      |  SELECT * FROM p0 WHERE cos >= 0.35
      |)
      |SELECT v.cluster, v.n_vectors,
      |       CAST(coalesce(np.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
      |       CAST(coalesce(dr.n_dropped, 0) AS BIGINT) AS n_dropped,
      |       CAST(v.n_vectors - coalesce(dr.n_dropped, 0) AS BIGINT) AS n_kept
      |FROM (SELECT cluster, count(*) AS n_vectors FROM asg GROUP BY 1) v
      |LEFT JOIN (SELECT cluster, count(*) AS n_dup_pairs
      |           FROM p GROUP BY 1) np USING (cluster)
      |LEFT JOIN (SELECT cluster, count(DISTINCT b_id) AS n_dropped
      |           FROM p GROUP BY 1) dr USING (cluster)
      |ORDER BY cluster""".stripMargin

  /** Exact FILTERED vector search — top-5 cosine neighbors restricted
    * to corpus vectors sharing the query's label (the metadata-filtered
    * retrieval shape every RAG/vector store serves: "nearest within
    * this tenant/class/language"). The scale point is WHERE the filter
    * sits: pre-filtering turns [[knnBruteForce]]'s broadcast cross
    * join into a label EQUI-join, so each query vector is scored
    * against only its label's partition of the corpus — at 100 TB the
    * selectivity of the predicate, not the corpus size, bounds the
    * scored set (and post-filtering an unfiltered top-k, the other
    * common shape, silently loses recall when the filter is narrow).
    * Same determinism discipline as the unfiltered query: rank on the
    * 6-dp-rounded cosine with vec_id tie-break.
    */
  def knnFiltered(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
      .select(col("vec_id"), col("label"),
        asDouble(col("embedding")).as("v"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("q"))
    // equi-join on the filter column: the label predicate prunes the
    // candidate set BEFORE any distance is computed
    topKByCosine(emb.join(broadcast(queries),
        col("label") === col("q_label") && col("vec_id") =!= col("q_id")), 5,
      Seq("q_id", "rank", "vec_id", "cos_sim"))
  }

  val knnFilteredSql: String =
    s"""WITH e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
      |), q AS (
      |  SELECT vec_id AS q_id, label AS q_label, v AS q FROM e WHERE vec_id < 5
      |), scored AS (
      |  SELECT q_id, e.vec_id, ${cosSql("q", "v")} AS cos_sim
      |  FROM e JOIN q ON e.label = q.q_label AND e.vec_id <> q.q_id
      |), ranked AS (
      |  SELECT q_id, vec_id, cos_sim,
      |         row_number() OVER (PARTITION BY q_id
      |                            ORDER BY cos_sim DESC, vec_id) AS rank
      |  FROM scored
      |)
      |SELECT q_id, rank, vec_id, cos_sim FROM ranked
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_quantize_int8"  -> (quantizeInt8 _),
    "sim_knn_brute"      -> (knnBruteForce _),
    "sim_knn_filtered"   -> (knnFiltered _),
    "sim_ann_lsh"        -> (annLsh _),
    "sim_ann_ivf"        -> (annIvf _),
    "sim_ann_ivf_incremental" -> (annIvfIncremental _),
    "sim_ann_pq"         -> (annPq _),
    "sim_ann_ivfpq"      -> (annIvfPq _),
    "sim_ann_graph"      -> (annGraph _),
    "sim_embed_stats"    -> (embedStats _),
    "sim_centroid_classify" -> (centroidClassify _),
    "dedup_embed_cosine" -> (embCosinePairs _),
    "dedup_semantic"     -> (semanticDedup _),
  )

  val oracle: Map[String, String] = Map(
    "sim_quantize_int8"  -> quantizeInt8Sql,
    "sim_knn_brute"      -> knnBruteForceSql,
    "sim_knn_filtered"   -> knnFilteredSql,
    "sim_embed_stats"    -> embedStatsSql,
    "sim_centroid_classify" -> centroidClassifySql,
    "dedup_embed_cosine" -> embCosinePairsSql,
    "dedup_semantic"     -> semanticDedupSql,
    // sim_ann_lsh: approximate by construction → rows-only; recall
    // vs. sim_knn_brute asserted in SimilaritySpec.
  )
}
