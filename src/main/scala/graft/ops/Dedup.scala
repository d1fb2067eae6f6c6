package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.{Delta, LoopScope}
import graft.util.Tables._

/** Deduplication operators over `documents` — the core of any LLM
  * training-data pipeline. Algorithms follow the canonical
  * literature: MinHash resemblance (Broder, "On the resemblance and
  * containment of documents", SEQUENCES 1997) with banded LSH
  * (Indyk & Motwani, STOC 1998; the banding analysis as in Leskovec/
  * Rajaraman/Ullman, Mining of Massive Datasets ch. 3), and SimHash
  * (Charikar, "Similarity estimation techniques from rounding
  * algorithms", STOC 2002):
  *
  *  - exact dedup (hash groupBy on content),
  *  - normalized-fingerprint dedup (md5 of canonical text),
  *  - n-gram Jaccard similarity (exact pairwise verify),
  *  - MinHash + LSH banding (the at-scale near-dup path),
  *  - SimHash (Hamming-bucketed near-dup fingerprints).
  *
  * Scale design: exact/fingerprint dedup are single-shuffle grouped
  * aggregations on a fingerprint key (salting-friendly, AQE handles
  * skew). MinHash/LSH replaces the O(n²) pairwise join with
  * band-bucket self-joins: each doc emits `bands` rows; only docs
  * sharing a band collide — at 100 TB the candidate set, not the
  * corpus square, drives cost. Exact Jaccard runs only on candidates.
  */
object Dedup {

  import TextAnalysis.tokens

  /** Distinct word 3-gram shingles, sorted for a canonical set repr —
    * mirrored exactly in DuckDB (1-based list indexing there). Uses
    * the fused custom expression (graft.functions.WordShingles); the
    * declarative higher-order-function form it replaces is kept below
    * for cross-validation (interpreted lambdas made it ~10× slower).
    */
  def shingles(c: Column): Column =
    graft.functions.TextFunctions.word_shingles(c, 3)

  /** Declarative HOF formulation of `shingles` — semantically
    * identical (spec-enforced), retained as the built-in-only
    * reference implementation.
    */
  def shinglesDeclarative(c: Column): Column = {
    val toks = tokens(c)
    sort_array(array_distinct(
      when(size(toks) >= 3,
        transform(sequence(lit(1), size(toks) - 2), i =>
          concat_ws(" ",
            element_at(toks, i), element_at(toks, i + 1),
            element_at(toks, i + 2))))
        .otherwise(array(concat_ws(" ", toks)))))
  }

  private[ops] val shinglesSql: String =
    """list_sort(list_distinct(
      |  CASE WHEN len(toks) >= 3
      |       THEN list_transform(range(1, len(toks) - 1),
      |                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |       ELSE [coalesce(list_aggr(toks, 'string_agg', ' '), '')] END))""".stripMargin

  /** Exact dedup: group identical raw text, keep the smallest doc_id
    * as canonical, count the copies. One hash-shuffle on the content
    * key (at scale: group on md5(text), not the text bytes).
    */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), length(col("text")).as("len"))
      .orderBy("keep_id")

  val dedupExactSql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
      |       length(text) AS len
      |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin

  /** Normalized-fingerprint dedup: md5 over whitespace-canonicalized
    * text. The 16-byte key is what actually shuffles — content stays
    * in place. This is the 100-TB form of exact dedup.
    */
  def dedupFingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("fp", md5(concat_ws(" ", tokens(col("text")))))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("fp"), col("keep_id"), col("n_copies"))
      .orderBy("keep_id")

  val dedupFingerprintSql: String =
    """SELECT md5(coalesce(list_aggr(list_filter(string_split_regex(text, '\s+'), x -> x != ''),
      |               'string_agg', ' '), '')) AS fp,
      |       min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** Exact n-gram Jaccard over a bounded doc_id block (the pairwise
    * verify primitive; the LSH query below is what bounds candidates
    * at scale — this oracle-checked form fixes the block explicitly so
    * DuckDB can replay it). Top-100 most-similar pairs.
    *
    * Jaccard = |A∩B| / |A∪B| on distinct shingle sets; ranking uses
    * the ROUNDED value with (a_id,b_id) tie-breaks so both engines
    * order identically.
    */
  def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), shingles(col("text")).as("sh"))
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        // exact int/int division — bit-identical cross-engine;
        // ROUNDING an order key is the hazard (a divergent tie round
        // would reorder the LIMITed result set), so none
        graft.functions.SetSimilarityFunctions
          .jaccard_sorted(col("a_sh"), col("b_sh")).as("jaccard"))
      .orderBy(desc("jaccard"), asc("a_id"), asc("b_id"))
      .limit(100)
  }

  val jaccardPairsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         $shinglesSql AS sh
       |  FROM (SELECT doc_id,
       |               list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
       |        FROM documents WHERE doc_id < 300)
       |)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |             / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |FROM t a JOIN t b ON a.doc_id < b.doc_id
       |ORDER BY jaccard DESC, a_id, b_id LIMIT 100""".stripMargin

  /** Asymmetric shingle CONTAINMENT over the same bounded pair block:
    * |A∩B|/|A| and |A∩B|/|B| — the subset-duplication measure.
    * Jaccard under-scores a short document quoted verbatim inside a
    * long one (union is dominated by the long side); containment of
    * the short side hits ~1.0 — exactly the boilerplate-wrapping /
    * quotation case a pretraining dedup pass must catch. One fused
    * sorted-merge intersect count per pair (SortedIntersectCount),
    * both directions derived from it without materializing the
    * intersection; ranked by the rounded max-direction value with id
    * tie-breaks so both engines order identically.
    */
  def containmentPairs(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), shingles(col("text")).as("sh"))
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    val inter = graft.functions.SetSimilarityFunctions
      .sorted_intersect_count(col("a_sh"), col("b_sh"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (inter.cast("double") / size(col("a_sh"))).as("cont_a_in_b"),
        (inter.cast("double") / size(col("b_sh"))).as("cont_b_in_a"))
      .withColumn("containment",
        greatest(col("cont_a_in_b"), col("cont_b_in_a")))
      .orderBy(desc("containment"), asc("a_id"), asc("b_id"))
      .limit(100)
  }

  val containmentPairsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         $shinglesSql AS sh
       |  FROM (SELECT doc_id,
       |               list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
       |        FROM documents WHERE doc_id < 300)
       |)
       |SELECT a_id, b_id, cont_a_in_b, cont_b_in_a,
       |       greatest(cont_a_in_b, cont_b_in_a) AS containment
       |FROM (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |               / len(a.sh) AS cont_a_in_b,
       |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |               / len(b.sh) AS cont_b_in_a
       |  FROM t a JOIN t b ON a.doc_id < b.doc_id
       |)
       |ORDER BY containment DESC, a_id, b_id LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- //
  // MinHash + LSH banding — the at-scale near-dup path (rows-only     //
  // check: murmur3 seeds are Spark-internal, not DuckDB-replayable).  //
  // ---------------------------------------------------------------- //

  /** 32 minhash permutations as (a*h + b) mod p over murmur3 shingle
    * hashes — computed by the fused custom expression
    * (graft.functions.MinHashSignature): one pass over the shingles
    * per row instead of 32 interpreted lambda sweeps (measured >100×;
    * see TextExpressions scaladoc).
    */
  private[graft] val NumHashes = 32
  private[graft] val BandSize = 4 // → 8 bands of 4 → catches J ≳ 0.5 pairs

  /** doc_id → minhash signature (array of NumHashes longs). */
  def minhashSignatures(docs: DataFrame): DataFrame =
    docs.withColumn("sig",
      graft.functions.TextFunctions.minhash_signature(
        shingles(col("text")), NumHashes))

  /** The (doc_id, sig, sh) signature relation, materialized ONCE per
    * corpus to scratch parquet — the shared MinHash index. Candidate
    * mining (minhashLsh) and clustering (dedupClusters) both consume
    * it; recomputing signatures per query re-pays the most expensive
    * text scan in the dedup suite. At scale this is exactly a
    * persisted signature index maintained beside the corpus.
    */
  private[graft] def signatureTable(s: SparkSession, d: String): DataFrame =
    graft.util.ScratchIndex.materialize(
      s, s"minhash_v1_${graft.util.ScratchIndex.corpusTag(d)}") {
      minhashSignatures(documents(s, d).select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("sig"), shingles(col("text")).as("sh"))
    }

  /** LSH band rows (doc_id, band_idx, band_sig) for a relation with a
    * `sig` column — shared by the batch self-join and the streaming
    * keyed-state dedup (identical banding ⇒ identical candidates).
    */
  def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(
      col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(NumHashes / BandSize - 1)), j =>
        md5(concat_ws(",",
          slice(col("sig"), j * BandSize + 1, lit(BandSize)))))))
      .toDF("doc_id", "sig", "band_idx", "band_sig")
      .select(col("doc_id"), col("band_idx"), col("band_sig"), col("sig"))

  /** Near-dup candidate pairs via LSH banding + exact-Jaccard verify.
    * Emits the top-50 candidate pairs by estimated similarity.
    *
    * Plan shape at scale: signatures are narrow; `explode` emits
    * 8 band rows per doc; the self-equi-join on (band_idx, band_sig)
    * shuffles only (band_hash, doc_id) pairs; exact verify joins the
    * shingle sets back for candidates only.
    */
  /** Verified candidate-edge relation, materialized ONCE per corpus:
    * LSH band self-join → distinct (a,b) candidates → signature
    * estimate + exact-Jaccard verify. This IS the near-dup index a
    * pipeline maintains beside the corpus; pair mining (minhashLsh)
    * and clustering (dedupClusters) are both reads of it. Mining it
    * per query re-paid the band join and the shingle verify — the two
    * most expensive steps in the dedup suite.
    */
  private[graft] def candidateEdges(s: SparkSession, d: String): DataFrame =
    graft.util.ScratchIndex.materialize(
      s, s"lshcand_v1_${graft.util.ScratchIndex.corpusTag(d)}") {
      val sigs = signatureTable(s, d)
      val bands = bandsOf(sigs)
      // NOTE (round 10): hand-caching `bands` and semi-join-pruning
      // `sigs` before the verify joins was tried and REVERTED — it
      // measured 1.6x SLOWER. Catalyst already plans ReusedExchange
      // for the identical band subtrees and AQE broadcasts the small
      // candidate side; explicit persists only added materialization
      // barriers and a driver-blocking broadcast to a plan that was
      // already scan-sharing.
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band_idx") === col("y.band_idx")
            && col("x.band_sig") === col("y.band_sig")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
      verifyEdges(cand, sigs)
    }

  /** Signature-estimate + exact-Jaccard verification of candidate
    * (a_id, b_id) pairs against a (doc_id, sig, sh) signature
    * relation — shared by the full rebuild and the incremental merge
    * so both paths score edges identically by construction.
    */
  private[graft] def verifyEdges(cand: DataFrame, sigs: DataFrame,
      bcastCand: Boolean = false): DataFrame = {
    // bcastCand: the candidate set is delta-bounded (const-delta
    // control) — build BOTH verify joins from the candidate side so
    // the wide signature relation streams with no exchange
    def h(df: DataFrame): DataFrame = if (bcastCand) broadcast(df) else df
    h(h(cand)
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("a_sig"),
        col("sh").as("a_sh")), "a_id"))
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("b_sig"),
        col("sh").as("b_sh")), "b_id")
      .select(
        col("a_id"), col("b_id"),
        round(aggregate(zip_with(col("a_sig"), col("b_sig"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L), (acc, v) => acc + v).cast("double") / NumHashes, 4)
          .as("est_jaccard"),
        graft.functions.SetSimilarityFunctions
          .jaccard_sorted(col("a_sh"), col("b_sh")).as("jaccard"))
  }

  /** Verified near-dup pairs at exact-Jaccard ≥ 0.7, mined via LSH
    * banding + verify (all inside the memoized candidateEdges build —
    * this query reads the index).
    *
    * Plan shape at scale: signatures are narrow; `explode` emits
    * 8 band rows per doc; the self-equi-join on (band_idx, band_sig)
    * shuffles only (band_hash, doc_id) pairs; exact verify joins the
    * shingle sets back for candidates only.
    *
    * FULL HASH ORACLE (was rows-only): the emitted columns are the
    * post-verify (a_id, b_id, exact jaccard) — none of them depend on
    * the murmur3 signatures, only the CANDIDATE SET does — so DuckDB
    * can replay the relation as the exact all-pairs join at the same
    * threshold. The equality holds iff banding misses no J ≥ 0.7 pair
    * on this corpus, which is strictly implied by the already-hash-
    * matched `dedup_clusters` oracle (exact all-pairs closure at the
    * looser J ≥ 0.5) and spec-asserted besides (DedupTextSpec's
    * banding cross-check). Signature-estimate quality remains pinned
    * by the candidateEdges spec (est tracks exact jaccard).
    */
  def minhashLsh(s: SparkSession, d: String): DataFrame =
    candidateEdges(s, d)
      .filter(col("jaccard") >= 0.7)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(desc("jaccard"), asc("a_id"), asc("b_id"))

  /** Shared oracle for the LSH pair queries: exact all-pairs Jaccard
    * at the 0.7 threshold over the full corpus — what banding+verify
    * computes without the corpus² join. Jaccard is one division of
    * identical integers, so both engines compare the SAME double
    * against the threshold — the boundary is engine-exact unrounded
    * (rounding is what could diverge, at true .5 ties).
    */
  val lshVerifiedSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         $shinglesSql AS sh
       |  FROM (SELECT doc_id,
       |               list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
       |        FROM documents)
       |)
       |SELECT a_id, b_id, jaccard FROM (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |               / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |  FROM t a JOIN t b ON a.doc_id < b.doc_id
       |)
       |WHERE jaccard >= 0.7
       |ORDER BY jaccard DESC, a_id, b_id""".stripMargin

  /** Incremental LSH index maintenance — the ingestion path of a
    * 100 TB dedup index, where the corpus grows daily and a full
    * signature + band-join rebuild over all history is exactly the
    * job you must never run. A persisted base index (signatures +
    * verified edges over the docs already ingested — here: every doc
    * outside the `doc_id % 10 == 7` delta, standing in for
    * yesterday's corpus) is MERGED with a new batch by (1) computing
    * signatures for the DELTA DOCS ONLY — the only text scan in the
    * whole update; (2) band-joining the delta's bands against base ∪
    * delta bands, so candidate mining touches only pairs with at
    * least one new doc; (3) verifying those pairs and unioning the
    * (disjoint) base-base edge set unchanged. DedupTextSpec proves
    * the merged edge relation IS the full rebuild's, row for row —
    * the same oracle discipline as rel_scd2_incremental (incremental
    * path, full-rebuild truth). The split is [[Delta.Documents]],
    * shared with the incremental-clustering path so both maintain the
    * SAME base.
    */
  /** Yesterday's signature index: (doc_id, sig, sh) for base docs
    * only — memoized; the base text is scanned once per corpus ever.
    */
  private[graft] def baseIndexSigs(s: SparkSession, d: String,
      delta: Delta = Delta.Documents): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    graft.util.ScratchIndex.materialize(s, delta.key("minhash_base", d)) {
      minhashSignatures(delta.base(docs))
        .select(col("doc_id"), col("sig"), shingles(col("text")).as("sh"))
    }
  }

  /** Yesterday's verified edge relation (base-base pairs with their
    * exact jaccard, unfiltered) — memoized alongside the signatures.
    */
  private[graft] def baseIndexEdges(s: SparkSession, d: String,
      delta: Delta = Delta.Documents): DataFrame =
    graft.util.ScratchIndex.materialize(s, delta.key("lshbase", d)) {
      val bands = bandsOf(baseIndexSigs(s, d, delta))
      verifyEdges(
        bands.as("x").join(bands.as("y"),
            col("x.band_idx") === col("y.band_idx")
              && col("x.band_sig") === col("y.band_sig")
              && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
          .distinct(),
        baseIndexSigs(s, d, delta))
    }

  /** Yesterday's band rows (doc_id, band_idx, band_sig — no sig
    * payload), persisted beside the signatures: the daily update
    * probes them, and re-deriving them from the sig column every day
    * would be a gratuitous O(corpus) explode. In a real lake this
    * relation is bucketed by band_sig so the daily probe co-locates.
    */
  private[graft] def baseIndexBands(s: SparkSession, d: String,
      delta: Delta = Delta.Documents): DataFrame =
    graft.util.ScratchIndex.materialize(s, delta.key("lshbasebands", d)) {
      bandsOf(baseIndexSigs(s, d, delta))
        .select(col("doc_id"), col("band_idx"), col("band_sig"))
    }

  /** Verified edges with AT LEAST ONE delta endpoint — the only part
    * of the edge relation today's ingest can change. Signatures are
    * computed for the delta docs only (the sole text scan of the
    * update); base band rows come from the persisted band index; the
    * band join probes delta bands against base ∪ delta, so candidate
    * mining work is O(delta probes), never O(corpus²).
    */
  private[graft] def deltaVerifiedEdges(s: SparkSession, d: String,
      delta: Delta = Delta.Documents): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val baseSigs = baseIndexSigs(s, d, delta)
    val deltaSigs = minhashSignatures(delta.batch(docs))
      .select(col("doc_id"), col("sig"), shingles(col("text")).as("sh"))
    val allSigs = baseSigs.unionByName(deltaSigs)
    val deltaBands = bandsOf(deltaSigs)
      .select(col("doc_id"), col("band_idx"), col("band_sig"))
    val allBands = baseIndexBands(s, d, delta).unionByName(deltaBands)
    // a broadcast delta (the constant-sized-delta control, VERDICT
    // r16 #4): a real daily batch's band rows are broadcast-sized, and
    // with them broadcast the persisted band index streams through the
    // probe with NO exchange — the registered 10%-fraction fixture
    // keeps the planner's choice (its delta is corpus-fraction-sized,
    // the degreeIncremental adjudication)
    val probeSide =
      if (delta.broadcast) broadcast(deltaBands.as("y")) else deltaBands.as("y")
    val touching = allBands.as("x")
      .join(probeSide,
        col("x.band_idx") === col("y.band_idx")
          && col("x.band_sig") === col("y.band_sig")
          && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a_id"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b_id"))
      .distinct()
    verifyEdges(
      if (delta.broadcast) broadcast(touching) else touching, allSigs,
      bcastCand = delta.broadcast)
  }

  private[graft] def incrementalEdges(s: SparkSession, d: String,
      delta: Delta = Delta.Documents): DataFrame =
    // base-base edges never touch the delta; the union is disjoint
    deltaVerifiedEdges(s, d, delta).unionByName(baseIndexEdges(s, d, delta))

  /** Verified near-dup pairs at exact-Jaccard ≥ 0.7 served from the
    * incrementally-maintained index. Same full hash oracle as
    * `minhashLsh` (see there for why the murmur3 dependence drops out
    * of the emitted columns): DuckDB replays the exact all-pairs
    * relation, so the oracle ALSO proves merge ≡ rebuild on the
    * emitted surface — on top of DedupTextSpec's edge-for-edge proof
    * over the full edge relation including estimates.
    */
  def minhashLshIncremental(s: SparkSession, d: String): DataFrame =
    incrementalEdges(s, d)
      .filter(col("jaccard") >= 0.7)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(desc("jaccard"), asc("a_id"), asc("b_id"))

  /** SimHash: 32-bit sign-aggregated fingerprint over token hashes;
    * docs whose fingerprints share a 16-bit half are near-dup
    * candidates (Hamming-LSH). Emits per-doc fingerprints plus the
    * two bucket halves — all narrow, no shuffle at all.
    *
    * The token hash is the first 32 bits of md5 (hex → int via
    * `conv`) rather than Spark-internal murmur3: an ENGINE-PORTABLE
    * hash, so the whole fingerprint is DuckDB-replayable and the
    * query takes a FULL hash oracle (it was rows-only when the bits
    * came from murmur3). Hash choice is immaterial to the algorithm —
    * Charikar's rounding argument only needs uniform bits — and the
    * per-token md5 is computed once into `hs`, then 32 sign-sums run
    * over the precomputed longs.
    */
  def simhash(s: SparkSession, d: String): DataFrame =
    simhashOf(documents(s, d))

  /** Core simhash over any (doc_id, text) relation. */
  def simhashOf(docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .withColumn("toks", array_distinct(tokens(col("text"))))
      .withColumn("hs", transform(col("toks"), t =>
        conv(substring(md5(t), 1, 8), 16, 10).cast("long")))
    val bits = (0 until 32).map { b =>
      aggregate(col("hs"), lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L)
          .otherwise(-1L))
    }
    val fp = bits.zipWithIndex.map { case (c, i) =>
      when(c >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    docs
      .select(col("doc_id"), fp.as("simhash"))
      .withColumn("hi16", shiftright(col("simhash"), 16))
      .withColumn("lo16", col("simhash").bitwiseAND(0xFFFF))
      .orderBy("doc_id")
  }

  /** DuckDB replay of the md5-based simhash: per-token 32-bit hash =
    * the first 8 md5 hex digits positionally decoded (strpos over the
    * hex alphabet — DuckDB has no hex→int cast), then the same 32
    * sign-sums and bit-assembly as the Spark side. Empty token lists:
    * list_sum over [] is NULL → coalesce 0 → every sign-sum ≥ 0 →
    * fingerprint 0xFFFFFFFF, matching Spark's aggregate-over-empty.
    */
  val simhashSql: String = {
    val bitTerms = (0 until 32).map { b =>
      s"(CASE WHEN coalesce(list_sum(list_transform(hs, h -> " +
        s"CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END)), 0) >= 0 " +
        s"THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("\n         + ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_transform(
       |           list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x != '')),
       |           tok -> CAST(list_sum(list_transform(range(1, 9),
       |                    i -> CAST((strpos('0123456789abcdef', substr(md5(tok), CAST(i AS INT), 1)) - 1) AS BIGINT)
       |                         * CAST(power(16, 8 - i) AS BIGINT))) AS BIGINT)) AS hs
       |  FROM documents
       |), f AS (
       |  SELECT doc_id,
       |         $bitTerms AS simhash
       |  FROM t
       |)
       |SELECT doc_id, simhash, simhash >> 16 AS hi16, simhash & 65535 AS lo16
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** Near-dup CLUSTERING over the FULL corpus: LSH-banded candidate
    * pairs, exact-Jaccard verified at ≥ 0.5, then connected
    * components via min-neighbor CONTRACTION (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", small-star
    * shape) — the step that turns pair mining into dedup groups
    * (keep cluster_id = min doc_id as canonical).
    *
    * Scale design: the edge set comes from the SAME banding as
    * `minhashLsh` — candidates, never corpus² — and contraction runs
    * only over vertices that appear in an edge (near-dup docs, a
    * sliver of the corpus); singletons bypass it with an anti-join
    * and label themselves. Each level maps every node to
    * min(neighborhood ∪ self) — ONE aggregation — then rewrites
    * edges between labels, at least HALVING every live component, so
    * levels = O(log max-component-size), vs O(diameter) for plain
    * label propagation. Near-dup components are cliques or near-
    * cliques (every pair similar), which collapse at level 0: the
    * typical run is one aggregation fused onto the freshly-built
    * edge set plus ONE empty-check action — no per-round count()
    * jobs at all. The level maps compose lazily (each level joins
    * doc labels through the next contraction), and the component
    * minimum is a fixed point of every level, so the composed label
    * is exactly the closure minimum the oracle computes.
    *
    * The oracle replays the exact closure (all-pairs J ≥ 0.5 +
    * recursive CTE) — the hash match holds because banding at
    * 8 bands × 4 rows catches J ≳ 0.5 pairs and this corpus's
    * near-dup pairs sit far above the threshold (J ≥ 0.9; the
    * band-collision cross-check is spec-asserted on top).
    */
  /** Result of [[contractComponents]]: node→component-min labels and
    * the measured level/hop counts (what the deep-component spec
    * asserts). The mapping composes lazily through every level, so it
    * reads the caches pinned in the contraction's scope.
    */
  private[graft] case class Contraction(labels: DataFrame, levels: Int,
      maxHops: Int)

  /** Both orientations of (a_id, b_id) pairs: the symmetric edge list
    * [[contractComponents]] takes.
    */
  private def symmetric(pairs: DataFrame): DataFrame =
    pairs.unionByName(pairs.select(col("b_id").as("a_id"),
      col("a_id").as("b_id")))

  /** Connected components of a SYMMETRIC edge list: min-neighbor
    * contraction with per-level pointer-doubling label flattening.
    *
    * `contract` maps every node to min(neighborhood ∪ self) — a
    * forest whose roots are local minima. Plain level-at-a-time
    * relabeling contracts a CHAIN component by only one node per
    * level (the forest for a monotone path is a single depth-n tree),
    * so worst-case levels were O(component size), not the O(log) the
    * near-dup cliques enjoy. `flatten` closes that hole: pointer
    * doubling (label ← label's label, repeated) collapses a depth-d
    * forest to its roots in ⌈log₂ d⌉ self-joins, so every level
    * contracts each tree FULLY and measured levels stay logarithmic
    * even for adversarial chain/star components (DeepComponentSpec
    * pins a 4096-chain). For the near-clique components real near-dup
    * corpora produce, the forest depth is 1 and flatten costs a
    * single no-move check.
    */
  private[graft] def contractComponents(sc: LoopScope,
      edges0: DataFrame): Contraction = {
    val edges = sc.pin(edges0)
    var maxHops = 0

    // node -> min(neighborhood ∪ self); e is symmetric so grouping on
    // a_id covers every edge-touching node
    def contract(e: DataFrame): DataFrame =
      e.groupBy(col("a_id"))
        .agg(min(col("b_id")).as("nmin"))
        .select(col("a_id").as("node"),
          least(col("a_id"), col("nmin")).as("label"))

    // pointer doubling: every label is itself a node of the same map
    // (it is some edge-touching node's id), so label←map(label)
    // squares the jump distance per iteration; done when nothing moved
    def flatten(m0: DataFrame): DataFrame = {
      var m = sc.pin(m0)
      var hops = 0
      val maxDoublings = 40 // 2^40 forest depth — beyond any real graph
      var moved = true
      while (moved && hops < maxDoublings) {
        // the self-join doubles the logical TREE per iteration (persist
        // caches data, not plans): after k doublings the plan would
        // hold 2^k leaf copies and the plan-description string alone
        // OOMs the driver on a deep forest (a 4096-chain needs k=12),
        // so every doubling starts from the truncated previous one
        val m2 = sc.next(m.as("x")
          .join(m.as("y"), col("x.label") === col("y.node"), "left_outer")
          .select(col("x.node").as("node"),
            coalesce(col("y.label"), col("x.label")).as("label"),
            (col("y.label").isNotNull
              && col("y.label") =!= col("x.label")).as("hop")))
        moved = !m2.filter(col("hop")).isEmpty
        m = m2.select(col("node"), col("label"))
        hops += 1
      }
      require(!moved,
        s"contractComponents: flatten not converged after $maxDoublings " +
          "doublings")
      maxHops = math.max(maxHops, hops)
      m
    }

    // edges of the label graph: m(a)—m(b) for surviving (cross-label)
    // edges; symmetric because e is
    def relabel(e: DataFrame, m: DataFrame): DataFrame =
      e.join(m.select(col("node").as("a_id"), col("label").as("la")),
          "a_id")
        .join(m.select(col("node").as("b_id"), col("label").as("lb")),
          "b_id")
        .filter(col("la") =!= col("lb"))
        .select(col("la").as("a_id"), col("lb").as("b_id"))
        .distinct()

    // level 0 fused onto the edge build: the aggregation runs in the
    // same stage cascade that materializes `edges`
    var mapping = flatten(contract(edges))
    var e = sc.pin(relabel(edges, mapping))
    var rounds = 0
    val maxRounds = 50
    var live = !e.isEmpty
    while (live && rounds < maxRounds) {
      val m = flatten(contract(e))
      val e2 = sc.pin(relabel(e, m))
      // fold this level into the doc-level map: settled labels (absent
      // from the contracted graph) pass through the left join
      mapping = mapping.as("v")
        .join(m.as("m"), col("v.label") === col("m.node"), "left_outer")
        .select(col("v.node").as("node"),
          coalesce(col("m.label"), col("v.label")).as("label"))
      e = e2
      live = !e.isEmpty
      rounds += 1
    }
    // the oracle computes the FULL recursive closure — returning a
    // partially-contracted labeling would be a silent mismatch, so a
    // component that outlives the level cap fails loudly
    require(!live,
      s"dedupClusters: contraction not converged after $maxRounds levels")
    Contraction(mapping, rounds, maxHops)
  }

  def dedupClusters(s: SparkSession, d: String): DataFrame =
    // the converged clustering is itself a per-corpus derived index:
    // the whole contraction runs inside the build thunk, so repeat
    // calls read the memoized assignment table instead of re-looping
    LoopScope.scoped { sc =>
      graft.util.ScratchIndex.materialize(
          s, s"dedupclusters_v2_${graft.util.ScratchIndex.corpusTag(d)}") {
        val pairs = candidateEdges(s, d)
          .filter(col("jaccard") >= 0.5)
          .select(col("a_id"), col("b_id"))
        val labels = contractComponents(sc, symmetric(pairs)).labels
          .select(col("node").as("doc_id"), col("label"))
        val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("n"))
        val clustered = labels.join(sizes, "label")
          .select(col("doc_id"), col("label").as("cluster_id"),
            col("n").as("cluster_size"))
        // singletons never enter the contraction: label = own id, size 1
        val singles = documents(s, d).select(col("doc_id"))
          .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("doc_id").as("cluster_id"),
            lit(1L).as("cluster_size"))
        clustered.unionByName(singles)
      }
    }.orderBy("doc_id")

  val dedupClustersSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         $shinglesSql AS sh
       |  FROM (SELECT doc_id,
       |               list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
       |        FROM documents)
       |), pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM t a JOIN t b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
       |), e AS (
       |  SELECT a_id, b_id FROM pairs
       |  UNION ALL SELECT b_id, a_id FROM pairs
       |  UNION ALL SELECT doc_id, doc_id FROM t
       |), reach AS (
       |  WITH RECURSIVE r(a, b) AS (
       |    SELECT a_id, b_id FROM e
       |    UNION
       |    SELECT r.a, e.b_id FROM r JOIN e ON r.b = e.a_id
       |  ) SELECT * FROM r
       |), labels AS (
       |  SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
       |)
       |SELECT l.doc_id, l.cluster_id, s.n AS cluster_size
       |FROM labels l
       |JOIN (SELECT cluster_id, count(*) AS n FROM labels GROUP BY 1) s
       |  USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  /** Incremental connected-components maintenance — the clustering
    * counterpart of [[incrementalEdges]], closing the daily-ingest
    * loop: a 100 TB dedup pipeline must fold today's batch into
    * yesterday's CONVERGED cluster assignment without re-running the
    * closure over all history.
    *
    * Yesterday's labeling `L` (component-min per edge-touching base
    * doc, persisted) is a sound contraction of the base graph, so the
    * full graph's components equal the components of the PROJECTED
    * delta graph — each delta edge (a,b) rewritten to
    * (L(a)∪a, L(b)∪b) — composed over L:
    *
    *  1. mine delta-touching edges only ([[deltaVerifiedEdges]]:
    *     O(delta) text scan + band join);
    *  2. project them through L (two hash joins against the persisted
    *     labels — the labels side is keyed, the delta side tiny);
    *  3. contract the projected graph ([[contractComponents]] — its
    *     node set is only touched components' representatives plus
    *     delta docs, so the level loop runs on O(delta) rows);
    *  4. compose: final(doc) = M(L(doc)∪doc)∪L(doc)∪doc. The ONLY
    *     full-corpus work is this label application and the size
    *     re-count — one broadcastable map `M` and one groupBy; no
    *     O(corpus) shuffle beyond the size agg the output requires.
    *
    * Correctness: the min of a merged component is the min over its
    * member components' mins and raw delta ids — all nodes of the
    * projected graph — so composed labels ARE the full closure's.
    * Oracle: the SAME full-rebuild closure SQL as `dedup_clusters`
    * (incremental path, full-rebuild truth — the
    * rel_scd2_incremental discipline), plus DeepComponentSpec's
    * union-find cross-check on adversarial merge shapes.
    */
  /** The merge core of [[dedupClustersIncremental]], factored so the
    * deep-component spec can drive adversarial merge shapes (two base
    * chains bridged by one delta edge, delta-only components, a delta
    * doc attaching to a base singleton) that a benign corpus may
    * never produce. `baseLabels` is yesterday's (node, label)
    * assignment; `eDelta` the new (a_id, b_id) edges; `docs` the full
    * (doc_id) universe. Returns the composed full labeling, which
    * reads the contraction's caches pinned in `sc`.
    */
  private[graft] def mergeIncrementalLabels(sc: LoopScope,
      baseLabels: DataFrame, eDelta: DataFrame, docs: DataFrame,
      bcastDelta: Boolean = false): DataFrame = {
    // project through L: endpoints fall back to themselves when
    // unlabeled (delta docs, or base docs that were singletons).
    // bcastDelta (a broadcast Delta): prune the persisted labeling
    // to the delta's own endpoint set first (one broadcast-semi
    // scan-only pass) and broadcast the bounded result, so the label
    // table is never exchanged for a daily-batch-sized delta
    val (labA, labB) =
      if (!bcastDelta)
        (baseLabels.select(col("node").as("a_id"), col("label").as("la")),
          baseLabels.select(col("node").as("b_id"), col("label").as("lb")))
      else {
        val ends = eDelta.select(col("a_id").as("node"))
          .unionByName(eDelta.select(col("b_id").as("node"))).distinct()
        val aff = baseLabels.join(broadcast(ends), Seq("node"), "left_semi")
        (broadcast(aff.select(col("node").as("a_id"), col("label").as("la"))),
          broadcast(aff.select(col("node").as("b_id"), col("label").as("lb"))))
      }
    val proj = eDelta
      .join(labA, Seq("a_id"), "left_outer")
      .join(labB, Seq("b_id"), "left_outer")
      .select(coalesce(col("la"), col("a_id")).as("a_id"),
        coalesce(col("lb"), col("b_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
    val merge = contractComponents(sc, symmetric(proj).distinct())
    // compose over every doc: l1 = L(doc)∪doc, final = M(l1)∪l1
    val lab1 = docs.select(col("doc_id"))
      .join(baseLabels.select(col("node").as("doc_id"), col("label")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("l1"))
    val labels = lab1
      .join(merge.labels.select(col("node").as("l1"),
        col("label").as("l2")), Seq("l1"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("l2"), col("l1")).as("cluster_id"))
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** Yesterday's converged labeling: closure of BASE-BASE edges only,
    * persisted once per corpus like the signature index (it is
    * yesterday's output — a real pipeline reads it, never rebuilds).
    */
  private[graft] def baseClusterLabels(s: SparkSession, d: String,
      delta: Delta = Delta.Documents): DataFrame =
    LoopScope.scoped { sc =>
      graft.util.ScratchIndex.materialize(s, delta.key("dedupclustbase", d)) {
        val pairs = baseIndexEdges(s, d, delta)
          .filter(col("jaccard") >= 0.5)
          .select(col("a_id"), col("b_id"))
        contractComponents(sc, symmetric(pairs)).labels
      }
    }

  /** The update path. The constant-sized-delta control (tools.Profile
    * `incclustersconst`) passes a broadcast [[Delta]]: the registered
    * fixture's 10% delta keeps the planner's join choices; a
    * daily-batch-sized delta broadcasts every delta-derived relation
    * so no probe ever exchanges a persisted artifact.
    */
  def dedupClustersIncremental(s: SparkSession, d: String,
      delta: Delta = Delta.Documents): DataFrame =
    LoopScope.scoped { sc =>
      graft.util.ScratchIndex.materialize(s, delta.key("dedupclustinc", d)) {
        val eDelta = deltaVerifiedEdges(s, d, delta)
          .filter(col("jaccard") >= 0.5)
          .select(col("a_id"), col("b_id"))
        mergeIncrementalLabels(sc, baseClusterLabels(s, d, delta),
          eDelta, documents(s, d).select(col("doc_id")), delta.broadcast)
      }
    }.orderBy("doc_id")

  /** Entity resolution via blocking + edit-distance verify: candidate
    * pairs only WITHIN a blocking key (nation), then exact
    * levenshtein ≤ 2 on the name — the classic two-stage resolver
    * shape where the block bounds the quadratic term (block² pairs,
    * never corpus²) and the expensive distance runs on candidates
    * only. Same plan skeleton as the MinHash-LSH pipeline with the
    * band join swapped for a dimension block.
    */
  def entityPairs(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
      .filter(col("c_custkey") < 500)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val a = c.toDF("a_key", "a_name", "nk")
    val b = c.toDF("b_key", "b_name", "nk")
    a.join(b, Seq("nk")).filter(col("a_key") < col("b_key"))
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
      .filter(col("dist") <= 2)
      .select(col("nk").as("nationkey"), col("a_key"), col("b_key"),
        col("dist"))
      .orderBy(asc("dist"), asc("a_key"), asc("b_key"))
      .limit(50)
  }

  val entityPairsSql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_name, c_nationkey
      |  FROM customer WHERE c_custkey < 500
      |)
      |SELECT a.c_nationkey AS nationkey,
      |       a.c_custkey AS a_key, b.c_custkey AS b_key,
      |       levenshtein(a.c_name, b.c_name) AS dist
      |FROM c a JOIN c b
      |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 2
      |ORDER BY dist ASC, a_key ASC, b_key ASC LIMIT 50""".stripMargin

  /** The retention policy that turns a clustering into a deduplicated
    * corpus: per near-dup cluster keep ONE canonical document — the
    * longest (n_chars), ties broken by lowest doc_id — and report what
    * the policy dropped. This is the step a 100 TB pretraining
    * pipeline actually ships (clusters are diagnostics; the kept-doc
    * list is the output): one broadcastable-sized window over the
    * cluster assignment (rows = docs, keys = clusters) joined back to
    * the doc metadata, no text re-scan — [[dedupClusters]]'s memoized
    * assignment is the only input, so at scale this costs one
    * cluster-keyed shuffle of (doc_id, cluster_id, n_chars) triples
    * regardless of corpus bytes. Quality = n_chars is deliberately an
    * exact INTEGER: ranking on a float score would re-open the
    * cross-engine tie taxonomy for no modeling gain.
    */
  def dedupCanonical(s: SparkSession, d: String): DataFrame = {
    val labels = dedupClusters(s, d)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    val meta = documents(s, d).select(col("doc_id"), col("n_chars"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(desc("n_chars"), asc("doc_id"))
    labels.join(meta, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
        col("n_chars").as("kept_n_chars"), col("cluster_size"),
        (col("cluster_size") - lit(1L)).as("n_dropped"))
      .orderBy("cluster_id")
  }

  /** Same closure as [[dedupClustersSql]] + the argmax retention. */
  val dedupCanonicalSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         $shinglesSql AS sh
       |  FROM (SELECT doc_id,
       |               list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
       |        FROM documents)
       |), pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM t a JOIN t b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
       |), e AS (
       |  SELECT a_id, b_id FROM pairs
       |  UNION ALL SELECT b_id, a_id FROM pairs
       |  UNION ALL SELECT doc_id, doc_id FROM t
       |), reach AS (
       |  WITH RECURSIVE r(a, b) AS (
       |    SELECT a_id, b_id FROM e
       |    UNION
       |    SELECT r.a, e.b_id FROM r JOIN e ON r.b = e.a_id
       |  ) SELECT * FROM r
       |), labels AS (
       |  SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
       |), sized AS (
       |  SELECT l.doc_id, l.cluster_id, s.n AS cluster_size, d.n_chars,
       |         row_number() OVER (PARTITION BY l.cluster_id
       |                            ORDER BY d.n_chars DESC, l.doc_id) AS rn
       |  FROM labels l
       |  JOIN (SELECT cluster_id, count(*) AS n FROM labels GROUP BY 1) s
       |    USING (cluster_id)
       |  JOIN documents d USING (doc_id)
       |)
       |SELECT cluster_id, doc_id AS kept_doc_id,
       |       n_chars AS kept_n_chars, cluster_size,
       |       cluster_size - 1 AS n_dropped
       |FROM sized WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_entity_pairs" -> (entityPairs _),
    "dedup_clusters"    -> (dedupClusters _),
    "dedup_canonical"   -> (dedupCanonical _),
    "dedup_exact"       -> (dedupExact _),
    "dedup_fingerprint" -> (dedupFingerprint _),
    "dedup_jaccard"     -> (jaccardPairs _),
    "dedup_containment" -> (containmentPairs _),
    "dedup_minhash_lsh" -> (minhashLsh _),
    "dedup_lsh_incremental" -> (minhashLshIncremental _),
    "dedup_clusters_incremental" -> (dedupClustersIncremental(_, _)),
    "dedup_simhash"     -> (simhash _),
  )

  val oracle: Map[String, String] = Map(
    "dedup_entity_pairs" -> entityPairsSql,
    "dedup_clusters"    -> dedupClustersSql,
    "dedup_canonical"   -> dedupCanonicalSql,
    "dedup_exact"       -> dedupExactSql,
    "dedup_fingerprint" -> dedupFingerprintSql,
    "dedup_jaccard"     -> jaccardPairsSql,
    "dedup_containment" -> containmentPairsSql,
    // the murmur3 signatures only pick the CANDIDATE set; the emitted
    // columns are exact — DuckDB replays the all-pairs equivalent
    // (see minhashLsh scaladoc for the recall argument)
    "dedup_minhash_lsh" -> lshVerifiedSql,
    "dedup_lsh_incremental" -> lshVerifiedSql,
    // incremental path, full-rebuild truth: the SAME closure SQL as
    // dedup_clusters proves merge == rebuild on the whole labeling
    "dedup_clusters_incremental" -> dedupClustersSql,
    "dedup_simhash"     -> simhashSql,
  )
}
