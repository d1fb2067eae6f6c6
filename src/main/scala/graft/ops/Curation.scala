package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Delta
import graft.util.Tables._

/** Corpus-curation operators — the composition layer of an LLM
  * training-data pipeline: deterministic dataset splitting,
  * benchmark decontamination, and an end-to-end quality+dedup
  * retention summary.
  *
  * Scale design: every per-doc decision is a narrow expression over
  * the scan (hash bucketing, quality scoring); the only shuffles are
  * the final small aggregates, the exact-dup fingerprint grouping,
  * and a broadcast join against the (small) benchmark shingle set.
  */
object Curation {

  import TextAnalysis.tokens

  /** Deterministic content-hash split: md5-bucket every document into
    * train/val/test (8/1/1). Content-keyed (not id-keyed) so exact
    * duplicates always land in the SAME split — the property that
    * prevents train/test leakage through dup pairs; stable under
    * re-partitioning, re-ordering and re-ingestion of the corpus.
    */
  def hashSplit(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("bucket",
        conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long") % 10)
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
      .orderBy("split")

  val hashSplitSql: String =
    """WITH b AS (
      |  SELECT ('0x' || substr(md5(text), 1, 4))::BIGINT % 10 AS bucket,
      |         len(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
      |           AS n_toks
      |  FROM documents
      |)
      |SELECT CASE WHEN bucket < 8 THEN 'train'
      |            WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
      |       count(*) AS n_docs,
      |       CAST(sum(n_toks) AS BIGINT) AS n_tokens
      |FROM b GROUP BY 1 ORDER BY split""".stripMargin

  /** Temperature-resampled language mixture — the multilingual
    * pretraining upsampling rule (sample language l with
    * p_l ∝ share_l^α, α = 0.5, as in the mBERT / XLM-R exponential
    * smoothing scheme): every document gets a deterministic integer
    * multiplicity — floor(epochs_l) full copies plus one more iff its
    * content-hash uniform falls under the fractional part — so the
    * resampled corpus is reproducible under re-partitioning with no
    * RNG state, and duplicate texts replicate identically (the same
    * content-keyed discipline as hashSplit). epochs_l =
    * sqrt(N / (K·n_l)) is the α = 0.5 rule normalized so a perfectly
    * uniform corpus is a no-op; it is computed from exact integer
    * counts only — no cross-group float sums — so both engines derive
    * bit-identical epochs. Scale shape: two tiny aggregates
    * (per-lang counts) broadcast back over one corpus scan; the only
    * wide operation is the final per-lang rollup.
    */
  def langMixture(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val tot = docs.agg(count(lit(1)).as("n_total"))
    val k = counts.agg(count(lit(1)).as("k_langs"))
    val epochs = counts.crossJoin(tot).crossJoin(k)
      .withColumn("epochs",
        round(sqrt(col("n_total").cast("double")
          / (col("k_langs") * col("n")).cast("double")), 6))
      .select(col("lang"), col("epochs"))
    val perDoc = docs.join(broadcast(epochs), "lang")
      .withColumn("u01",
        conv(substring(md5(col("text")), 1, 4), 16, 10).cast("double")
          / 65536.0)
      .withColumn("mult",
        (floor(col("epochs"))
          + when(col("u01") < col("epochs") - floor(col("epochs")), 1)
            .otherwise(0)).cast("long"))
    val perLang = perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("epochs")).as("epochs"),
        sum(col("mult")).as("n_sampled"))
    val totSampled = perLang.agg(sum(col("n_sampled")).as("n_total_sampled"))
    perLang.crossJoin(broadcast(tot)).crossJoin(broadcast(totSampled))
      .select(col("lang"), col("n_docs"), col("epochs"),
        round(col("n_docs").cast("double") / col("n_total"), 6)
          .as("orig_share"),
        col("n_sampled"),
        round(col("n_sampled").cast("double") / col("n_total_sampled"), 6)
          .as("realized_share"))
      .orderBy("lang")
  }

  val langMixtureSql: String =
    """WITH c AS (
      |  SELECT lang, count(*) AS n FROM documents GROUP BY 1
      |), t AS (
      |  SELECT count(*) AS n_total FROM documents
      |), k AS (
      |  SELECT count(*) AS k_langs FROM c
      |), e AS (
      |  SELECT lang, round(sqrt(CAST(n_total AS DOUBLE)
      |           / CAST(k_langs * n AS DOUBLE)), 6) AS epochs
      |  FROM c, t, k
      |), pd AS (
      |  SELECT d.lang, e.epochs,
      |         ('0x' || substr(md5(d.text), 1, 4))::BIGINT / 65536.0 AS u01
      |  FROM documents d JOIN e ON d.lang = e.lang
      |), m AS (
      |  SELECT lang, epochs,
      |         CAST(floor(epochs) AS BIGINT)
      |           + CASE WHEN u01 < epochs - floor(epochs)
      |                  THEN 1 ELSE 0 END AS mult
      |  FROM pd
      |), g AS (
      |  SELECT lang, count(*) AS n_docs, max(epochs) AS epochs,
      |         CAST(sum(mult) AS BIGINT) AS n_sampled
      |  FROM m GROUP BY 1
      |), ts AS (
      |  SELECT CAST(sum(n_sampled) AS BIGINT) AS n_total_sampled FROM g
      |)
      |SELECT lang, n_docs, epochs,
      |       round(CAST(n_docs AS DOUBLE) / n_total, 6) AS orig_share,
      |       n_sampled,
      |       round(CAST(n_sampled AS DOUBLE) / n_total_sampled, 6)
      |         AS realized_share
      |FROM g, t, ts ORDER BY lang""".stripMargin

  /** Benchmark decontamination: word-3-gram overlap between every
    * corpus document and a benchmark set (here: docs 0-4 stand in for
    * an eval benchmark). Each doc reports how many of its shingles
    * appear in the benchmark and the contaminated fraction. Top-50
    * most contaminated docs (rounded ratio, doc_id tie-break).
    *
    * Scale shape: an eval benchmark is SMALL by definition (a few MB
    * of shingles even for a large suite), so its distinct sorted
    * shingle set is collected once and shipped as ONE array literal
    * into a fused sorted-merge intersect over the corpus scan — a
    * narrow map with NO explode, NO join and NO aggregation shuffle;
    * the only wide operation left is the top-50 (TakeOrdered). This
    * replaced an explode + broadcast-join + groupBy plan that
    * shuffled one row per matched shingle (~2× faster at sf0.1, and
    * the gap grows with corpus size since the per-shingle explode is
    * gone). Same compile-once literal discipline as the LSH plane
    * matrix and the k-means centroid matrix. A benchmark too big for
    * a literal (beyond [[MaxBenchShingles]]) falls back to the
    * broadcast-join form — same answer, join-shaped plan.
    */
  def contamination(s: SparkSession, d: String): DataFrame =
    contaminationWithCap(s, d, MaxBenchShingles)

  /** Cap-parameterized body — the spec lowers `cap` to force the
    * broadcast-join fallback on test data and prove it row-identical
    * to the fused literal path (the guard is load-bearing for the
    * at-scale story, so the branch it selects must not be dead code
    * in the test suite).
    */
  private[graft] def contaminationWithCap(s: SparkSession, d: String,
      cap: Int): DataFrame = {
    val docs = shingledDocs(s, d)
    finishContamination(
      scoreProbes(docs, docs.filter(col("doc_id") >= 5), cap))
  }

  private def shingledDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))

  /** Score ANY (doc_id, sh) probe relation against the benchmark
    * 3-gram set — the core shared by the full query and the
    * incremental path, so both score identically by construction.
    * Returns (doc_id, n_shingles, n_hits) with inner-join semantics
    * (0-hit docs drop).
    */
  private def scoreProbes(docs: DataFrame, probe: DataFrame,
      cap: Int): DataFrame = {
    // doc_id < 5 prunes below the shingle projection, so only the 5
    // benchmark docs pay shingling here; ordered so the literal is
    // sorted by the same UTF8 binary ordering the kernel merges on
    val benchSh = docs.filter(col("doc_id") < 5)
      .select(explode(col("sh")).as("shingle")).distinct()
      .orderBy("shingle")
      .limit(cap + 1)
      .collect().map(_.getString(0))
    if (benchSh.length <= cap)
      probe.select(col("doc_id"), size(col("sh")).as("n_shingles"),
        graft.functions.SetSimilarityFunctions
          .sorted_intersect_count(col("sh"),
            typedLit(benchSh.toIndexedSeq)).as("n_hits"))
        .filter(col("n_hits") > 0) // inner-join semantics: 0-hit docs drop
    else {
      val bench = docs.filter(col("doc_id") < 5)
        .select(explode(col("sh")).as("shingle")).distinct()
      probe
        .select(col("doc_id"), size(col("sh")).as("n_shingles"),
          explode(col("sh")).as("shingle"))
        .join(broadcast(bench), Seq("shingle"))
        .groupBy(col("doc_id"), col("n_shingles"))
        .agg(count(lit(1)).as("n_hits"))
        .select(col("doc_id"), col("n_shingles"), col("n_hits"))
    }
  }

  private def finishContamination(scored: DataFrame): DataFrame =
    scored
      .select(col("doc_id"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_shingles"), 6)
          .as("contamination"))
      .orderBy(desc("contamination"), asc("doc_id"))
      .limit(50)

  /** Yesterday's contamination scores: (doc_id, n_shingles, n_hits)
    * for every already-ingested probe doc with ≥ 1 benchmark hit,
    * persisted once per corpus — the benchmark is STATIC, so a doc's
    * score never changes after ingest and the daily job never
    * re-reads base text.
    */
  private[graft] def baseContaminationScores(s: SparkSession, d: String,
      delta: Delta = Delta.Documents): DataFrame =
    graft.util.ScratchIndex.materialize(s, delta.key("contambase", d)) {
      val docs = shingledDocs(s, d)
      scoreProbes(docs, delta.base(docs.filter(col("doc_id") >= 5)),
        MaxBenchShingles)
    }

  /** INCREMENTAL benchmark decontamination — the curation family's
    * daily-ingest path (completing the set: LSH index, clusters, IVF,
    * SCD2, agg state, novelty, degrees, triangles, theta, now
    * contamination). Per-doc scores against a STATIC benchmark are
    * independent across docs, so the merge is a disjoint union:
    * yesterday's persisted score table ∪ today's batch scored through
    * the SAME fused-literal kernel ([[scoreProbes]] is shared code),
    * then the global top-50. The only text scan of the update is the
    * delta's own ([[Delta.Documents]], `doc_id % 10 == 7`); the
    * persisted base relation is HIT DOCS ONLY (inner-join semantics),
    * orders of magnitude below the corpus, and is never exchanged —
    * the final TakeOrdered reads it once. Oracle = the FULL corpus replay (`contaminationSql`),
    * so the gate hash proves merge ≡ rebuild, the
    * `rel_scd2_incremental` discipline.
    */
  def contaminationIncremental(s: SparkSession, d: String,
      delta: Delta = Delta.Documents): DataFrame = {
    val docs = shingledDocs(s, d)
    val deltaScores = scoreProbes(docs,
      delta.batch(docs.filter(col("doc_id") >= 5)), MaxBenchShingles)
    finishContamination(
      baseContaminationScores(s, d, delta).unionByName(deltaScores))
  }

  /** Literal-size cap for the fused contamination path: 500k shingles
    * ≈ 15 MB as a codegen constant — beyond it the broadcast-join
    * fallback avoids an oversized task binary.
    */
  private val MaxBenchShingles = 500000

  val contaminationSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${Dedup.shinglesSql} AS sh
       |  FROM (SELECT doc_id,
       |               list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
       |        FROM documents)
       |), bench AS (
       |  SELECT DISTINCT unnest(sh) AS shingle FROM t WHERE doc_id < 5
       |), probe AS (
       |  SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS shingle
       |  FROM t WHERE doc_id >= 5
       |)
       |SELECT doc_id, count(*) AS n_hits,
       |       round(CAST(count(*) AS DOUBLE) / any_value(n_shingles), 6)
       |         AS contamination
       |FROM probe JOIN bench USING (shingle)
       |GROUP BY doc_id
       |ORDER BY contamination DESC, doc_id LIMIT 50""".stripMargin

  /** End-to-end curation summary: exact-dup removal (content
    * fingerprint, keep smallest doc_id) composed with quality gates
    * (token-count band + alphabetic ratio), reported per language.
    * This is the pipeline a curation job runs before training: what
    * survives, and why, by slice.
    */
  def curationSummary(s: SparkSession, d: String): DataFrame = {
    val scored = documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("alpha_ratio",
        length(regexp_replace(col("text"), "[^a-z]", "")).cast("double")
          / length(col("text")))
      .withColumn("fp", md5(concat_ws(" ", col("toks"))))
    val keep = scored
      .withColumn("keep_id",
        min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .withColumn("is_canonical", col("doc_id") === col("keep_id"))
      .withColumn("passes",
        col("is_canonical") && col("n_tokens").between(20, 500)
          && col("alpha_ratio") >= 0.4)
    keep.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("passes"), 1L).otherwise(0L)).as("n_kept"),
        // int/int ratios hit REAL .5 ties under fixed rounding
        // (k·10⁴/n ≡ ½); exact integer numerators + one division,
        // no round → bit-identical doubles cross-engine
        (sum(when(col("passes"), 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("kept_ratio"),
        (sum(when(col("passes"), col("n_tokens")).cast("long"))
          / (lit(1.0) * sum(when(col("passes"), 1L))))
          .as("avg_kept_tokens"))
      .orderBy("lang")
  }

  val curationSummarySql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, text,
      |         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
      |  FROM documents
      |), sc AS (
      |  SELECT doc_id, lang, len(toks) AS n_tokens,
      |         CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
      |           / length(text) AS alpha_ratio,
      |         md5(coalesce(list_aggr(toks, 'string_agg', ' '), '')) AS fp
      |  FROM t
      |), k AS (
      |  SELECT *, doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_canonical
      |  FROM sc
      |), p AS (
      |  SELECT lang, n_tokens,
      |         is_canonical AND n_tokens BETWEEN 20 AND 500
      |           AND alpha_ratio >= 0.4 AS passes
      |  FROM k
      |)
      |SELECT lang, count(*) AS n_total,
      |       CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*) AS kept_ratio,
      |       sum(CAST(CASE WHEN passes THEN n_tokens END AS BIGINT))
      |         / (1.0 * sum(CASE WHEN passes THEN 1 END))
      |         AS avg_kept_tokens
      |FROM p GROUP BY lang ORDER BY lang""".stripMargin

  /** Training-window chunking: split each document into fixed-size
    * token windows with overlap (chunk = 128 tokens, stride = 96 —
    * the standard pre-training/RAG chunker shape). The generator runs
    * in the scan stage; output volume = Σ ceil(tokens/stride), input
    * bound. Emits per-chunk spans + boundary-token fingerprints so
    * the oracle verifies the exact window arithmetic, not just
    * counts.
    */
  private val ChunkSize = 128
  private val ChunkStride = 96

  /** Unsorted chunk spans — the production shape: narrow scan →
    * generate, zero exchanges (a doc's chunks are already contiguous
    * and chunk_idx-ordered within their scan task, and the trainer
    * shuffles chunks anyway).
    */
  private def chunkSpans(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_toks"),
        posexplode(transform(
          sequence(lit(0),
            greatest((size(col("toks")) + ChunkStride - 1)
              .divide(ChunkStride).cast("int") - 1, lit(0))),
          i => i * ChunkStride)).as(Seq("chunk_idx", "start")))
      .filter(col("start") < col("n_toks") || col("chunk_idx") === 0)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start").cast("long").as("start_tok"),
        least(col("start") + ChunkSize, col("n_toks")).cast("long")
          .as("end_tok"))

  def chunk(s: SparkSession, d: String): DataFrame =
    chunkSpans(s, d)
      // The global sort exists ONLY for the cross-engine gate (exact
      // total order vs the oracle's ORDER BY): a corpus-sized range
      // shuffle whose sampling pass re-executes the tokenize stage.
      // Note the profiling sweep does NOT pay it — EliminateSorts
      // drops the orderBy under Profile's count() action (verified
      // via `Profile … explainc cur_chunk`, SCALING.md round-11
      // controls). A production chunker drops this line — see
      // [[chunkAgg]], the gate-sort-free variant whose scaling
      // exponent SCALING.md reports next to this one.
      .orderBy("doc_id", "chunk_idx")

  /** Production-shape chunker: identical span generation to
    * [[chunk]], terminal step a single order-insensitive global
    * aggregate instead of the gate's corpus-wide sort — the plan a
    * training pipeline actually runs (scan → generate → partial agg),
    * no range shuffle, no tokenize re-execution by the sampler. The
    * checksum is an exact-BIGINT row-interaction term (doc_id ×
    * span-field mix, per-term mod 1e9+7 so a 100× corpus stays far
    * from BIGINT overflow), so the oracle still verifies every span's
    * exact arithmetic, not just counts — order-free.
    */
  def chunkAgg(s: SparkSession, d: String): DataFrame =
    chunkSpans(s, d)
      .agg(
        count(lit(1)).as("n_chunks"),
        // every doc emits exactly one chunk_idx==0 row, so this is
        // count(DISTINCT doc_id) without the doc_id-keyed exchange a
        // two-phase distinct would add — the plan stays one partial
        // agg + a constant-bytes (1 row per map task) exchange
        count(when(col("chunk_idx") === 0L, 1)).as("n_docs"),
        sum(col("end_tok") - col("start_tok")).as("sum_span"),
        sum((col("doc_id") % 1000003L + 1L)
          * (col("start_tok") * 31L + col("end_tok") * 7L
             + col("chunk_idx") * 3L + 1L) % 1000000007L).as("span_chk"))

  val chunkAggSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         len(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
      |           AS n_toks
      |  FROM documents
      |), spans AS (
      |  SELECT doc_id, n_toks, i AS chunk_idx, i * 96 AS start_tok
      |  FROM t, LATERAL (SELECT unnest(generate_series(0,
      |    greatest(CAST(ceil(CAST(n_toks AS DOUBLE) / 96) AS INT) - 1, 0)))
      |    AS i) u
      |), sp AS (
      |  SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      |         CAST(start_tok AS BIGINT) AS start_tok,
      |         CAST(least(start_tok + 128, n_toks) AS BIGINT) AS end_tok
      |  FROM spans
      |  WHERE start_tok < n_toks OR chunk_idx = 0
      |)
      |SELECT count(*) AS n_chunks,
      |       count(CASE WHEN chunk_idx = 0 THEN 1 END) AS n_docs,
      |       CAST(sum(end_tok - start_tok) AS BIGINT) AS sum_span,
      |       CAST(sum((doc_id % 1000003 + 1)
      |           * (start_tok * 31 + end_tok * 7 + chunk_idx * 3 + 1)
      |           % 1000000007) AS BIGINT) AS span_chk
      |FROM sp""".stripMargin

  val chunkSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         len(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
      |           AS n_toks
      |  FROM documents
      |), spans AS (
      |  SELECT doc_id, n_toks, i AS chunk_idx, i * 96 AS start_tok
      |  FROM t, LATERAL (SELECT unnest(generate_series(0,
      |    greatest(CAST(ceil(CAST(n_toks AS DOUBLE) / 96) AS INT) - 1, 0)))
      |    AS i) u
      |)
      |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      |       CAST(start_tok AS BIGINT) AS start_tok,
      |       CAST(least(start_tok + 128, n_toks) AS BIGINT) AS end_tok
      |FROM spans
      |WHERE start_tok < n_toks OR chunk_idx = 0
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Sequence packing: greedily pack documents (in doc_id order) into
    * fixed token budgets — bin id = floor(running-token-cumsum /
    * budget), a pure window cumulative sum, no driver loop. Packing
    * is PER SOURCE SHARD (window partitioned by `source`), the shape
    * that scales: a global pack order would serialize the corpus
    * through one partition, and trainers consume shard-local packs
    * anyway. Per-bin fill stats show the utilization.
    */
  private val PackBudget = 2048L

  def packSequences(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    documents(s, d)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      .withColumn("bin", expr(s"(cum - 1) div ${PackBudget}L"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("bin_tokens"))
      .orderBy("source", "bin")
  }

  val packSequencesSql: String =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |         len(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))
       |           AS n_toks
       |  FROM documents
       |), c AS (
       |  SELECT source, doc_id, n_toks,
       |         sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t
       |)
       |SELECT source, CAST((cum - 1) // $PackBudget AS BIGINT) AS bin,
       |       count(*) AS n_docs,
       |       CAST(sum(n_toks) AS BIGINT) AS bin_tokens
       |FROM c GROUP BY 1, 2 ORDER BY source, bin""".stripMargin

  /** PII scrubbing: email/phone redaction with patterns chosen to
    * evaluate identically under Java regex (Spark) and RE2 (DuckDB) —
    * plain character classes and counted repetition only, no
    * backrefs/lookaround. Reports per-doc redaction counts plus the
    * scrubbed length; the scrub itself is a narrow projection (the
    * 100 TB case is a straight map over the scan).
    */
  private val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val PhoneRe = "\\+?[0-9][0-9 ()-]{6,}[0-9]"

  def piiScrub(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(PhoneRe)))
          .cast("long").as("n_phones"),
        length(col("scrubbed")).cast("long").as("scrubbed_len"),
        md5(col("scrubbed")).as("scrubbed_md5"))
      .orderBy("doc_id")

  val piiScrubSql: String =
    s"""SELECT doc_id,
       |       CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT)
       |         AS n_emails,
       |       CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT)
       |         AS n_phones,
       |       CAST(length(regexp_replace(regexp_replace(text,
       |              '$EmailRe', '<EMAIL>', 'g'),
       |              '$PhoneRe', '<PHONE>', 'g')) AS BIGINT) AS scrubbed_len,
       |       md5(regexp_replace(regexp_replace(text,
       |              '$EmailRe', '<EMAIL>', 'g'),
       |              '$PhoneRe', '<PHONE>', 'g')) AS scrubbed_md5
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Paragraph-level exact dedup: fingerprint each 128-token chunk
    * (cur_chunk's spans) and find chunks repeated across documents —
    * the C4/RefinedWeb-style "remove boilerplate paragraphs" step.
    * One shuffle on the 16-byte chunk fingerprint.
    */
  def paragraphDedup(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      // fingerprint via the fused ChunkFingerprints expression: the
      // declarative transform(sequence)+slice+md5 lambda evaluates
      // INTERPRETED and re-slices the token array per chunk (5.3 s at
      // sf0.1 → sub-second fused); only 32-char hashes explode
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.chunk_fingerprints(
          col("text"), ChunkSize, ChunkStride)).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      // repeated chunks rank first; singletons keep the result
      // non-vacuous on corpora with no boilerplate repeats
      .orderBy(desc("n_copies"), asc("fp"))
      .limit(100)

  val paragraphDedupSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
      |  FROM documents
      |), spans AS (
      |  SELECT doc_id, toks, len(toks) AS n_toks, i AS chunk_idx,
      |         i * 96 AS start
      |  FROM t, LATERAL (SELECT unnest(generate_series(0,
      |    greatest(CAST(ceil(CAST(len(toks) AS DOUBLE) / 96) AS INT) - 1, 0)))
      |    AS i) u
      |), fps AS (
      |  SELECT doc_id,
      |         md5(coalesce(list_aggr(toks[start + 1 : start + 128],
      |                                'string_agg', ' '), '')) AS fp
      |  FROM spans WHERE start < n_toks OR chunk_idx = 0
      |)
      |SELECT fp, count(*) AS n_copies,
      |       count(DISTINCT doc_id) AS n_docs,
      |       min(doc_id) AS first_doc
      |FROM fps GROUP BY fp
      |ORDER BY n_copies DESC, fp LIMIT 100""".stripMargin

  /** Model-based quality filtering with a STUB linear model: score =
    * w·features over the quality signals (token count band, stopword
    * density, alpha ratio, mean token length), thresholded into
    * keep/borderline/drop. The weights stand in for a trained
    * fastText-style classifier — swapping in real weights (or a real
    * model via mapPartitions) changes ONLY the literals; the scoring
    * plumbing (feature extraction → linear score → threshold →
    * per-slice report) is the real part, all narrow until the final
    * tiny aggregate. Score is rounded finer than the feature grain so
    * both engines threshold identically.
    */
  def qualityModel(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val density = size(filter(toks,
      t => t.isin("the", "a", "an", "and", "or", "of", "to", "in",
        "is", "on"))).cast("double") / nTok
    val alpha = length(regexp_replace(col("text"), "[^a-z]", ""))
      .cast("double") / length(col("text"))
    val avgLen = length(col("text")).cast("double") / nTok
    // stub weights: hand-set, deterministic — a trained model would
    // ship these as literals the same way
    val z = round(
      lit(-1.0) + density * 8.0 + alpha * 2.5
        + when(nTok.between(20, 500), 0.8).otherwise(-0.8)
        - (avgLen - 6.0) * (avgLen - 6.0) * 0.02, 6)
    documents(s, d)
      .withColumn("score", z)
      .withColumn("verdict",
        when(col("score") >= 1.2, "keep")
          .when(col("score") >= 0.6, "borderline").otherwise("drop"))
      .groupBy(col("lang"), col("verdict"))
      .agg(count(lit(1)).as("n"),
        // score sits on a fixed 1e-6 grid (rounded above), so
        // round(avg, 4) is the case-2 tie shape — exact integer
        // micro-units numerator, one division (see Relational.scala)
        (sum(round(col("score") * 1000000).cast("long"))
          / (lit(1000000.0) * count(lit(1)))).as("avg_score"))
      .orderBy("lang", "verdict")
  }

  val qualityModelSql: String =
    s"""WITH f AS (
       |  SELECT lang,
       |         CAST(len(list_filter(string_split_regex(text, '\\s+'),
       |                              x -> x != '')) AS DOUBLE) AS n_tok,
       |         CAST(len(list_filter(list_filter(string_split_regex(text, '\\s+'),
       |                              x -> x != ''),
       |               x -> list_contains(['the','a','an','and','or','of','to','in','is','on'], x)))
       |           AS DOUBLE) AS n_stop,
       |         CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
       |           / length(text) AS alpha,
       |         CAST(length(text) AS DOUBLE) AS n_chars
       |  FROM documents
       |), sc AS (
       |  SELECT lang,
       |         round(-1.0 + (n_stop / n_tok) * 8.0 + alpha * 2.5
       |           + CASE WHEN n_tok BETWEEN 20 AND 500 THEN 0.8 ELSE -0.8 END
       |           - (n_chars / n_tok - 6.0) * (n_chars / n_tok - 6.0) * 0.02,
       |           6) AS score
       |  FROM f
       |)
       |SELECT lang,
       |       CASE WHEN score >= 1.2 THEN 'keep'
       |            WHEN score >= 0.6 THEN 'borderline'
       |            ELSE 'drop' END AS verdict,
       |       count(*) AS n,
       |       sum(CAST(round(score * 1000000) AS BIGINT)) / (1000000.0 * count(*)) AS avg_score
       |FROM sc GROUP BY 1, 2 ORDER BY lang, verdict""".stripMargin

  /** Deterministic stratified sampling: exactly ceil(10%) of each
    * language stratum, chosen by content-hash order (md5 of doc_id —
    * uniform, reproducible on any cluster layout, no RNG). The
    * mechanism is proportional allocation via one ranked window per
    * stratum — the scalable replacement for `sampleBy`, whose
    * per-partition Bernoulli draws give only EXPECTED fractions and
    * change with partitioning. Emits per-stratum counts plus the
    * sampled ids' checksum so the oracle pins membership, not just
    * sizes.
    */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val byLang = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
    val ranked = documents(s, d)
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("rk",
        row_number().over(byLang.orderBy(col("h"), col("doc_id"))))
      .withColumn("n_stratum", count(lit(1)).over(byLang))
    ranked
      .filter(col("rk") <= ceil(col("n_stratum") * 0.1))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
        max(col("n_stratum")).as("n_stratum"),
        sum(col("doc_id")).as("id_sum"),
        min(col("doc_id")).as("min_id"))
      .orderBy("lang")
  }

  val stratifiedSampleSql: String =
    """WITH ranked AS (
      |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
      |           AS rk,
      |         count(*) OVER (PARTITION BY lang) AS n_stratum
      |  FROM documents
      |)
      |SELECT lang, count(*) AS n_sampled,
      |       max(n_stratum) AS n_stratum,
      |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |       min(doc_id) AS min_id
      |FROM ranked WHERE rk <= ceil(n_stratum * 0.1)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Weighted sampling without replacement (Efraimidis–Spirakis):
    * each doc draws key = u^(1/w) from a content-hash uniform u and
    * weight w = token count; the global top-30 keys ARE the weighted
    * sample. One scan + one top-k (TakeOrderedAndProject) — no
    * global sort, no RNG state, identical on any cluster layout.
    * Ranking uses the ROUNDED key with doc_id tie-break so both
    * engines order identically (pow is libm-dependent in the last
    * ulp).
    */
  def weightedSample(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("lang"),
        greatest(size(tokens(col("text"))).cast("long"), lit(1L)).as("w"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("double") / 4294967296.0).as("u"))
      .withColumn("es_key", round(pow(col("u"), lit(1.0) / col("w")), 6))
      .select(col("doc_id"), col("lang"), col("w"), col("es_key"))
      .orderBy(desc("es_key"), asc("doc_id"))
      .limit(30)

  val weightedSampleSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |         greatest(len(list_filter(string_split_regex(text, '\s+'),
      |                                  x -> x != '')), 1) AS w,
      |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |           / 4294967296.0 AS u
      |  FROM documents
      |)
      |SELECT doc_id, lang, CAST(w AS BIGINT) AS w,
      |       round(pow(u, 1.0 / w), 6) AS es_key
      |FROM t ORDER BY es_key DESC, doc_id ASC LIMIT 30""".stripMargin

  private val DomainCapK = 15

  /** Per-domain document cap — the pretraining domain-throttle: keep at
    * most K docs per `source`, preferring the longest (a quality proxy),
    * so no domain dominates the training mix. One window rank per
    * domain partition + grouped rollup: a single shuffle on `source`,
    * work per domain independent — the 100 TB shape (domains partition
    * the corpus; a skewed mega-domain is exactly what the cap removes).
    * Emits per-domain kept/total counts, kept-char volume, and an id
    * checksum of the kept set.
    */
  def domainCap(s: SparkSession, d: String): DataFrame = {
    val bySource = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rk", row_number().over(
        bySource.orderBy(col("n_chars").desc, col("doc_id"))))
      .withColumn("n_total", count(lit(1)).over(bySource))
      .filter(col("rk") <= DomainCapK)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        max(col("n_total")).as("n_total"),
        sum(col("n_chars")).as("kept_chars"),
        sum(col("doc_id")).as("id_checksum"))
      .orderBy("source")
  }

  val domainCapSql: String =
    """WITH ranked AS (
      |  SELECT doc_id, source, n_chars,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY n_chars DESC, doc_id) AS rk,
      |         count(*) OVER (PARTITION BY source) AS n_total
      |  FROM documents
      |)
      |SELECT source, count(*) AS n_kept, max(n_total) AS n_total,
      |       CAST(sum(n_chars) AS BIGINT) AS kept_chars,
      |       CAST(sum(doc_id) AS BIGINT) AS id_checksum
      |FROM ranked WHERE rk <= 15
      |GROUP BY source ORDER BY source""".stripMargin

  /** Minimum group size for [[kAnonymize]] — the k of k-anonymity. */
  private val AnonK = 10

  /** Sentinel for a generalized-away attribute ([[kAnonymize]]):
    * emitted instead of NULL so every output column keeps one
    * concrete integer/string type in BOTH engines (a nullable int
    * column round-trips as float through some readers, which would
    * make the hash compare type-fragile for no semantic gain).
    * The value sits OUTSIDE both attribute domains: nations are
    * [0, 24] and bands are floor(acctbal/1000) ∈ [-1, 9] for the
    * TPC-H balance range (-999.99, 9999.99] — the obvious -1 was a
    * bug, colliding with the legitimate band of every
    * negative-balance customer (CurationSpec pins the disjointness).
    */
  private[graft] val Suppressed = -100L

  /** K-anonymity generalization over customer quasi-identifiers — the
    * privacy gate a training-data release pipeline runs before
    * shipping records that could re-identify people: a record is only
    * released at a generalization level whose quasi-identifier group
    * has at least [[AnonK]] members. The ladder generalizes the most
    * identifying attribute away first: level 0 keeps (nation,
    * segment, account-balance band), level 1 drops the band, level 2
    * also drops the nation, level 3 suppresses everything. Each
    * record reports its level, its surviving attributes (sentinel
    * [[Suppressed]] / "*" where generalized), and the size of the
    * group it hides in — so the output hash pins the whole anonymity
    * structure, and a spec can assert the guarantee directly (every
    * emitted group size ≥ k or level 3).
    *
    * Precisely: this is the per-record MINIMAL-GENERALIZATION ladder —
    * each record is released at the first level whose
    * pre-generalization attribute group holds ≥ k records. That is an
    * AUDIT form, not a release gate: the class actually released at
    * level L can be smaller than k (level-(L−1) siblings went out
    * with finer attributes, in a different class). The release-grade
    * guarantee is [[kAnonymizeStrict]], which sizes each rung on the
    * residual class; use THIS form to see where the minimal ladder
    * would land each record, and that one to ship data.
    *
    * Plan shape at scale: ONE corpus-sized keyed count aggregation
    * (the finest level, g0); the coarser levels and the total
    * RE-AGGREGATE g0 — a bounded |nations| × |segments| × |bands|
    * relation (≈ thousands of rows) — instead of re-scanning the
    * corpus, so the row stream is scanned once for grouping and once
    * as the join probe side, with every ladder relation broadcast
    * back onto it. The band is floor(acctbal / 1000) — one IEEE
    * division + floor, bit-identical cross-engine (taxonomy case 1;
    * never a sort key).
    */
  /** The quasi-identifier projection shared by both k-anonymity
    * forms: (c_custkey, nation, segment, band).
    */
  private def anonBase(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(
      col("c_custkey"),
      col("c_nationkey").cast("long").as("nation"),
      col("c_mktsegment").as("segment"),
      floor(col("c_acctbal") / 1000.0).cast("long").as("band"))

  def kAnonymize(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = anonBase(s, d)
    val g0 = base.groupBy(col("nation"), col("segment"), col("band"))
      .agg(count(lit(1)).as("n0"))
    // Coarser ladder levels are WINDOW sums over the bounded g0 cell
    // relation (n1 = Σn0 per (nation, segment), n2 = Σn0 per segment,
    // n3 = Σn0 overall — exact integer sums, identical values to the
    // former g1/g2/total aggregates): one ladder relation instead of
    // four, so the corpus-sized row stream passes ONE broadcast join
    // instead of three joins + a crossJoin (guide §2.4 — four
    // broadcast exchanges and four join operators collapsed to one
    // each; measured plan: 8 Exchanges → 2). The windows repartition
    // only the ≤ |nations|×|segments|×|bands| cell relation, never
    // the corpus; the empty-partition n3 window puts those few
    // thousand cells on one task, which is exactly what the former
    // single-row total aggregate did.
    val ladder = g0
      .withColumn("n1",
        sum(col("n0")).over(Window.partitionBy(col("nation"), col("segment"))))
      .withColumn("n2",
        sum(col("n0")).over(Window.partitionBy(col("segment"))))
      .withColumn("n3", sum(col("n0")).over(Window.partitionBy()))
    val k = lit(AnonK.toLong)
    base
      // the ladder relation is BOUNDED (|nations| × |segments| ×
      // |bands| cells) but Catalyst estimates its size from the
      // corpus-sized scan beneath the aggregate, so without the hint
      // the planner SMJs — shuffling the whole corpus to meet a
      // ~3000-row table (measured at the sf10 fixture: the customer
      // exchange is the query's entire shuffle volume). The explicit
      // broadcast makes the promised plan the actual plan at every
      // scale.
      .join(broadcast(ladder), Seq("nation", "segment", "band"))
      .withColumn("gen_level",
        when(col("n0") >= k, 0L).when(col("n1") >= k, 1L)
          .when(col("n2") >= k, 2L).otherwise(3L))
      .select(
        col("c_custkey"),
        col("gen_level"),
        when(col("gen_level") <= 1, col("nation"))
          .otherwise(lit(Suppressed)).as("nation_out"),
        when(col("gen_level") <= 2, col("segment"))
          .otherwise(lit("*")).as("segment_out"),
        when(col("gen_level") === 0, col("band"))
          .otherwise(lit(Suppressed)).as("band_out"),
        when(col("gen_level") === 0, col("n0"))
          .when(col("gen_level") === 1, col("n1"))
          .when(col("gen_level") === 2, col("n2"))
          .otherwise(col("n3")).as("group_n"))
      .orderBy("c_custkey")
  }

  // the k threshold and suppression sentinel are INTERPOLATED from
  // AnonK/Suppressed (not hardcoded literals) so a parameter change
  // can never desync the two engines (VERDICT r15 hygiene item)
  val kAnonymizeSql: String =
    s"""WITH base AS (
      |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation,
      |         c_mktsegment AS segment,
      |         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band
      |  FROM customer
      |), g0 AS (
      |  SELECT nation, segment, band, count(*) AS n0 FROM base
      |  GROUP BY 1, 2, 3
      |), g1 AS (
      |  SELECT nation, segment, sum(n0) AS n1 FROM g0 GROUP BY 1, 2
      |), g2 AS (
      |  SELECT segment, sum(n1) AS n2 FROM g1 GROUP BY 1
      |), lv AS (
      |  SELECT b.c_custkey, b.nation, b.segment, b.band,
      |         g0.n0, g1.n1, g2.n2,
      |         (SELECT sum(n2) FROM g2) AS n3,
      |         CASE WHEN g0.n0 >= $AnonK THEN 0
      |              WHEN g1.n1 >= $AnonK THEN 1
      |              WHEN g2.n2 >= $AnonK THEN 2
      |              ELSE 3 END AS lvl
      |  FROM base b
      |  JOIN g0 ON g0.nation = b.nation AND g0.segment = b.segment
      |         AND g0.band = b.band
      |  JOIN g1 ON g1.nation = b.nation AND g1.segment = b.segment
      |  JOIN g2 ON g2.segment = b.segment
      |)
      |SELECT c_custkey, CAST(lvl AS BIGINT) AS gen_level,
      |       CAST(CASE WHEN lvl <= 1 THEN nation ELSE $Suppressed END AS BIGINT)
      |         AS nation_out,
      |       CASE WHEN lvl <= 2 THEN segment ELSE '*' END AS segment_out,
      |       CAST(CASE WHEN lvl = 0 THEN band ELSE $Suppressed END AS BIGINT)
      |         AS band_out,
      |       CAST(CASE WHEN lvl = 0 THEN n0 WHEN lvl = 1 THEN n1
      |                 WHEN lvl = 2 THEN n2 ELSE n3 END AS BIGINT)
      |         AS group_n
      |FROM lv ORDER BY c_custkey""".stripMargin

  /** STRICT equivalence-class k-anonymity (r14 verdict #3) — the
    * guarantee [[kAnonymize]]'s minimal ladder does NOT give: the
    * minimal form releases a record at the first level whose
    * PRE-generalization group holds ≥ k records, but the class
    * actually RELEASED at level L contains only the records released
    * there — the level-(L−1) siblings went out with finer attributes,
    * in a different class — so a released class can end up smaller
    * than k (e.g. a (nation, segment) group of 19 where 12 hide at
    * level 0: the 7 level-1 records form a released class of 7).
    *
    * The strict form sizes each rung on the RESIDUAL: a record is
    * released at level L only if the count of records sharing its
    * level-L attributes AND not already released at a finer level is
    * ≥ k. One residual re-aggregation per rung IS the fixpoint —
    * escalation always moves whole residual classes (a class is
    * escalated in its entirety, never split), so no released class
    * can shrink after the rung that admits it, and every released
    * class has ≥ k members by construction (CurationSpec asserts
    * this independently from the emitted rows, and exercises the
    * escalation + full-suppression branches on a synthetic
    * small-group fixture). Level 3 is full suppression — those
    * records are WITHHELD from a release (the standard suppression
    * treatment, so no k constraint applies); group_n reports the
    * suppressed-record count for accounting.
    *
    * Plan shape at scale: identical to [[kAnonymize]] — ONE
    * corpus-sized keyed count (g0); the residual rungs re-aggregate
    * the bounded cell relation (each rung filters the cells already
    * released — a per-cell flag, never a corpus re-scan), and the
    * ladder relations broadcast back onto the row stream.
    */
  private[graft] def kAnonymizeStrictOf(base: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = lit(AnonK.toLong)
    val g0 = base.groupBy(col("nation"), col("segment"), col("band"))
      .agg(count(lit(1)).as("n0"))
    // Residual rungs as WINDOW sums over the bounded g0 cell relation
    // (the [[kAnonymize]] rewrite, same argument — guide §2.4: one
    // ladder relation and one broadcast join instead of four): each
    // rung sums the n0 of exactly the cells the former aggregate
    // kept, via a conditional sum over the rung's partition —
    //   r1 (per nation, segment): cells not safe at level 0;
    //   r2 (per segment): cells safe at neither 0 nor 1;
    //   r3 (global): cells safe nowhere (coalesce: the happy corpus
    //   has no suppressed cells and the all-NULL sum is NULL).
    // A `when` with no otherwise yields NULL, and sum ignores NULLs,
    // so a rung whose partition has no qualifying cells is NULL —
    // exactly what the former LEFT joins attached.
    val ladder = g0
      .withColumn("r1",
        sum(when(col("n0") < k, col("n0")))
          .over(Window.partitionBy(col("nation"), col("segment"))))
      .withColumn("r2",
        sum(when(col("n0") < k && col("r1") < k, col("n0")))
          .over(Window.partitionBy(col("segment"))))
      .withColumn("r3",
        coalesce(
          sum(when(col("n0") < k && col("r1") < k && col("r2") < k,
            col("n0"))).over(Window.partitionBy()),
          lit(0L)))
    base
      // broadcast for the same reason as [[kAnonymize]]: the ladder
      // relation is cell-bounded but carries corpus-sized estimates
      .join(broadcast(ladder), Seq("nation", "segment", "band"))
      .withColumn("gen_level",
        when(col("n0") >= k, 0L).when(col("r1") >= k, 1L)
          .when(col("r2") >= k, 2L).otherwise(3L))
      .select(
        col("c_custkey"),
        col("gen_level"),
        when(col("gen_level") <= 1, col("nation"))
          .otherwise(lit(Suppressed)).as("nation_out"),
        when(col("gen_level") <= 2, col("segment"))
          .otherwise(lit("*")).as("segment_out"),
        when(col("gen_level") === 0, col("band"))
          .otherwise(lit(Suppressed)).as("band_out"),
        when(col("gen_level") === 0, col("n0"))
          .when(col("gen_level") === 1, col("r1"))
          .when(col("gen_level") === 2, col("r2"))
          .otherwise(col("r3")).as("group_n"))
      .orderBy("c_custkey")
  }

  def kAnonymizeStrict(s: SparkSession, d: String): DataFrame =
    kAnonymizeStrictOf(anonBase(s, d))

  // AnonK/Suppressed interpolated, same reason as [[kAnonymizeSql]]
  val kAnonymizeStrictSql: String =
    s"""WITH base AS (
      |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation,
      |         c_mktsegment AS segment,
      |         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band
      |  FROM customer
      |), g0 AS (
      |  SELECT nation, segment, band, count(*) AS n0 FROM base
      |  GROUP BY 1, 2, 3
      |), r1 AS (
      |  SELECT nation, segment, sum(n0) AS r1 FROM g0
      |  WHERE n0 < $AnonK GROUP BY 1, 2
      |), r2 AS (
      |  SELECT g0.segment, sum(g0.n0) AS r2 FROM g0
      |  JOIN r1 ON r1.nation = g0.nation AND r1.segment = g0.segment
      |  WHERE g0.n0 < $AnonK AND r1.r1 < $AnonK GROUP BY 1
      |), r3 AS (
      |  SELECT coalesce(sum(g0.n0), 0) AS r3 FROM g0
      |  JOIN r1 ON r1.nation = g0.nation AND r1.segment = g0.segment
      |  JOIN r2 ON r2.segment = g0.segment
      |  WHERE g0.n0 < $AnonK AND r1.r1 < $AnonK AND r2.r2 < $AnonK
      |), lv AS (
      |  SELECT b.c_custkey, b.nation, b.segment, b.band,
      |         g0.n0, r1.r1, r2.r2, (SELECT r3 FROM r3) AS r3,
      |         CASE WHEN g0.n0 >= $AnonK THEN 0
      |              WHEN r1.r1 >= $AnonK THEN 1
      |              WHEN r2.r2 >= $AnonK THEN 2
      |              ELSE 3 END AS lvl
      |  FROM base b
      |  JOIN g0 ON g0.nation = b.nation AND g0.segment = b.segment
      |         AND g0.band = b.band
      |  LEFT JOIN r1 ON r1.nation = b.nation AND r1.segment = b.segment
      |  LEFT JOIN r2 ON r2.segment = b.segment
      |)
      |SELECT c_custkey, CAST(lvl AS BIGINT) AS gen_level,
      |       CAST(CASE WHEN lvl <= 1 THEN nation ELSE $Suppressed END AS BIGINT)
      |         AS nation_out,
      |       CASE WHEN lvl <= 2 THEN segment ELSE '*' END AS segment_out,
      |       CAST(CASE WHEN lvl = 0 THEN band ELSE $Suppressed END AS BIGINT)
      |         AS band_out,
      |       CAST(CASE WHEN lvl = 0 THEN n0 WHEN lvl = 1 THEN r1
      |                 WHEN lvl = 2 THEN r2 ELSE r3 END AS BIGINT)
      |         AS group_n
      |FROM lv ORDER BY c_custkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cur_k_anonymize"   -> (kAnonymize _),
    "cur_k_anonymize_strict" -> (kAnonymizeStrict _),
    "cur_domain_cap"    -> (domainCap _),
    "cur_weighted_sample" -> (weightedSample _),
    "cur_stratified"    -> (stratifiedSample _),
    "cur_hash_split"    -> (hashSplit _),
    "cur_lang_mixture"  -> (langMixture _),
    "cur_contamination" -> (contamination _),
    "cur_contamination_incremental" -> (contaminationIncremental(_, _)),
    "cur_summary"       -> (curationSummary _),
    "cur_chunk"         -> (chunk _),
    "cur_chunk_agg"     -> (chunkAgg _),
    "cur_pack"          -> (packSequences _),
    "cur_pii_scrub"     -> (piiScrub _),
    "cur_para_dedup"    -> (paragraphDedup _),
    "cur_quality_model" -> (qualityModel _),
  )

  val oracle: Map[String, String] = Map(
    "cur_k_anonymize"   -> kAnonymizeSql,
    "cur_k_anonymize_strict" -> kAnonymizeStrictSql,
    "cur_domain_cap"    -> domainCapSql,
    "cur_weighted_sample" -> weightedSampleSql,
    "cur_stratified"    -> stratifiedSampleSql,
    "cur_hash_split"    -> hashSplitSql,
    "cur_lang_mixture"  -> langMixtureSql,
    "cur_contamination" -> contaminationSql,
    "cur_contamination_incremental" -> contaminationSql,
    "cur_summary"       -> curationSummarySql,
    "cur_chunk"         -> chunkSql,
    "cur_chunk_agg"     -> chunkAggSql,
    "cur_pack"          -> packSequencesSql,
    "cur_pii_scrub"     -> piiScrubSql,
    "cur_para_dedup"    -> paragraphDedupSql,
    "cur_quality_model" -> qualityModelSql,
  )
}
