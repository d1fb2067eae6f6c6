package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Delta
import graft.util.Tables._

/** Text-analysis operators for an LLM training-data pipeline over the
  * `documents` table: tokenization, quality scoring, language-ID
  * heuristic, BPE-ish token counting, content fingerprinting.
  *
  * All ops here are narrow per-row expression pipelines (no shuffle
  * except final ORDER BY / grouped summaries) and whole-stage
  * codegen'd — at 100 TB they scale embarrassingly: each task scores
  * its own parquet split, and only tiny aggregates move.
  *
  * Cross-engine note: every expression is mirrored in DuckDB SQL with
  * identical semantics (same regex class syntax, same fold order for
  * the rolling hash, integer modular arithmetic) so results
  * hash-match exactly.
  */
object TextAnalysis {

  /** Whitespace tokens with empties dropped — identical to DuckDB's
    * list_filter(string_split_regex(text,'\s+'), x -> x != '').
    */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= lit(""))

  private val StopWords =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "on")

  private def stopSql = StopWords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Quality scoring: token counts, average token length, stopword
    * ratio, alphabetic-character ratio, and a composite quality score.
    * Everything derives from one `tokens` array kept in a single
    * projection (computed once per row under WSCG).
    */
  def textQuality(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        size(filter(col("toks"), t => t.isin(StopWords: _*))).cast("long"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        // int/int ratios: ONE division of identical integers is
        // bit-identical cross-engine; ROUNDING them is what diverges
        // (true k/n values land on real .5 ties where Spark HALF_UP
        // and DuckDB float-scaling round apart) — so no round
        (length(col("text")).cast("double") / col("n_tokens"))
          .as("avg_tok_len"),
        (col("n_stop").cast("double") / col("n_tokens"))
          .as("stop_ratio"),
        (length(regexp_replace(col("text"), "[^a-z]", ""))
          .cast("double") / length(col("text"))).as("alpha_ratio"),
        (col("n_tokens") >= 20 && col("n_tokens") <= 500).as("len_ok"))
      .orderBy("doc_id")

  val textQualitySql: String =
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |         list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, text, len(toks) AS n_tokens,
       |         len(list_filter(toks, x -> list_contains($stopSql, x))) AS n_stop
       |  FROM t
       |)
       |SELECT doc_id, n_tokens,
       |       CAST(length(text) AS DOUBLE) / n_tokens AS avg_tok_len,
       |       CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
       |       CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
       |             / length(text) AS alpha_ratio,
       |       n_tokens BETWEEN 20 AND 500 AS len_ok
       |FROM c ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic: English-stopword density n-gram-free
    * scoring — predict 'en' when density clears a threshold, then
    * summarize predicted-vs-labelled counts per lang. The per-doc part
    * is narrow; the summary is a tiny grouped agg.
    */
  def langId(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .withColumn("density",
        size(filter(col("toks"), t => t.isin(StopWords: _*))).cast("double")
          / size(col("toks")))
      .withColumn("predicted",
        when(col("density") >= 0.05, lit("en")).otherwise(lit("other")))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("density")), 4).as("avg_density"))
      .orderBy("lang", "predicted")

  val langIdSql: String =
    s"""WITH t AS (
       |  SELECT lang,
       |         list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
       |  FROM documents
       |), sc AS (
       |  SELECT lang,
       |         CAST(len(list_filter(toks, x -> list_contains($stopSql, x))) AS DOUBLE)
       |           / len(toks) AS density
       |  FROM t
       |)
       |SELECT lang,
       |       CASE WHEN density >= 0.05 THEN 'en' ELSE 'other' END AS predicted,
       |       count(*) AS n_docs,
       |       round(avg(density), 4) AS avg_density
       |FROM sc GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin

  /** BPE-ish token counting: count maximal letter runs, digit runs and
    * single non-space symbols — the standard pre-tokenizer regex
    * shape. regexp_extract_all is codegen'd; same RE class semantics
    * in DuckDB (RE2) for this simple pattern.
    */
  private val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  def tokenCount(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
          .cast("long").as("n_bpe_tokens"),
        size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
        col("n_chars"))
      .orderBy("doc_id")

  val tokenCountSql: String =
    """SELECT doc_id,
      |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens,
      |       len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS n_ws_tokens,
      |       n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Document fingerprinting, two forms in one relation:
    *  - `md5_fp`: content hash of the whitespace-normalized text
    *    (dedup-grade fingerprint, cross-engine identical);
    *  - `roll_fp`: polynomial rolling hash
    *    acc := (acc*31 + ascii(char)) mod 1e9+7, left-to-right —
    *    the order-sensitive fingerprint, expressed as a sequential
    *    fold in BOTH engines so the mod arithmetic matches exactly.
    */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("norm",
        concat_ws(" ", tokens(col("text"))))
      .select(
        col("doc_id"),
        md5(col("norm")).as("md5_fp"),
        // filter the trailing "" Spark's split(_, "") emits (Java
        // split with limit -1) — DuckDB's string_split does not
        aggregate(filter(split(col("norm"), ""), c => c =!= lit("")),
          lit(0L),
          (acc, ch) => (acc * 31 + ascii(ch)) % 1000000007L).as("roll_fp"))
      .orderBy("doc_id")

  val fingerprintSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         coalesce(list_aggr(
      |           list_filter(string_split_regex(text, '\s+'), x -> x != ''),
      |           'string_agg', ' '), '') AS norm
      |  FROM documents
      |)
      |SELECT doc_id, md5(norm) AS md5_fp,
      |       list_reduce(
      |         list_prepend(CAST(0 AS BIGINT),
      |           list_transform(string_split(norm, ''), c -> CAST(ord(c) AS BIGINT))),
      |         (acc, c) -> (acc * 31 + c) % 1000000007) AS roll_fp
      |FROM t ORDER BY doc_id""".stripMargin

  /** Explode / lateral-view surface: unnest every doc's shingle set
    * (via the fused WordShingles expression), count global shingle
    * frequencies, top-20. The explode is narrow; the count is one
    * hash-shuffle on the shingle — the inverted-index build step of
    * any n-gram pipeline.
    */
  def topShingles(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(
        graft.functions.TextFunctions.word_shingles(col("text"), 3))
        .as("shingle"))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(desc("n_docs"), asc("shingle"))
      .limit(20)

  val topShinglesSql: String =
    """WITH t AS (
      |  SELECT list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
      |  FROM documents
      |), sh AS (
      |  SELECT unnest(list_distinct(
      |           CASE WHEN len(toks) >= 3
      |                THEN list_transform(range(1, len(toks) - 1),
      |                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |                ELSE [coalesce(list_aggr(toks, 'string_agg', ' '), '')] END)) AS shingle
      |  FROM t
      |)
      |SELECT shingle, count(*) AS n_docs
      |FROM sh GROUP BY shingle
      |ORDER BY n_docs DESC, shingle ASC LIMIT 20""".stripMargin

  /** TF-IDF: term frequency × inverse document frequency over the
    * corpus, top-5 terms per document for the first 50 docs.
    * Three shuffles total — (doc,term) counts, per-term document
    * frequency, per-doc totals — each a partial-combined hash
    * aggregate; the IDF side (|vocab| rows) joins back size-driven
    * (auto-broadcast while the vocabulary fits). Ranking
    * on the ROUNDED score with term tie-break keeps both engines
    * ordering identically (ln() can differ in the last ulp).
    */
  def tfIdf(s: SparkSession, d: String): DataFrame = {
    val terms = documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("n_td"))
    val docLen = terms.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_d"))
    val df = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = documents(s, d).agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(docLen, "doc_id")
      // df has one row per distinct term — vocabulary-sized, which
      // grows with the corpus: size-driven strategy, no forced hint
      .join(df, "term")
      .crossJoin(broadcast(n))
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), col("term"),
        round((col("n_td").cast("double") / col("n_d"))
          * log(col("n_docs").cast("double") / col("df")), 6)
          .as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(desc("tfidf"), asc("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
      .orderBy("doc_id", "rank")
  }

  val tfIdfSql: String =
    """WITH terms AS (
      |  SELECT doc_id,
      |         unnest(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
      |           AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS n_td FROM terms GROUP BY 1, 2
      |), dl AS (
      |  SELECT doc_id, count(*) AS n_d FROM terms GROUP BY 1
      |), idf AS (
      |  SELECT term, count(*) AS df
      |  FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1
      |), n AS (
      |  SELECT count(*) AS n_docs FROM documents
      |), scored AS (
      |  SELECT tf.doc_id, tf.term,
      |         round((CAST(n_td AS DOUBLE) / n_d)
      |               * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      |  FROM tf JOIN dl USING (doc_id) JOIN idf USING (term) CROSS JOIN n
      |  WHERE tf.doc_id < 50
      |), ranked AS (
      |  SELECT doc_id, term, tfidf,
      |         row_number() OVER (PARTITION BY doc_id
      |                            ORDER BY tfidf DESC, term) AS rank
      |  FROM scored
      |)
      |SELECT doc_id, rank, term, tfidf FROM ranked
      |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin

  /** BPE-ish subword token accounting: a GPT-2-style pre-tokenizer
    * regex (optional leading space + letter run | digit run | other
    * run) against plain whitespace tokens — the standard "how many
    * tokens will this doc cost" estimator when the real BPE merges
    * aren't worth shipping to the scan. Branch classes are disjoint,
    * so Java (Spark) and RE2 (DuckDB) alternation agree exactly.
    * Everything runs inside the scan projection (regexp_extract_all
    * is codegen'd); one final per-language aggregate.
    */
  private val BpeRe = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+"

  def bpeTokens(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_ws"),
        size(regexp_extract_all(lower(col("text")), lit(BpeRe), lit(0)))
          .cast("long").as("n_bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_ws")).as("ws_tokens"),
        sum(col("n_bpe")).as("bpe_tokens"),
        (sum(col("n_bpe")).cast("double") / sum(col("n_ws")))
          .as("bpe_per_word"))
      .orderBy("lang")

  val bpeTokensSql: String =
    """WITH t AS (
      |  SELECT lang,
      |         len(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
      |           AS n_ws,
      |         len(regexp_extract_all(lower(text),
      |             ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+')) AS n_bpe
      |  FROM documents
      |)
      |SELECT lang, count(*) AS n_docs,
      |       CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
      |       CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
      |       CAST(sum(n_bpe) AS DOUBLE) / sum(n_ws)
      |         AS bpe_per_word
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  /** Inverted-index build: token → sorted posting list of documents
    * containing it, for the 20 highest-document-frequency tokens.
    * The index-build step of any retrieval/contamination pipeline:
    * explode distinct per-doc tokens (narrow), one hash-shuffle on
    * the token, per-token sorted id list. Posting lists surface as
    * an md5 fingerprint + bounds (scalar columns — the full array
    * column would defeat the row-wise oracle hash, and at 100 TB the
    * consumer reads the list columnar anyway, not through a compare).
    */
  def postings(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
        md5(concat_ws(",",
          sort_array(collect_list(col("doc_id"))).cast("array<string>")))
          .as("posting_fp"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(desc("df"), asc("token"))
      .limit(20)

  val postingsSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         unnest(list_distinct(
      |           list_filter(string_split_regex(text, '\s+'), x -> x != '')))
      |           AS token
      |  FROM documents
      |)
      |SELECT token, count(*) AS df,
      |       md5(array_to_string(list(doc_id ORDER BY doc_id), ','))
      |         AS posting_fp,
      |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM t GROUP BY token
      |ORDER BY df DESC, token ASC LIMIT 20""".stripMargin

  /** Bigram language-model counts: adjacent token pairs with the
    * conditional probability p(w2 | w1) = c(w1,w2) / c(w1, ·) —
    * the count step of every n-gram LM / next-token statistic.
    * Bigram pairs come from zipping the token array against its
    * own tail (two static slices, no lambda); the denominator is a
    * window sum over the already-aggregated bigram counts, so the
    * corpus shuffles once on the bigram and once (tiny) on w1.
    */
  def bigramLm(s: SparkSession, d: String): DataFrame = {
    val w1Totals = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1"))
    documents(s, d)
      .select(tokens(col("text")).as("toks"))
      .select(explode(arrays_zip(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
        slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0)))))
        .as("bg"))
      .select(col("bg.0").as("w1"), col("bg.1").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
      .withColumn("p_w2_given_w1",
        col("n").cast("double") / sum(col("n")).over(w1Totals))
      .orderBy(desc("n"), asc("w1"), asc("w2"))
      .limit(50)
  }

  val bigramLmSql: String =
    """WITH t AS (
      |  SELECT list_filter(string_split_regex(text, '\s+'), x -> x != '')
      |           AS toks
      |  FROM documents
      |), bg AS (
      |  SELECT toks[i] AS w1, toks[i + 1] AS w2
      |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) u
      |), c AS (
      |  SELECT w1, w2, count(*) AS n FROM bg GROUP BY w1, w2
      |)
      |SELECT w1, w2, n,
      |       CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY w1)
      |         AS p_w2_given_w1
      |FROM c ORDER BY n DESC, w1 ASC, w2 ASC LIMIT 50""".stripMargin

  /** Repetition quality signals (the Gopher-rules shape): per doc, the
    * most frequent bigram and its count (a high top-bigram share marks
    * boilerplate/spam) plus the distinct-token count (type-token
    * ratio's numerator). Emits integers, not ratios — cross-engine
    * float-tie-proof; ratios derive downstream. Explode→per-doc count→
    * rank: bigram counting partials combine map-side and the rank
    * window partitions by doc_id, so work stays proportional to tokens
    * per doc regardless of corpus size.
    */
  def repetition(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .filter(col("n_tokens") >= 2)
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
    val counted = base
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        explode(expr("transform(sequence(0, size(toks) - 2)," +
          " i -> concat(toks[i], ' ', toks[i + 1]))")).as("bg"))
      .groupBy(col("doc_id"), col("n_tokens"), col("n_distinct"), col("bg"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("cnt").desc, col("bg"))
    counted.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("bg").as("top_bigram"), col("cnt").as("top_bigram_n"))
      .orderBy("doc_id")
  }

  val repetitionSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(text, '\s+'), x -> x != '')
      |           AS toks
      |  FROM documents
      |), b AS (
      |  SELECT doc_id, len(toks) AS n_tokens,
      |         len(list_distinct(toks)) AS n_distinct,
      |         unnest(list_transform(range(1, len(toks)),
      |                i -> toks[i] || ' ' || toks[i + 1])) AS bg
      |  FROM t WHERE len(toks) >= 2
      |), c AS (
      |  SELECT doc_id, n_tokens, n_distinct, bg, count(*) AS cnt
      |  FROM b GROUP BY ALL
      |), r AS (
      |  SELECT doc_id, n_tokens, n_distinct, bg, cnt,
      |         row_number() OVER (PARTITION BY doc_id
      |                            ORDER BY cnt DESC, bg) AS rk
      |  FROM c
      |)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |       CAST(n_distinct AS BIGINT) AS n_distinct,
      |       bg AS top_bigram, CAST(cnt AS BIGINT) AS top_bigram_n
      |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin

  /** Semi-structured metadata through Spark 4's VARIANT type: per-doc
    * metadata is serialized to a JSON sidecar (`to_json`), parsed into
    * VARIANT binary (`parse_json`), and typed values are pulled back
    * out with `variant_get` JSON-path extraction — including a nested
    * object field and an array index. This is the pretraining-metadata
    * shape (JSON sidecar columns of heterogeneous provenance info)
    * where VARIANT's binary encoding beats per-query string re-parsing
    * at scale: parse once at ingest, extract typed paths thereafter.
    * The whole pipeline is narrow (one projection chain under WSCG;
    * the only shuffle is the final small aggregate).
    *
    * The oracle computes the same aggregate straight from the typed
    * columns, so a divergence anywhere in the round trip
    * (serialization, variant encoding, path navigation, cast
    * semantics) breaks the hash.
    */
  def variantExtract(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        parse_json(to_json(struct(
          col("lang"),
          struct(col("source").as("name"), col("n_chars").as("chars"))
            .as("src"),
          array(col("lang"), col("source")).as("tags")))).as("meta"))
      .select(
        expr("variant_get(meta, '$.lang', 'string')").as("lang"),
        expr("variant_get(meta, '$.src.chars', 'long')").as("chars"),
        expr("variant_get(meta, '$.tags[1]', 'string')").as("tag_source"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chars")).as("sum_chars"),
        max(col("tag_source")).as("max_source"))
      .orderBy("lang")

  val variantExtractSql: String =
    """SELECT lang, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       max(source) AS max_source
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** First-occurrence n-gram novelty scoring: for every document, the
    * fraction of its distinct word 3-gram shingles whose FIRST
    * occurrence in the corpus (minimum doc_id over all documents
    * containing the shingle) is this document. The standard
    * curation-side novelty signal — a near-copy of earlier material
    * scores ~0, fresh text scores ~1 — and the set-level complement
    * of pairwise dedup: instead of asking "which pairs overlap", it
    * attributes every shingle to its canonical first owner and scores
    * each document by how much it contributed first.
    *
    * Plan shape at scale: ONE shingle-keyed min-aggregation over the
    * exploded per-doc distinct shingle sets (the same key the dedup
    * family shuffles on — salting-friendly, partial-agg collapses
    * duplicates map-side), then ONE doc-keyed count over the owner
    * relation. The per-doc denominator branch recomputes the shingle
    * expression over a second text scan — two aggregation keys with
    * no common exchange, so Spark cannot share the subtree, and
    * persisting the corpus-sized exploded relation to avoid a
    * constant-factor recompute is the worse trade at scale; the
    * amortized production path is [[noveltyIncremental]], whose
    * memoized owner index removes the rebuild entirely. There is
    * deliberately NO join back on the shingle key:
    * the per-doc denominator is just size(shingles) computed in the
    * scan projection, and the numerator is derivable from the
    * min-owner aggregate alone — the first formulation (join the
    * owner relation back onto the exploded shingles) re-shuffles the
    * whole exploded relation a second time and flips broadcast→SMJ
    * once the owner side outgrows the threshold (measured on the 10×
    * fixture decade: 775 MB shuffle + 1.4 GB sort spill at sf10 vs
    * 7.7 MB at sf1, byte-e ≈ 2.0; this formulation shuffles only the
    * map-combined shingle keys once and joins doc-sized relations).
    * All linear in total shingle volume; no pairwise anything.
    *
    * Float discipline: novelty = n_novel / n_shingles is exact
    * integers into ONE IEEE division (taxonomy case 1) — bit-identical
    * cross-engine, never rounded, never a sort key (order is doc_id,
    * unique). Every document emits at least one shingle (the
    * under-3-token fallback shingle is the whole text), so the output
    * is total: one row per document, no empty-set division.
    */
  def ngramNovelty(s: SparkSession, d: String): DataFrame =
    ngramNoveltyOf(documents(s, d))

  /** Core novelty scoring over any (doc_id, text) relation. */
  def ngramNoveltyOf(docsIn: DataFrame): DataFrame = {
    val docs = docsIn.select(col("doc_id"),
      Dedup.shingles(col("text")).as("sh"))
    val base = docs.select(col("doc_id"),
      size(col("sh")).cast("bigint").as("n_shingles"))
    val novel = docs
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    base.join(novel, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles").cast("double"))
      // Invariant filter (always true: counts are non-negative and a
      // doc cannot own more shingles than it has) — kept so a
      // row-count-only action still executes the real pipeline:
      // without it Catalyst proves `novel` unique on the join key,
      // eliminates the left join under count(), and prunes the whole
      // novelty computation down to a parquet metadata count — the
      // harness would then time an empty plan (explainc-verified).
      // A user counting documents should count `documents`, not this.
      .filter(col("novelty") >= 0.0 && col("n_novel") <= col("n_shingles"))
      .orderBy("doc_id")
  }

  /** One core replay for BOTH novelty oracles (they must stay in
    * lockstep — the incremental form IS the same computation plus a
    * delta predicate, and letting two near-identical strings drift
    * would silently break the merge ≡ rebuild relationship). The
    * WHERE mirrors the Spark side's always-true invariant filter so
    * both query texts agree that it is part of the contract.
    */
  private def noveltySqlCore(extraWhere: String): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${Dedup.shinglesSql} AS sh
       |  FROM (SELECT doc_id,
       |               list_filter(string_split_regex(text, '\\s+'),
       |                           x -> x != '') AS toks
       |        FROM documents)
       |), ex AS (
       |  SELECT doc_id, unnest(sh) AS s FROM t
       |), own AS (
       |  SELECT s, min(doc_id) AS doc_id FROM ex GROUP BY s
       |), novel AS (
       |  SELECT doc_id, count(*) AS n_novel FROM own GROUP BY doc_id
       |)
       |SELECT t.doc_id, CAST(len(t.sh) AS BIGINT) AS n_shingles,
       |       CAST(coalesce(novel.n_novel, 0) AS BIGINT) AS n_novel,
       |       CAST(coalesce(novel.n_novel, 0) AS DOUBLE)
       |         / CAST(len(t.sh) AS DOUBLE) AS novelty
       |FROM t LEFT JOIN novel ON t.doc_id = novel.doc_id
       |WHERE coalesce(novel.n_novel, 0) BETWEEN 0 AND len(t.sh)$extraWhere
       |ORDER BY t.doc_id""".stripMargin

  val ngramNoveltySql: String = noveltySqlCore("")

  /** Incremental novelty scoring — the daily-ingest form of
    * [[ngramNovelty]]: score TODAY'S batch ([[Delta.Documents]], the
    * LSH and clustering paths' batch) against everything already
    * seen, where "seen" is a memoized FIRST-OWNER INDEX (shingle →
    * min doc_id over the base corpus) built once per corpus and
    * re-read thereafter. The merged owner per shingle is
    * min(base owner, delta-internal min) = the min over the WHOLE
    * corpus, so the emitted scores are provably identical to the full
    * rebuild restricted to the delta — the oracle replays the
    * full-corpus computation with a delta predicate, making merge ≡
    * rebuild a hash-checked fact (the dedup_lsh_incremental
    * discipline), and NoveltySpec asserts it against
    * [[ngramNoveltyOf]] directly.
    *
    * Plan shape at scale: the delta text scan is the ONLY text scan;
    * the delta's shingle-min relation is small (one day's batch), so
    * the owner-index join broadcasts the DELTA side and STREAMS the
    * index columnar scan map-side — the corpus-sized index is never
    * shuffled, never re-derived. Daily cost ∝ delta shingles + one
    * index scan (co-locatable by bucketing the index on the shingle
    * key at cluster scale). Same aggregate-only form as the base
    * query — no shingle-keyed join-back, and the same always-true
    * invariant filter so the as-counted plan is the real plan.
    */
  def noveltyIncremental(s: SparkSession, d: String): DataFrame = {
    val owners = graft.util.ScratchIndex.materialize(
        s, Delta.Documents.key("novowner", d)) {
      Delta.Documents.base(documents(s, d))
        .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("s"))
        .groupBy(col("s")).agg(min(col("doc_id")).as("base_owner"))
    }
    val delta = Delta.Documents.batch(documents(s, d))
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
    val base = delta.select(col("doc_id"),
      size(col("sh")).cast("bigint").as("n_shingles"))
    val deltaMin = delta
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(min(col("doc_id")).as("delta_min"))
    val novel = deltaMin.join(owners, Seq("s"), "left")
      // a delta doc owns the shingle iff it beats every base owner
      // (a missing base row means the shingle is delta-new)
      .filter(col("base_owner").isNull
        || col("delta_min") < col("base_owner"))
      .groupBy(col("delta_min").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    base.join(novel, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles").cast("double"))
      .filter(col("novelty") >= 0.0 && col("n_novel") <= col("n_shingles"))
      .orderBy("doc_id")
  }

  /** Full-corpus replay restricted to the delta: the merged owner of
    * a shingle is the min over ALL docs, so the incremental path must
    * reproduce these rows exactly — the oracle IS the merge ≡ rebuild
    * proof.
    */
  val noveltyIncrementalSql: String =
    noveltySqlCore(" AND t.doc_id % 10 = 7")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_novelty_incremental" -> (noveltyIncremental _),
    "text_ngram_novelty" -> (ngramNovelty _),
    "text_variant"      -> (variantExtract _),
    "text_repetition"   -> (repetition _),
    "text_postings"     -> (postings _),
    "text_bigram_lm"    -> (bigramLm _),
    "text_bpe_tokens"   -> (bpeTokens _),
    "text_tfidf"        -> (tfIdf _),
    "text_top_shingles" -> (topShingles _),
    "text_quality"    -> (textQuality _),
    "text_lang_id"    -> (langId _),
    "text_token_count" -> (tokenCount _),
    "text_fingerprint" -> (fingerprint _),
  )

  val oracle: Map[String, String] = Map(
    "text_novelty_incremental" -> noveltyIncrementalSql,
    "text_ngram_novelty" -> ngramNoveltySql,
    "text_variant"      -> variantExtractSql,
    "text_repetition"   -> repetitionSql,
    "text_postings"     -> postingsSql,
    "text_bigram_lm"    -> bigramLmSql,
    "text_bpe_tokens"   -> bpeTokensSql,
    "text_tfidf"        -> tfIdfSql,
    "text_top_shingles" -> topShinglesSql,
    "text_quality"    -> textQualitySql,
    "text_lang_id"    -> langIdSql,
    "text_token_count" -> tokenCountSql,
    "text_fingerprint" -> fingerprintSql,
  )
}
