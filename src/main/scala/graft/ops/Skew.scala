package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Delta
import graft.util.Tables._

/** Skew-handling and sketch aggregates.
  *
  * `saltedAgg` is the canonical hot-key pattern: lineitem grouped by
  * l_returnflag has only 3 keys, so a direct groupBy concentrates all
  * 600k rows (100 TB: billions) onto 3 reducers. Salting splits each
  * key into 16 sub-keys for the partial aggregate, then merges the
  * partials in a second (tiny) aggregate — the classic two-phase
  * rewrite AQE's skew mitigation automates for joins but NOT for
  * aggregations with low-cardinality keys. The result is bit-identical
  * to the direct groupBy (associative aggregates only), which is
  * exactly what the DuckDB oracle checks.
  */
object Skew {

  private val SaltBuckets = 16

  def saltedAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      // deterministic salt (not rand(): reproducible plans, and the
      // line number is already uniformly distributed)
      .withColumn("salt", pmod(col("l_orderkey") * 31 + col("l_linenumber"),
        lit(SaltBuckets)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(
        sum(col("l_quantity")).as("p_qty"),
        count(lit(1)).as("p_n"),
        max(col("l_extendedprice")).as("p_max"))
      .groupBy(col("l_returnflag"))
      .agg(
        round(sum(col("p_qty")), 2).as("sum_qty"),
        sum(col("p_n")).as("n"),
        max(col("p_max")).as("max_price"))
      .orderBy("l_returnflag")

  val saltedAggSql: String =
    """SELECT l_returnflag,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       count(*) AS n,
      |       max(l_extendedprice) AS max_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Sketch aggregates: HyperLogLog++ distinct counts and quantile
    * sketches — the 100-TB substitutes for exact countDistinct /
    * median. Approximate by construction → rows-only for the driver;
    * SkewSketchSpec bounds the error against exact values. (HLL
    * register-max merging is partition-order-independent; the
    * percentile sketch is NOT — its exact value can shift with
    * parallelism, verified empirically — which is precisely why this
    * query is excluded from the hash oracle.)
    */
  def sketchAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.02)
          .as("approx_orders"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("approx_median_price"))
      .orderBy("l_returnflag")

  /** Runtime bloom-filter join pruning: a selective creation side
    * (filtered orders) injects a `might_contain` bloom probe into the
    * lineitem scan, discarding non-joining rows BEFORE the shuffle —
    * at 100 TB this is the difference between shuffling the whole
    * fact table and shuffling the ~1% that can match.
    *
    * Spark only injects when the creation side is NOT broadcastable,
    * so broadcast is disabled for the duration of this query's
    * EXECUTION (hence the materialize-inside / restore-conf dance —
    * plans re-optimize at action time) and restored after. The bloom
    * plan is asserted in SkewSketchSpec; results are exact (bloom is
    * false-positive-only, the join re-checks), so the oracle is plain
    * SQL.
    */
  def bloomJoin(s: SparkSession, d: String): DataFrame =
    graft.util.Confs.withConfs(s)(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val out = bloomJoinPlan(s, d)
      // materialize while the confs are live (optimization happens at
      // action time, not DataFrame-construction time)
      val rows = out.collect().toSeq
      s.createDataFrame(
        new java.util.ArrayList(scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), out.schema)
    }

  /** The lazy plan (separate so the spec can explain() it under the
    * bloom confs).
    */
  private[graft] def bloomJoinPlan(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(
        orders(s, d).filter(col("o_orderpriority") === "1-URGENT"
          && col("o_totalprice") > 80000.0),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy("o_orderpriority")

  val bloomJoinSql: String =
    """SELECT o_orderpriority, count(*) AS n_lines,
      |       round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 80000.0
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** AQE skew-join mitigation: a join key where ~80% of the fact rows
    * collapse onto one value — the shape where one straggler reducer
    * dominates the stage. With skew-join handling on (and broadcast
    * off, so a shuffle join actually happens), AQE splits the
    * oversized partition into parallel sub-joins at runtime
    * (`AQEShuffleRead ... skewed` in the final plan — spec-asserted).
    * Results are exact either way, so the oracle is plain SQL; the
    * point is the PLAN under skew, the complement of saltedAgg's
    * manual rewrite for aggregations.
    */
  def skewJoinAqe(s: SparkSession, d: String): DataFrame =
    // every key set here is snapshot+restored (or unset) by withConfs
    // — a leaked skewJoin.* knob would change AQE planning for every
    // query that runs after this one on the shared session
    graft.util.Confs.withConfs(s)(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // skew splits happen at per-mapper shuffle-block granularity: a
      // single-file scan = one map task = one unsplittable block per
      // reducer. Shrink input splits so the map stage has real width
      // (a no-op at cluster scale, where the scan is already wide).
      "spark.sql.files.maxPartitionBytes" -> "1MB",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256KB",
      // the post-join agg would otherwise veto the split (it forces an
      // extra exchange); at real scale the trade is clearly worth it
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true") {
      val out = skewJoinAqePlan(s, d)
      val rows = out.collect().toSeq // optimize+execute under skew confs
      s.createDataFrame(
        new java.util.ArrayList(scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), out.schema)
    }

  /** The lazy plan (separate so the spec can run it under the skew
    * confs and inspect the final adaptive plan).
    *
    * The dimension side is MATERIALIZED to parquet first:
    * OptimizeSkewedJoin pattern-matches SMJ(Sort(Shuffle),
    * Sort(Shuffle)) exactly, and an aggregate (e.g. an inline
    * `distinct()`) between the Sort and the shuffle stage vetoes the
    * rewrite. A precomputed dimension table is also the realistic
    * shape of this join at scale.
    */
  private[graft] def skewJoinAqePlan(s: SparkSession, d: String): DataFrame = {
    val skewKey = when(pmod(col("user_id"), lit(10)) < 8, 0L)
      .otherwise(col("user_id"))
    val dimPath = graft.util.ScratchIndex
      .dir(s"skew_dim_${graft.util.ScratchIndex.corpusTag(d)}").toString
    events(s, d).select(skewKey.as("k")).distinct()
      .withColumn("k_tag", concat(lit("u"), col("k")))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dimPath)
    // skew splits operate on per-mapper shuffle blocks; the testdata
    // is a single parquet row group (one map task), so widen the map
    // stage explicitly — on a cluster the scan is already this wide
    val fact = events(s, d).select(skewKey.as("k"), col("value"))
      .repartition(8)
    fact.join(s.read.parquet(dimPath), Seq("k"))
      .groupBy(col("k"), col("k_tag"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .orderBy("k").limit(20)
  }

  val skewJoinAqeSql: String =
    """WITH e AS (
      |  SELECT CASE WHEN user_id % 10 < 8 THEN 0 ELSE user_id END AS k,
      |         value
      |  FROM events
      |)
      |SELECT k, 'u' || CAST(k AS VARCHAR) AS k_tag, count(*) AS n,
      |       round(sum(value), 4) AS sum_value
      |FROM e GROUP BY k ORDER BY k LIMIT 20""".stripMargin

  /** Mergeable-sketch rollup: per-day HyperLogLog SKETCHES of
    * distinct users per event type (Spark 4's datasketches-backed
    * hll_sketch_agg), then the monthly distinct-user estimate via
    * hll_union_agg over the daily sketches — NEVER re-reading the
    * raw data. This reaggregability is the core 100-TB pattern: daily
    * sketches are bytes, union is cheap, and any time-range rollup
    * derives from stored sketches instead of a full-scan
    * countDistinct. Estimates are deterministic for fixed data +
    * lgConfigK but not DuckDB-replayable → rows-only; SkewSketchSpec
    * bounds them against the exact counts and asserts
    * union-of-daily ≡ sketch-of-whole (register-max merge identity).
    */
  def hllRollup(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .withColumn("day", expr("ts_us div 86400000000"))
      .groupBy(col("event_type"), col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"),
        count(lit(1)).as("n"))
    daily.groupBy(col("event_type"))
      .agg(
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("approx_users_merged"),
        count(lit(1)).as("n_days"),
        sum(col("n")).as("n_events"))
      .join(
        events(s, d).groupBy(col("event_type"))
          .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
            .as("approx_users_direct"),
            countDistinct(col("user_id")).as("exact_users")),
        Seq("event_type"))
      .orderBy("event_type")
  }

  /** KLL `k` of `sketch_kll_rollup` and `stream_quantile_sketch`:
    * about 1.65% normalized rank error at 99% confidence.
    */
  private[graft] val KllK = 200

  /** Mergeable-QUANTILE-sketch rollup — the percentile counterpart of
    * `hllRollup`, via Spark's datasketches-backed `kll_sketch_agg_double`
    * / `kll_merge_agg_double` pair: per-day KLL sketches of the value
    * distribution per event type, merged into the full-window sketch
    * WITHOUT re-reading raw data, then p50/p90/p99 estimates read from
    * the merged sketch.
    * Exact percentiles at 100 TB need a global sort per group; a KLL
    * sketch is a few KB with a proven ~1.65% rank-error bound and —
    * unlike percentile_approx, whose result shifts with partition
    * count — merges associatively, so stored daily sketches answer any
    * time-range percentile after the fact. Estimates are approximate →
    * rows-only for the driver; SkewSketchSpec proves each reported
    * quantile's EXACT rank lands within the KLL bound and that the
    * daily-merge path agrees with a direct whole-window sketch.
    */
  def kllRollup(s: SparkSession, d: String): DataFrame = {
    def q(rank: Double): Column =
      round(kll_sketch_get_quantile_double(col("sk"), lit(rank)), 6)
    val daily = events(s, d)
      .withColumn("day", expr("ts_us div 86400000000"))
      .groupBy(col("event_type"), col("day"))
      .agg(kll_sketch_agg_double(col("value"), KllK).as("sk"),
        count(lit(1)).as("n"))
    daily.groupBy(col("event_type"))
      .agg(kll_merge_agg_double(col("sk"), KllK).as("sk"),
        sum(col("n")).as("n_events"), count(lit(1)).as("n_days"))
      .select(col("event_type"), col("n_events"), col("n_days"),
        q(0.5).as("approx_p50"), q(0.9).as("approx_p90"),
        q(0.99).as("approx_p99"))
      .orderBy("event_type")
  }

  /** Count-min-sketch heavy-hitter probe: build one CMS over the
    * full event stream (distributed, mergeable — `DataFrameStat
    * Functions.countMinSketch` reduces per-partition sketches), then
    * read estimated frequencies for a fixed probe set of users next
    * to their exact counts. The sketch is ~eps⁻¹·ln(1/δ) counters
    * regardless of stream size — the at-scale substitute for exact
    * per-key counts when keys don't fit memory. Deterministic for a
    * fixed seed → rows-only; the spec asserts the one-sided CMS
    * guarantee (estimate ≥ exact, ≤ exact + eps·N).
    */
  def cmsProbe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
    val cms = ev.stat.countMinSketch(
      col("user_id"), eps = 0.001, confidence = 0.99, seed = 42)
    val probes = (0L until 20L).map(u => (u, cms.estimateCount(Long.box(u))))
      .toDF("user_id", "cms_count")
    ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_count"))
      .join(probes, Seq("user_id"), "right")
      .select(col("user_id"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"),
        col("cms_count"))
      .orderBy("user_id")
  }

  /** Heavy hitters via Spark 4's reaggregable approx_top_k sketch.
    * Parameterized so the sketch is provably EXACT here (maxItemsTracked
    * = 64 ≥ distinct event types), which turns the usual rows-only
    * sketch check into a full hash-match against the exact GROUP BY
    * oracle. The 100 TB story is the accumulate/combine/estimate
    * split (asserted ≡ this single-shot form in SkewSketchSpec):
    * per-partition sketches combine associatively, so top-k runs as
    * one partial-agg pass — no shuffle of raw keys, and per-day
    * sketches roll up to any window after the fact.
    */
  def topkSketch(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"))
      .agg(expr("approx_top_k(event_type, 8, 64)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("event_type"), col("e.count").as("cnt"))
      .orderBy(col("cnt").desc, col("event_type"))

  val topkSketchSql: String =
    """SELECT event_type, count(*) AS cnt FROM events
      |GROUP BY event_type ORDER BY cnt DESC, event_type LIMIT 8""".stripMargin

  /** log2 of the nominal entries of `sketch_theta_ops`' theta
    * sketches: 2^12 = 4,096 entries, relative standard error
    * 1/√4096 ≈ 1.6% once a set outgrows the exact mode.
    */
  private[graft] val ThetaLgK = 12

  /** Theta-sketch SET ALGEBRA over distinct users per event type —
    * the audience-overlap / funnel-conversion primitive: "distinct
    * users who viewed AND purchased" is NOT computable from
    * per-segment HLL counts (HLL only unions; inclusion-exclusion
    * subtraction amplifies error), but theta sketches retain a
    * uniform hash sample of the distinct set, so union, intersection
    * and difference compose sketch-to-sketch over stored summaries —
    * no raw-data re-read, any segment pair answerable after the
    * fact. One plan over one scan of `events`: a single aggregate
    * builds each pinned type's `theta_sketch_agg` sketch (partial
    * sketches merge associatively, no shuffle of raw keys), and
    * Spark's `theta_union` / `theta_intersection` / `theta_difference`
    * answer the pinned pairs on that one row. A pinned type with no
    * events fails the query with `raise_error`, naming the type, so
    * building the plan starts no job. Estimates are approximate ⇒
    * rows-only; SkewSketchSpec pins each estimate against the exact
    * distinct sets within the published RSE bound.
    */
  def thetaOps(s: SparkSession, d: String): DataFrame = {
    val pairs = Seq(("view", "purchase"), ("view", "click"),
      ("signup", "purchase"))
    val types = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val perType = types.flatMap { t =>
      val ids = when(col("event_type") === t, col("user_id"))
      Seq(theta_sketch_agg(ids, ThetaLgK).as(t), count(ids).as(s"n_$t"))
    }
    def sketch(t: String): Column = when(col(s"n_$t") > 0, col(t))
      .otherwise(raise_error(
        lit(s"sketch_theta_ops: pinned event type '$t' has no events")))
    val est = theta_sketch_estimate(_: Column)
    events(s, d).agg(perType.head, perType.tail: _*)
      .select(explode(array(pairs.map { case (a, b) =>
        val (ska, skb) = (sketch(a), sketch(b))
        struct(lit(a).as("type_a"), lit(b).as("type_b"),
          est(ska).as("n_a"), est(skb).as("n_b"),
          est(theta_union(ska, skb, ThetaLgK)).as("n_union"),
          est(theta_intersection(ska, skb)).as("n_intersect"),
          est(theta_difference(ska, skb)).as("n_a_not_b"))
      }: _*)).as("pair"))
      .select("pair.*")
      .orderBy("type_a", "type_b")
  }

  /** Nominal entry capacity of [[thetaPortable]] sketches. 64 keeps
    * the gate corpora (~600 / ~6000 distinct parts per ship-month at
    * sf0.01 / sf0.1) firmly in ESTIMATION mode while the sf0.001 spec
    * fixture (48–76 parts per month) straddles K and exercises the
    * exact branch (theta = M) and MIXED exact/estimated pairs too.
    */
  private[graft] val ThetaK = 64
  /** Hash-space size for [[thetaPortable]]: 2^48 (12 md5 hex chars). */
  private[graft] val ThetaM = 281474976710656L
  private[graft] val ThetaShards = 32L

  /** The md5-derived 48-bit sketch hash — shared with SkewSketchSpec
    * so the replay proof exercises the SHIPPED hash (the
    * [[cmsBucketOf]] discipline).
    */
  private[graft] def thetaHashOf(key: Column): Column =
    conv(substring(md5(concat_ws(":", lit("th"), key)), 1, 12), 16, 10)
      .cast("long")

  /** ENGINE-PORTABLE theta sketch with full set algebra — the
    * portable-hash complement to [[thetaOps]] (which demonstrates the
    * classic datasketches-style binary sketch and is rows-only
    * because its murmur-seeded hashes don't replay cross-engine).
    * Because the sketch hash here is a deterministic md5 function
    * (the [[cmsBucketOf]] / simhash precedent), the ENTIRE lifecycle
    * — build, trim, theta threshold, union, intersection, difference,
    * estimate — replays in DuckDB and the query takes a FULL hash
    * oracle: the oracle pins the retained-entry counts, the theta
    * thresholds, and the estimates themselves, not an error band.
    *
    * Sketch form (standard theta/KMV, public: Dasgupta et al., "Theta
    * sketch framework"): per segment, hash every distinct member into
    * [0, M) and retain the K smallest distinct hash values; theta =
    * the (K+1)-th smallest when the segment overflows K (every
    * retained value is < theta and the retained set is COMPLETE below
    * theta), else M. Estimate = n_retained · M / theta — exact when
    * theta = M. Set algebra composes sketch-to-sketch over the shared
    * completeness region θ_min = min(θ_a, θ_b): union / intersection /
    * difference counts below θ_min scale by M / θ_min. All counts and
    * thresholds are exact integers; each estimate is ONE fixed
    * multiply-then-divide over exact integers (the modularity float
    * discipline) — bit-identical cross-engine, never a sort key.
    *
    * The demonstration workload is part-assortment rotation: distinct
    * parts SHIPPED in month A vs month B (segments = ship months,
    * members = part keys — ~600 parts/month with ~30% pairwise
    * overlap at sf0.01, so union/intersection/difference are all
    * non-degenerate; the events user domain is deliberately NOT used
    * — every user hits every event type in this corpus, which would
    * collapse the algebra to identity). One adjacent-month pair, one
    * adjacent pair two years later, and one three-years-apart pair.
    *
    * Plan shape at scale: the only corpus-sized step is the distinct
    * (segment, hash) projection (map-side partial dedup, one shuffle
    * of the distinct set). Everything downstream is bounded: a
    * two-level bottom-(K+1) — a shard-local window trim to ≤ K+1 rows
    * per (segment, hash mod 32) bounds what the per-segment window
    * sorts to ≤ 32·(K+1) rows — then all pair algebra runs on ≤ K
    * rows per segment via broadcast joins. At 100 TB the shard trim
    * IS the mergeability story: per-partition bottom-(K+1) candidates
    * combine associatively, exactly like a distributed theta union;
    * raw member ids are never shuffled past the initial dedup.
    */
  /** The three demonstration month pairs for [[thetaPortable]] —
    * shared with the spec replay (months exist at every sf dir; the
    * lineitem ship dates span 1995-01..2001-10).
    */
  private[graft] val ThetaPairs =
    Seq(("1995-03", "1995-04"), ("1995-03", "1998-06"),
      ("1997-03", "1997-04"))

  /** The stored sketch table: one (seg, h, theta) row per retained
    * entry, MEMOIZED per corpus — this is the theta sketch's actual
    * deployment shape (build the summary once, answer any later
    * segment-pair question from the summary without re-reading raw
    * data), and it is also what keeps the plan scale-safe: without
    * it every pair branch (union/intersect/difference × 3 pairs)
    * re-ran the corpus-sized distinct + window chain — measured
    * 14 GB of repeated sort spill at the sf10 fixture; with the
    * summary memoized the corpus is scanned ONCE and the algebra
    * reads back ≤ (K+1)·|segments| columnar rows (0 spill, see
    * SCALING.md Round-15).
    */
  /** The (seg, h) member-hash projection of a lineitem relation —
    * the ONLY corpus-sized step of any sketch build. NOT deduplicated
    * here: [[thetaSummaryOf]]'s bottom-k aggregate is distinct by
    * construction, so a distinct() at this level would only add the
    * corpus-wide exchange the aggregate exists to avoid.
    */
  private def thetaDsetOf(li: DataFrame): DataFrame =
    li.select(date_format(col("l_shipdate"), "yyyy-MM").as("seg"),
      thetaHashOf(col("l_partkey")).as("h"))

  /** The bottom-(K+1) distinct trim + theta threshold over a (seg, h)
    * relation — shared by the full-corpus sketch build and the
    * base/delta builds of the incremental path, so all three
    * summaries are definitionally the same sketch of their inputs.
    *
    * One typed aggregate per segment (functions/BottomK.scala)
    * replaces the r17 distinct() + two-row_number-window ladder: the
    * old plan shuffled every distinct (seg, h) pair of the corpus and
    * sorted it twice; this one partial-aggregates map-side, so the
    * exchange carries ≤ (K+1)·|segments| rows per scan task at any
    * corpus size (guide §2.3). Output is IDENTICAL by construction:
    * the ascending bottom array's (K+1)-th entry is exactly the old
    * plan's kth1 (theta when the segment overflowed), and the first
    * K entries are exactly the rows strictly below it; under K+1
    * distinct members theta stays M and everything is retained.
    */
  private def thetaSummaryOf(dset: DataFrame): DataFrame = {
    val kk = ThetaK + 1
    val bottomK = udaf(
      graft.functions.BottomK.BottomKDistinctLongs(kk),
      org.apache.spark.sql.Encoders.scalaLong)
    dset.groupBy(col("seg"))
      .agg(bottomK(col("h")).as("bot"))
      .select(col("seg"),
        when(size(col("bot")) === kk, element_at(col("bot"), kk))
          .otherwise(lit(ThetaM)).as("theta"),
        explode(when(size(col("bot")) === kk,
            slice(col("bot"), 1, ThetaK))
          .otherwise(col("bot"))).as("h"))
      .select(col("seg"), col("h"), col("theta"))
  }

  private[graft] def thetaSketchTable(s: SparkSession, d: String): DataFrame =
    graft.util.ScratchIndex.materialize(
        s, s"thetask_v1_${graft.util.ScratchIndex.corpusTag(d)}") {
      thetaSummaryOf(thetaDsetOf(lineitem(s, d)))
    }

  def thetaPortable(s: SparkSession, d: String): DataFrame =
    thetaPairAlgebra(s, thetaSketchTable(s, d))

  /** The pair set-algebra half of the query, over ANY (seg, h, theta)
    * summary — shared by [[thetaPortable]] (summary built from the
    * full corpus) and [[thetaIncremental]] (summary maintained by
    * folding a delta sketch into the persisted base sketch), so the
    * two queries differ ONLY in summary provenance, exactly the
    * ivfAnswer discipline.
    */
  private[graft] def thetaPairAlgebra(s: SparkSession, sk0: DataFrame): DataFrame = {
    val sk = sk0
    // every pinned month must have a sketch: the pair joins below are
    // inner, so a month emptied by a fixture regen would SILENTLY drop
    // its pairs — and the oracle's identical inner joins would agree
    // on the truncated result, hiding the regression from the hash
    // gate (ADVICE r15). The summary is bounded (≤ K+1 rows/segment),
    // so this driver-side guard costs one scan of a tiny relation.
    val months = ThetaPairs.flatMap(p => Seq(p._1, p._2)).distinct
    val present = sk.select(col("seg")).distinct()
      .filter(col("seg").isin(months: _*)).count()
    require(present == months.size,
      s"theta sketch: only $present of ${months.size} pinned months have " +
        "sketches — refusing to emit a silently truncated pair table")
    val ret = sk.select(col("seg"), col("h"))
    // every retained row of a segment carries the segment's theta
    val theta = sk.select(col("seg"), col("theta")).distinct()
    val perSeg = ret.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_ret"))
    val pairs = {
      import s.implicits._
      ThetaPairs.toDF("month_a", "month_b")
    }
    val base = pairs
      .join(broadcast(theta.toDF("month_a", "theta_a")), "month_a")
      .join(broadcast(theta.toDF("month_b", "theta_b")), "month_b")
      .join(broadcast(perSeg.toDF("month_a", "n_a")), "month_a")
      .join(broadcast(perSeg.toDF("month_b", "n_b")), "month_b")
      .withColumn("theta_min", least(col("theta_a"), col("theta_b")))
    val sideA = pairs.join(ret.toDF("month_a", "h"), "month_a")
      .select(col("month_a"), col("month_b"), col("h"))
    val sideB = pairs.join(ret.toDF("month_b", "h"), "month_b")
      .select(col("month_a"), col("month_b"), col("h"))
    val thetaMin = broadcast(
      base.select(col("month_a"), col("month_b"), col("theta_min")))
    def below(df: DataFrame): DataFrame =
      df.join(thetaMin, Seq("month_a", "month_b"))
        .filter(col("h") < col("theta_min"))
        .select(col("month_a"), col("month_b"), col("h"))
    val uni = below(sideA.unionAll(sideB).distinct())
      .groupBy(col("month_a"), col("month_b"))
      .agg(count(lit(1)).as("n_union"))
    val inter = below(sideA.join(sideB, Seq("month_a", "month_b", "h"),
        "left_semi"))
      .groupBy(col("month_a"), col("month_b"))
      .agg(count(lit(1)).as("n_intersect"))
    val anotb = below(sideA.join(sideB, Seq("month_a", "month_b", "h"),
        "left_anti"))
      .groupBy(col("month_a"), col("month_b"))
      .agg(count(lit(1)).as("n_a_not_b"))
    def est(n: Column, th: Column): Column =
      (n.cast("double") * lit(ThetaM)) / th.cast("double")
    // the pair aggregates are provably ≤ |pairs| rows but sit above
    // corpus-sized scans, so Catalyst size-estimates them as large
    // and flips these finals to SMJ past a decade (the cur_k_anonymize
    // plan-drift lesson) — pin the promised broadcasts explicitly
    base
      .join(broadcast(uni), Seq("month_a", "month_b"), "left")
      .join(broadcast(inter), Seq("month_a", "month_b"), "left")
      .join(broadcast(anotb), Seq("month_a", "month_b"), "left")
      .na.fill(0L, Seq("n_union", "n_intersect", "n_a_not_b"))
      .select(col("month_a"), col("month_b"),
        col("n_a"), col("theta_a"), col("n_b"), col("theta_b"),
        col("n_union"), col("n_intersect"), col("n_a_not_b"),
        col("theta_min"),
        est(col("n_a"), col("theta_a")).as("est_a"),
        est(col("n_b"), col("theta_b")).as("est_b"),
        est(col("n_union"), col("theta_min")).as("est_union"),
        est(col("n_intersect"), col("theta_min")).as("est_intersect"))
      // Invariant filter (always true: the union of two sets is at
      // least as large as their intersection AND their difference,
      // and theta is positive) — the pair aggregates are unique-keyed
      // on (month_a, month_b), so any aggregate whose columns this
      // filter does NOT reference gets its join eliminated under a
      // count() action (the text_ngram_novelty / cms lesson; the
      // n_a_not_b conjunct was added after a self-review caught the
      // difference branch being pruned from the as-counted plan).
      .filter(col("n_union") >= col("n_intersect")
        && col("n_union") >= col("n_a_not_b")
        && col("theta_min") >= lit(1L))
      .orderBy("month_a", "month_b")
  }

  /** Incremental theta-sketch maintenance (VERDICT r15 #3) — the
    * ingestion path of a sketch summary at 100 TB, where the daily
    * batch must fold into yesterday's summary without re-scanning
    * base history. The shard trim's own associativity note IS the
    * algorithm: per-partition bottom-(K+1) candidates combine
    * associatively, so a sketch OF the base and a sketch OF the delta
    * merge into the sketch of their union (the theta framework's
    * union, restricted to the shared completeness region):
    *
    *  - θ_min = min(θ_base, θ_delta) (absent side = empty sketch,
    *    θ = M) — both retained sets are COMPLETE below θ_min;
    *  - candidates = distinct retained hashes of either side below
    *    θ_min — exactly the union's members below θ_min;
    *  - if ≥ K+1 candidates, the merged θ is the (K+1)-th smallest
    *    (the union overflowed further), else θ_min stands; retain
    *    strictly below.
    *
    * Merged ≡ rebuilt EXACTLY — not approximately — because every
    * case reduces to "the union's distinct hashes below the rebuilt
    * θ are recoverable from the two retained sets" (θ_base is itself
    * a member hash of the base, so the rebuilt (K+1)-th smallest is
    * either a candidate or θ_min; SkewSketchSpec proves summary
    * equality row-for-row and the DuckDB oracle — which rebuilds from
    * the FULL corpus — hashes the merged query's answers).
    *
    * Cost shape: the daily job scans the DELTA once (its sketch
    * build); the fold itself touches two ≤ (K+1)·|segments| summaries
    * — bounded work, zero base re-scan, the dedup_lsh_incremental /
    * graph_degree_incremental discipline. The split is
    * [[Delta.Lineitem]], the graph paths' batch.
    */
  /** Yesterday's summary: sketch of base lineitem, persisted once per
    * corpus (the summary table a real pipeline reads, never rebuilds).
    */
  private[graft] def thetaBaseSketchTable(s: SparkSession, d: String): DataFrame =
    graft.util.ScratchIndex.materialize(s, Delta.Lineitem.key("thetabase", d)) {
      thetaSummaryOf(thetaDsetOf(Delta.Lineitem.base(lineitem(s, d))))
    }

  /** Today's sketch: built from the delta rows only — the single
    * corpus-touching step of the daily update (the ivfdelta
    * precedent; memoized so steady-state measurements time the fold,
    * not repeated delta extraction).
    */
  private[graft] def thetaDeltaSketchTable(s: SparkSession, d: String): DataFrame =
    graft.util.ScratchIndex.materialize(s, Delta.Lineitem.key("thetadelta", d)) {
      thetaSummaryOf(thetaDsetOf(Delta.Lineitem.batch(lineitem(s, d))))
    }

  /** The fold: two (seg, h, theta) summaries → the merged summary.
    * Pure bounded-relation algebra — both inputs are ≤ (K+1)·|segs|
    * rows; nothing here ever touches raw data.
    */
  private[graft] def thetaMergeSummaries(a: DataFrame, b: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kk = lit(ThetaK + 1)
    val m = lit(ThetaM)
    val thMin = a.select(col("seg"), col("theta")).distinct()
      .toDF("seg", "theta_a")
      .join(b.select(col("seg"), col("theta")).distinct()
        .toDF("seg", "theta_b"), Seq("seg"), "full_outer")
      .select(col("seg"),
        least(coalesce(col("theta_a"), m), coalesce(col("theta_b"), m))
          .as("theta_min"))
    // candidates: the union's distinct members below θ_min — complete
    // there because each retained set is complete below its own θ
    val cand = a.select(col("seg"), col("h"))
      .unionAll(b.select(col("seg"), col("h"))).distinct()
      .join(broadcast(thMin), "seg")
      .filter(col("h") < col("theta_min"))
    val wSeg = Window.partitionBy(col("seg")).orderBy(col("h"))
    val thNew = cand
      .withColumn("rn", row_number().over(wSeg))
      .groupBy(col("seg"))
      .agg(max(when(col("rn") === kk, col("h"))).as("kth1"),
        max(col("theta_min")).as("theta_min"))
      .select(col("seg"),
        least(col("theta_min"), coalesce(col("kth1"), m)).as("theta"))
    cand.select(col("seg"), col("h"))
      .join(broadcast(thNew), "seg")
      .filter(col("h") < col("theta"))
      .select(col("seg"), col("h"), col("theta"))
  }

  /** The folded summary is PERSISTED like the one it replaces — a
    * daily job's output IS the updated summary table (and without
    * this the pair algebra's ~10 branches each re-execute the fold:
    * bounded data, but the same per-branch-re-scan shape whose
    * corpus-sized version cost 14 GB of spill pre-memoization).
    */
  private[graft] def thetaMergedSketch(s: SparkSession, d: String): DataFrame =
    graft.util.ScratchIndex.materialize(s, Delta.Lineitem.key("thetamerged", d)) {
      thetaMergeSummaries(thetaBaseSketchTable(s, d),
        thetaDeltaSketchTable(s, d))
    }

  /** The same pair-algebra answers, served from the incrementally
    * maintained summary. Oracle: the SAME full-corpus rebuild SQL as
    * [[thetaPortable]] — DuckDB re-derives the summary from base ∪
    * delta, so a full hash match IS the merge ≡ rebuild proof at the
    * gate scales.
    */
  def thetaIncremental(s: SparkSession, d: String): DataFrame =
    thetaPairAlgebra(s, thetaMergedSketch(s, d))

  /** Same sketch lifecycle, relationally replayed: identical md5
    * hashes, identical two-level bottom-(K+1) trim, identical theta
    * thresholds and set algebra, the same multiply-then-divide
    * estimate expression — full sketch-level equality.
    */
  // ThetaK/ThetaShards/ThetaM are INTERPOLATED (not literal copies of
  // the Scala constants) so a parameter change cannot silently desync
  // the two engines (the kAnonymizeSql discipline; ADVICE r15)
  val thetaPortableSql: String =
    s"""WITH dset AS (
      |  SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS seg,
      |    ('0x' || substr(md5('th:' || l_partkey::VARCHAR), 1, 12))::BIGINT
      |      AS h
      |  FROM lineitem
      |), shardtrim AS (
      |  SELECT seg, h,
      |    row_number() OVER (PARTITION BY seg, h % $ThetaShards ORDER BY h)
      |      AS srn
      |  FROM dset
      |), bottom AS (
      |  SELECT seg, h,
      |    row_number() OVER (PARTITION BY seg ORDER BY h) AS rn
      |  FROM shardtrim WHERE srn <= ${ThetaK + 1}
      |), bt AS (
      |  SELECT * FROM bottom WHERE rn <= ${ThetaK + 1}
      |), theta AS (
      |  SELECT seg,
      |    CASE WHEN count(*) = ${ThetaK + 1}
      |           THEN max(CASE WHEN rn = ${ThetaK + 1} THEN h END)
      |         ELSE $ThetaM END AS theta
      |  FROM bt GROUP BY seg
      |), ret AS (
      |  SELECT b.seg, b.h FROM bt b
      |  JOIN theta t ON t.seg = b.seg
      |  WHERE b.h < t.theta
      |), perseg AS (
      |  SELECT seg, count(*) AS n_ret FROM ret GROUP BY 1
      |), pairs(month_a, month_b) AS (
      |  VALUES ('1995-03', '1995-04'), ('1995-03', '1998-06'),
      |         ('1997-03', '1997-04')
      |), base AS (
      |  SELECT p.month_a, p.month_b, ta.theta AS theta_a,
      |         tb.theta AS theta_b,
      |         least(ta.theta, tb.theta) AS theta_min,
      |         na.n_ret AS n_a, nb.n_ret AS n_b
      |  FROM pairs p
      |  JOIN theta ta ON ta.seg = p.month_a
      |  JOIN theta tb ON tb.seg = p.month_b
      |  JOIN perseg na ON na.seg = p.month_a
      |  JOIN perseg nb ON nb.seg = p.month_b
      |), sidea AS (
      |  SELECT p.month_a, p.month_b, r.h FROM pairs p
      |  JOIN ret r ON r.seg = p.month_a
      |), sideb AS (
      |  SELECT p.month_a, p.month_b, r.h FROM pairs p
      |  JOIN ret r ON r.seg = p.month_b
      |), uni AS (
      |  SELECT u.month_a, u.month_b, count(*) AS n_union FROM (
      |    SELECT DISTINCT month_a, month_b, h FROM (
      |      SELECT * FROM sidea UNION ALL SELECT * FROM sideb)
      |  ) u JOIN base bs ON bs.month_a = u.month_a
      |    AND bs.month_b = u.month_b
      |  WHERE u.h < bs.theta_min GROUP BY 1, 2
      |), inter AS (
      |  SELECT a.month_a, a.month_b, count(*) AS n_intersect
      |  FROM sidea a
      |  JOIN sideb b ON b.month_a = a.month_a AND b.month_b = a.month_b
      |    AND b.h = a.h
      |  JOIN base bs ON bs.month_a = a.month_a AND bs.month_b = a.month_b
      |  WHERE a.h < bs.theta_min GROUP BY 1, 2
      |), anotb AS (
      |  SELECT a.month_a, a.month_b, count(*) AS n_a_not_b
      |  FROM sidea a
      |  JOIN base bs ON bs.month_a = a.month_a AND bs.month_b = a.month_b
      |  WHERE a.h < bs.theta_min AND NOT EXISTS (
      |    SELECT 1 FROM sideb b WHERE b.month_a = a.month_a
      |      AND b.month_b = a.month_b AND b.h = a.h)
      |  GROUP BY 1, 2
      |)
      |SELECT base.month_a, base.month_b,
      |  CAST(base.n_a AS BIGINT) AS n_a,
      |  CAST(base.theta_a AS BIGINT) AS theta_a,
      |  CAST(base.n_b AS BIGINT) AS n_b,
      |  CAST(base.theta_b AS BIGINT) AS theta_b,
      |  CAST(coalesce(uni.n_union, 0) AS BIGINT) AS n_union,
      |  CAST(coalesce(inter.n_intersect, 0) AS BIGINT) AS n_intersect,
      |  CAST(coalesce(anotb.n_a_not_b, 0) AS BIGINT) AS n_a_not_b,
      |  CAST(base.theta_min AS BIGINT) AS theta_min,
      |  (CAST(base.n_a AS DOUBLE) * $ThetaM)
      |    / CAST(base.theta_a AS DOUBLE) AS est_a,
      |  (CAST(base.n_b AS DOUBLE) * $ThetaM)
      |    / CAST(base.theta_b AS DOUBLE) AS est_b,
      |  (CAST(coalesce(uni.n_union, 0) AS DOUBLE) * $ThetaM)
      |    / CAST(base.theta_min AS DOUBLE) AS est_union,
      |  (CAST(coalesce(inter.n_intersect, 0) AS DOUBLE) * $ThetaM)
      |    / CAST(base.theta_min AS DOUBLE) AS est_intersect
      |FROM base
      |LEFT JOIN uni ON uni.month_a = base.month_a
      |  AND uni.month_b = base.month_b
      |LEFT JOIN inter ON inter.month_a = base.month_a
      |  AND inter.month_b = base.month_b
      |LEFT JOIN anotb ON anotb.month_a = base.month_a
      |  AND anotb.month_b = base.month_b
      |WHERE coalesce(uni.n_union, 0) >= coalesce(inter.n_intersect, 0)
      |  AND coalesce(uni.n_union, 0) >= coalesce(anotb.n_a_not_b, 0)
      |  AND base.theta_min >= 1
      |ORDER BY base.month_a, base.month_b""".stripMargin

  // ------------------------------------------------------------------ //

  /** Catalog database holding ANALYZEd narrow projections for the
    * cost-based-optimization demo, built + ANALYZEd once per corpus
    * per JVM. `ANALYZE TABLE ... FOR ALL COLUMNS` persists rowCount +
    * per-column min/max/ndv/null stats into the metastore — the
    * inputs CostBasedJoinReorder's dynamic program and the stats-
    * based broadcast decisions consume.
    */
  private val cboDbs = scala.collection.concurrent.TrieMap.empty[String, String]

  private[graft] def cboStatsDb(s: SparkSession, d: String): String =
    cboDbs.getOrElseUpdate(d, {
      val db = s"graft_cbo_${graft.util.ScratchIndex.corpusTag(d)}"
      for (t <- Seq("lineitem_c", "part_c", "supplier_c")) {
        s.sql(s"DROP TABLE IF EXISTS $db.$t")
        // the warehouse dir outlives the per-JVM Derby metastore
        val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
        val loc = new java.io.File(s"$wh/$db.db/$t")
        graft.util.ScratchIndex.deleteRecursively(loc)
      }
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      lineitem(s, d).select("l_partkey", "l_suppkey", "l_quantity")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .saveAsTable(s"$db.lineitem_c")
      part(s, d).select("p_partkey", "p_size")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .saveAsTable(s"$db.part_c")
      supplier(s, d).select("s_suppkey", "s_nationkey")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .saveAsTable(s"$db.supplier_c")
      for (t <- Seq("lineitem_c", "part_c", "supplier_c"))
        s.sql(s"ANALYZE TABLE $db.$t COMPUTE STATISTICS FOR ALL COLUMNS")
      db
    })

  /** The join written in a deliberately BAD syntactic order —
    * supplier ⋈ lineitem first (its intermediate is every lineitem
    * row), with the selective part filter joined last. The rule-based
    * optimizer executes joins in syntactic order; with CBO + column
    * stats the join-reorder DP sees |σ(part)| ≪ |supplier| and joins
    * lineitem ⋈ σ(part) FIRST, shrinking the intermediate by the
    * filter's selectivity — at 100 TB the difference between
    * shuffling the whole fact once or twice. SkewSketchSpec asserts
    * the reorder actually fires (part joins innermost under CBO, not
    * without), and the oracle hash proves reordering never changes
    * the answer.
    */
  private[graft] def cboPlan(s: SparkSession, db: String): DataFrame =
    s.table(s"$db.supplier_c")
      .join(s.table(s"$db.lineitem_c"), col("s_suppkey") === col("l_suppkey"))
      .join(s.table(s"$db.part_c"), col("l_partkey") === col("p_partkey"))
      .filter(col("p_size") <= 2)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy("s_nationkey")

  def cboReorder(s: SparkSession, d: String): DataFrame = {
    val db = cboStatsDb(s, d)
    graft.util.Confs.withConfs(s)(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") {
      val out = cboPlan(s, db)
      // materialize while CBO is live (plans optimize at action time);
      // ≤25 rows (one per nation key) — bounded by construction
      val rows = out.collect().toSeq
      s.createDataFrame(
        new java.util.ArrayList(scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), out.schema)
    }
  }

  val cboReorderSql: String =
    """SELECT s_nationkey, count(*) AS n_lines,
      |       round(sum(l_quantity), 2) AS sum_qty
      |FROM supplier
      |JOIN lineitem ON s_suppkey = l_suppkey
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_size <= 2
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** Count-min depth (independent hash rows) and width (buckets per
    * row) for [[cmsPortable]]. Width 1024 over ~O(10³) distinct keys
    * keeps collisions rare enough that most probes are exact while
    * still exercising the min-over-rows estimate.
    */
  private[graft] val CmsD = 4
  private[graft] val CmsW = 1024L

  /** The md5-derived count-min bucket for hash row `j` — shared with
    * SkewSketchSpec so the mergeability proof exercises the SHIPPED
    * hash, not a spec-local copy that could silently diverge.
    */
  private[graft] def cmsBucketOf(j: Column, key: Column): Column =
    conv(substring(md5(concat_ws(":", j, key)), 1, 8), 16, 10)
      .cast("long") % CmsW

  /** ENGINE-PORTABLE count-min sketch: frequency estimates for 20
    * probe keys from a (depth 4 × width 1024) counter table built
    * with md5-derived bucket hashes — the portable-hash complement to
    * [[cmsProbe]] (which demonstrates Spark's built-in murmur3-seeded
    * `stat.countMinSketch` and is therefore rows-only). Because every
    * bucket index is a deterministic md5 function both engines
    * compute identically (the [[graft.ops.Dedup.simhashOf]]
    * precedent), the WHOLE sketch — build, probe, estimate — replays
    * in DuckDB and the query takes a FULL hash oracle: the oracle
    * pins not just the error band but the exact counter values.
    *
    * The relational form IS the sketch: explode each row into its D
    * (row, bucket) cells, one keyed count — the counter table is
    * bounded at D×W rows regardless of corpus size, built in ONE
    * partial-agged pass over the data (map-side combine collapses to
    * ≤ D×W cells per task before any shuffle), and MERGEABLE by
    * construction (counters of a union are the sums of the counters —
    * asserted over a corpus split in SkewSketchSpec). Estimates are
    * min over the D probed cells; missing cells are zero. At 100 TB:
    * per-partition sketches combine associatively exactly like the
    * approx_top_k path above — no raw-key shuffle, ever.
    */
  def cmsPortable(s: SparkSession, d: String): DataFrame = {
    val js = array((0 until CmsD).map(lit): _*)
    def bucketOf(j: Column, key: Column): Column = cmsBucketOf(j, key)
    val ev = events(s, d).select(col("user_id"))
    val counters = ev
      .select(col("user_id"), explode(js).as("j"))
      .select(col("j"), bucketOf(col("j"), col("user_id")).as("bucket"))
      .groupBy(col("j"), col("bucket")).agg(count(lit(1)).as("c"))
    val probes = s.range(20)
      .select(col("id").as("user_id"), explode(js).as("j"))
      .select(col("user_id"), col("j"),
        bucketOf(col("j"), col("user_id")).as("bucket"))
    val est = probes.join(counters, Seq("j", "bucket"), "left")
      .na.fill(0L, Seq("c"))
      .groupBy(col("user_id")).agg(min(col("c")).as("cms_count"))
    val exact = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("exact_count"))
    est.join(exact, Seq("user_id"), "left")
      .na.fill(0L, Seq("exact_count"))
      .select(col("user_id"), col("exact_count"), col("cms_count"))
      // Invariant filter (always true: count-min only over-counts) —
      // the counter table and the exact side are both unique-keyed
      // aggregates, so without a reference to their columns Catalyst
      // eliminates the joins under a count() action and the harness
      // times a 20-row literal plan (the text_ngram_novelty lesson).
      .filter(col("cms_count") >= col("exact_count"))
      .orderBy("user_id")
  }

  /** Same sketch, relationally replayed: identical md5 bucket hashes,
    * identical min-over-rows estimate — full counter-level equality.
    */
  val cmsPortableSql: String =
    """WITH js AS (
      |  SELECT unnest([0, 1, 2, 3]) AS j
      |), counters AS (
      |  SELECT j,
      |         ('0x' || substr(md5(j::VARCHAR || ':' || user_id::VARCHAR),
      |                         1, 8))::BIGINT % 1024 AS bucket,
      |         count(*) AS c
      |  FROM events, js GROUP BY 1, 2
      |), probes AS (
      |  SELECT t.u AS user_id, js.j,
      |         ('0x' || substr(md5(js.j::VARCHAR || ':' || t.u::VARCHAR),
      |                         1, 8))::BIGINT % 1024 AS bucket
      |  FROM range(20) t(u), js
      |), est AS (
      |  SELECT p.user_id, min(coalesce(c.c, 0)) AS cms_count
      |  FROM probes p
      |  LEFT JOIN counters c ON c.j = p.j AND c.bucket = p.bucket
      |  GROUP BY p.user_id
      |), exact AS (
      |  SELECT user_id, count(*) AS exact_count FROM events
      |  GROUP BY user_id
      |)
      |SELECT est.user_id,
      |       CAST(coalesce(exact.exact_count, 0) AS BIGINT) AS exact_count,
      |       CAST(est.cms_count AS BIGINT) AS cms_count
      |FROM est LEFT JOIN exact ON est.user_id = exact.user_id
      |WHERE est.cms_count >= coalesce(exact.exact_count, 0)
      |ORDER BY est.user_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sketch_cms_portable" -> (cmsPortable _),
    "sketch_topk_exact" -> (topkSketch _),
    "sketch_hll_rollup" -> (hllRollup _),
    "sketch_kll_rollup" -> (kllRollup _),
    "sketch_cms_probe"  -> (cmsProbe _),
    "skew_salted_agg" -> (saltedAgg _),
    "skew_aqe_join"   -> (skewJoinAqe _),
    "sketch_agg"      -> (sketchAgg _),
    "bloom_join"      -> (bloomJoin _),
    "opt_cbo_reorder" -> (cboReorder _),
    "sketch_theta_ops" -> (thetaOps _),
    "sketch_theta_portable" -> (thetaPortable _),
    "sketch_theta_incremental" -> (thetaIncremental _),
  )

  val oracle: Map[String, String] = Map(
    "sketch_cms_portable" -> cmsPortableSql,
    "sketch_theta_portable" -> thetaPortableSql,
    // the incremental query's truth IS the full-corpus rebuild: DuckDB
    // re-derives the summary over base ∪ delta and the hash must match
    "sketch_theta_incremental" -> thetaPortableSql,
    "sketch_topk_exact" -> topkSketchSql,
    "skew_salted_agg" -> saltedAggSql,
    "skew_aqe_join"   -> skewJoinAqeSql,
    "bloom_join"      -> bloomJoinSql,
    "opt_cbo_reorder" -> cboReorderSql,
    // sketch_agg: approximate → rows-only; error-bounded in SketchSpec
  )
}
