package graft.ops

import scala.collection.mutable
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.{Delta, LoopScope}
import graft.util.Tables._

/** Graph analytics over relations (no GraphX dependency). The
  * one-shot queries are DataFrame equi-joins Catalyst can plan,
  * broadcast and AQE-tune. An iterative loop pays that planning on
  * every round, so the BFS walk runs as a co-partitioned RDD loop
  * instead: the adjacency list is partitioned once and each hop is one
  * shuffle and one job ([[bfsWalk]]).
  *
  * Cyclic label propagation (connected components) lives in
  * Dedup.dedupClusters; this file holds the join-shaped graph
  * queries.
  */
object Graph {

  /** Co-purchase edges: parts that appear in the same order, as
    * canonical (p1 < p2) distinct pairs. One self-equi-join of the
    * projected lineitem scan on l_orderkey; the p1 < p2 predicate
    * halves the output and canonicalizes direction at the join, not
    * after.
    */
  private def coOrderEdgesPlan(s: SparkSession, d: String): DataFrame =
    pairsOf(lineitem(s, d).select(col("l_orderkey"), col("l_partkey")))

  /** The edge relation, materialized ONCE per corpus to scratch
    * parquet and shared by every graph query (triangles and the
    * degree histogram previously each recomputed the self-join +
    * distinct — the single most expensive shuffle in the graph
    * suite). On a cluster this is the standard shape: derive the
    * edge list once, persist it, run N analytics over it.
    */
  private def coOrderEdges(s: SparkSession, d: String): DataFrame =
    graft.util.ScratchIndex.materialize(
      s, s"edges_v1_${graft.util.ScratchIndex.corpusTag(d)}")(coOrderEdgesPlan(s, d))

  /** Triangle count over the co-purchase graph: the classic
    * three-way distributed equi-join on canonically-oriented edges
    * (p1<p2<p3 counts each triangle exactly once). Plan shape at
    * scale: edges shuffle once per join key; AQE picks the join
    * strategy per stage; the final count is a full partial-agg
    * reduce. Emits graph summary stats alongside the count so the
    * oracle hash pins more than one number.
    */
  def triangles(s: SparkSession, d: String): DataFrame = {
    val e = coOrderEdges(s, d)
    // Adjacency-intersection formulation: the wedge relation of the
    // naive three-way join is ~40× the edge count (49M rows at sf0.1)
    // and dominates whether shuffled OR broadcast-probed. Instead:
    // build each vertex's sorted out-neighbor list once (one shuffle
    // of the edges), then for edge (a,b) the triangles it closes are
    // |N⁺(a) ∩ N⁺(b)| — a fused allocation-free merge per edge, no
    // wedge row ever materialized. Counts each triangle once at its
    // two smallest vertices. No join hints: the adjacency relation
    // does NOT fit in executor memory at cluster scale, so the
    // strategy must stay AQE's call — broadcast while small, a
    // shuffle join co-partitioned with the edge list beyond that;
    // the per-edge kernel is the same either way.
    val adj = e.groupBy(col("p1").as("v"))
      .agg(sort_array(collect_list(col("p2"))).as("nbrs"))
    val tri = e
      .join(adj.withColumnRenamed("nbrs", "na"),
        col("p1") === col("v")).drop("v")
      .join(adj.withColumnRenamed("nbrs", "nb"),
        col("p2") === col("v")).drop("v")
      .select(graft.functions.SetSimilarityFunctions
        .sorted_long_intersect(col("na"), col("nb")).as("closes"))
      .agg(coalesce(sum(col("closes")), lit(0L)).as("n_triangles"))
    val stats = e.agg(
      count(lit(1)).as("n_edges"),
      countDistinct(col("p1")).as("n_left_vertices"),
      max(col("p2")).as("max_vertex"))
    tri.crossJoin(stats)
      .select(col("n_triangles"), col("n_edges"),
        col("n_left_vertices"), col("max_vertex"))
  }

  val trianglesSql: String =
    """WITH e AS (
      |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      |  FROM lineitem a
      |  JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |)
      |SELECT (SELECT count(*)
      |        FROM e e1
      |        JOIN e e2 ON e1.p2 = e2.p1
      |        JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2) AS n_triangles,
      |       count(*) AS n_edges,
      |       count(DISTINCT p1) AS n_left_vertices,
      |       max(p2) AS max_vertex
      |FROM e""".stripMargin

  /** Per-vertex degree distribution of the co-purchase graph: degree
    * = #distinct co-ordered partners (both directions), histogrammed.
    * Two narrow shuffles (edge dedup, degree agg) — the profile query
    * run before any triangle/motif job to bound the skew.
    */
  def degreeHistogram(s: SparkSession, d: String): DataFrame = {
    val e = coOrderEdges(s, d)
    e.select(col("p1").as("v")).unionAll(e.select(col("p2").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_vertices"))
      .orderBy("degree")
  }

  val degreeHistogramSql: String =
    """WITH e AS (
      |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      |  FROM lineitem a
      |  JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), deg AS (
      |  SELECT v, count(*) AS degree
      |  FROM (SELECT p1 AS v FROM e UNION ALL SELECT p2 AS v FROM e)
      |  GROUP BY v
      |)
      |SELECT degree, count(*) AS n_vertices
      |FROM deg GROUP BY degree ORDER BY degree""".stripMargin

  /** Hop cap for [[bfsHops]]: 4 join rounds bound both engines'
    * iteration, and on this co-purchase graph (diameter ~3-4) the
    * 4-hop ball already covers the reachable component.
    */
  private val MaxHops = 4

  /** Bounded multi-source BFS: minimum hop distance from the seed set
    * (vertices with id <= 5) over the undirected co-purchase graph,
    * capped at [[MaxHops]]. The propagation primitive behind
    * link-graph curation (seed-quality expansion, spam-distance
    * labeling), run as the co-partitioned frontier loop of
    * [[bfsWalk]]: no vertex ever carries more than its (id, dist)
    * pair, a hop's one shuffle carries O(frontier × avg-degree) rows,
    * and the hop count bounds the number of hop shuffles. The build
    * adds one up-front shuffle of the 2 × |E| adjacency rows, so its
    * cost is linear in the edge list, not bounded by the seed ball.
    * The whole loop runs inside a ScratchIndex.materialize thunk — the
    * converged distance table is written once per corpus, distributed,
    * and re-read thereafter (the dedupClusters discipline; BFS output
    * is a derived index a pipeline queries many times). Distances are
    * exact integers — no float-tie surface.
    */
  def bfsHops(s: SparkSession, d: String): DataFrame =
    LoopScope.scoped { sc =>
      graft.util.ScratchIndex.materialize(
          s, s"bfshops_v1_${graft.util.ScratchIndex.corpusTag(d)}") {
        val (visited, counts) = bfsWalk(sc, s, d)
        // one log line per corpus build: the per-hop frontier sizes ARE
        // the shuffle bound (each hop shuffles O(frontier × avg-degree)
        // rows) — surfacing them makes the claim checkable in any run log
        System.err.println(
          s"[graph] bfs frontier sizes by hop (corpus $d): " +
            counts.mkString(", "))
        visited
      }
    }.orderBy("v")

  /** The BFS frontier loop itself: returns the converged (v, dist)
    * relation and the per-hop frontier sizes (hop 0 = seeds); its
    * caches are pinned in `sc`.
    *
    * An RDD loop, not a DataFrame one: the adjacency list (both
    * orientations of every edge, from one scan) is grouped ONCE into
    * one (vertex, neighbours) record per vertex, hash-partitioned with
    * `spark.sql.shuffle.partitions` partitions and pinned, and every
    * frontier and the visited union share its partitioner. So a hop
    * is a narrow pass of each adjacency partition past its frontier
    * partition's keys, one `reduceByKey` (the hop's only shuffle,
    * O(frontier × avg-degree) rows, deduped map-side) and a narrow
    * `subtractByKey` against the visited union — one Spark job per
    * hop, with no per-hop analysis, AQE re-planning or code
    * generation. A hop reads |V| pinned records, where the join
    * formulation scanned all |E| edges. The trade: the edge list is
    * shuffled once up front (2 × |E| rows), where the join formulation
    * shuffled only O(frontier × avg-degree) rows per hop while the
    * frontier stayed under the broadcast threshold. Each frontier is
    * counted once — the hop's one job — which both publishes the
    * frontier-bound measurement and lets the loop SHORT-CIRCUIT when
    * the frontier empties (diameter < cap).
    */
  private[graft] def bfsWalk(sc: LoopScope, s: SparkSession, d: String)
      : (DataFrame, Seq[Long]) = {
    val p = new HashPartitioner(s.sessionState.conf.numShufflePartitions)
    // one record per vertex, its neighbours a primitive array: the
    // pinned index holds |V| records of 8 bytes per edge end, and both
    // the grouping and the cache spill record by record
    val adj = sc.pinRdd(coOrderEdges(s, d)
      .filter(col("p1").isNotNull && col("p2").isNotNull).rdd
      .flatMap { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        Iterator((a, b), (b, a))
      }
      .groupByKey(p).mapValues(_.toArray))
    // a frontier row is (v, the hop that reached it)
    var frontier = sc.pinRdd(adj.filter(_._1 <= 5L).mapValues(_ => 0L))
    val levels = mutable.ArrayBuffer(frontier)
    val counts = mutable.ArrayBuffer(frontier.count())
    var h = 1
    while (h <= MaxHops && counts.last > 0L) {
      val hop = h.toLong
      val visited = s.sparkContext.union(levels.toSeq)
      // partition i of both sides holds the vertices p sends to i; the
      // frontier's keys are the hash side and the adjacency streams
      // past them, so a hop holds O(frontier) in memory
      frontier = sc.pinRdd(frontier.zipPartitions(adj) { (f, a) =>
          val keys = f.map(_._1).toSet
          a.filter(va => keys(va._1)).flatMap(_._2).map((_, hop))
        }
        .reduceByKey(p, (x, _) => x)
        .subtractByKey(visited, p))
      counts += frontier.count()
      if (counts.last > 0L) levels += frontier
      h += 1
    }
    (s.createDataFrame(s.sparkContext.union(levels.toSeq)).toDF("v", "dist"),
      counts.toSeq)
  }

  /** Recursive-CTE replay: UNION (not UNION ALL) semantics dedup the
    * generated (v, d) pairs per level, so the walk's row count is
    * bounded by vertices × (MaxHops+1) instead of multiplying by the
    * average degree each hop; min(d) collapses multi-path reaches to
    * the BFS distance.
    */
  val bfsHopsSql: String =
    """WITH e0 AS (
      |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      |  FROM lineitem a
      |  JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), e AS (
      |  SELECT p1 AS a, p2 AS b FROM e0
      |  UNION ALL SELECT p2, p1 FROM e0
      |), walk AS (
      |  WITH RECURSIVE r(v, d) AS (
      |    SELECT DISTINCT a AS v, 0 AS d FROM e WHERE a <= 5
      |    UNION
      |    SELECT e.b, r.d + 1 FROM r JOIN e ON r.v = e.a WHERE r.d < 4
      |  ) SELECT * FROM r
      |)
      |SELECT v, min(d) AS dist FROM walk GROUP BY v ORDER BY v""".stripMargin

  /** Fixed power-iteration count for [[pagerank]]. Bounded (like
    * [[MaxHops]]) so BOTH engines run the identical iteration count —
    * a convergence-threshold stop would make the comparison depend on
    * float drift. Five iterations carry rank ~4 hops, past this
    * graph's ~3-4 diameter.
    */
  private val PrIters = 5

  /** Damping factor — the canonical 0.85 from the original PageRank
    * formulation (public: Brin & Page 1998).
    */
  private val Damping = 0.85

  /** Bounded-iteration PageRank over the undirected co-purchase
    * graph: the weighted-propagation complement to [[bfsHops]]
    * (seed expansion → distance labeling → authority scoring — the
    * link-graph-curation triple). The canonical 100-TB iterative-join
    * workload: each iteration is ONE ranks⋈edges equi-join + one
    * keyed aggregation, so an iteration shuffles O(|E|) contribution
    * rows and the FIXED iteration count (not the corpus) bounds the
    * number of shuffles. The degree is joined onto the edge list ONCE
    * before the loop (it never changes), so the loop body re-joins
    * only the one relation that does. Per-iteration ranks are
    * persisted and lineage-truncated ([[graft.util.LoopScope.next]]
    * — the dedupClusters discipline: a loop that re-joins its own
    * iterate grows the logical plan every round even when the data is
    * cached), and the converged table is memoized per corpus via
    * ScratchIndex like the BFS distance table.
    *
    * Float discipline (taxonomy case 3, Relational.scala header):
    * ranks are genuinely continuous — accumulation order differs
    * across engines by ulps per iteration — so the OUTPUT rounds, and
    * it rounds the SCALE-FREE normalized mass rank·N (~O(1) at every
    * corpus size, so one precision works at every decade) to 9
    * decimals: observed cross-engine drift is ≲1e-12 relative after
    * 5 iterations, giving the half-cell ~500× headroom. Every vertex
    * has degree ≥ 1 (it came from an edge), so there is no dangling-
    * mass term and the contribution aggregation reaches every vertex.
    * Order key is the vertex id (unique, exact), never the float.
    */
  def pagerank(s: SparkSession, d: String): DataFrame =
    LoopScope.scoped { sc =>
      graft.util.ScratchIndex.materialize(
          s, s"pagerank_v1_${graft.util.ScratchIndex.corpusTag(d)}") {
        val e = symmetric(coOrderEdges(s, d), "src", "dst")
        val deg = e.groupBy(col("src")).agg(count(lit(1)).as("degree"))
        // (src, dst, degree-of-src): the loop-invariant relation,
        // built once, persisted, re-joined every iteration
        val ce = sc.pin(e.join(deg, "src"))
        // n is ONE scalar to the driver (bounded, like the k-means
        // cell means) — it parameterizes the teleport literal both
        // engines compute as the same IEEE division
        val n = deg.count()
        var ranks = deg
          .select(col("src").as("v"), lit(1.0 / n).as("rank"))
        for (_ <- 1 to PrIters) {
          ranks = sc.next(ce.join(ranks, ce("src") === ranks("v"))
            .groupBy(col("dst"))
            .agg((lit(0.15 / n) + lit(Damping) *
              sum(col("rank") / col("degree"))).as("rank"))
            .select(col("dst").as("v"), col("rank")))
        }
        ranks.join(deg.select(col("src").as("v"), col("degree")), "v")
          .select(col("v"), col("degree"),
            round(col("rank") * lit(n.toDouble), 9).as("rank_norm"))
      }
    }.orderBy("v")

  /** Unrolled 5-iteration replay (DuckDB disallows aggregation in a
    * recursive term, and unrolling keeps the iteration count
    * literally identical). Same shapes as the Spark plan: one
    * rank/degree division, one sum, the same teleport literal — so
    * the only cross-engine delta is summation order, absorbed by the
    * final round(·, 9) on the normalized mass.
    */
  val pagerankSql: String =
    """WITH e0 AS (
      |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      |  FROM lineitem a
      |  JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), e AS (
      |  SELECT p1 AS src, p2 AS dst FROM e0
      |  UNION ALL SELECT p2, p1 FROM e0
      |), deg AS (
      |  SELECT src AS v, count(*) AS degree FROM e GROUP BY src
      |), nn AS (
      |  SELECT count(*) AS n FROM deg
      |), r0 AS (
      |  SELECT v, 1.0 / (SELECT n FROM nn) AS rank FROM deg
      |), r1 AS (
      |  SELECT e.dst AS v,
      |         0.15 / (SELECT n FROM nn)
      |           + 0.85 * sum(r.rank / d.degree) AS rank
      |  FROM e JOIN r0 r ON e.src = r.v JOIN deg d ON r.v = d.v
      |  GROUP BY e.dst
      |), r2 AS (
      |  SELECT e.dst AS v,
      |         0.15 / (SELECT n FROM nn)
      |           + 0.85 * sum(r.rank / d.degree) AS rank
      |  FROM e JOIN r1 r ON e.src = r.v JOIN deg d ON r.v = d.v
      |  GROUP BY e.dst
      |), r3 AS (
      |  SELECT e.dst AS v,
      |         0.15 / (SELECT n FROM nn)
      |           + 0.85 * sum(r.rank / d.degree) AS rank
      |  FROM e JOIN r2 r ON e.src = r.v JOIN deg d ON r.v = d.v
      |  GROUP BY e.dst
      |), r4 AS (
      |  SELECT e.dst AS v,
      |         0.15 / (SELECT n FROM nn)
      |           + 0.85 * sum(r.rank / d.degree) AS rank
      |  FROM e JOIN r3 r ON e.src = r.v JOIN deg d ON r.v = d.v
      |  GROUP BY e.dst
      |), r5 AS (
      |  SELECT e.dst AS v,
      |         0.15 / (SELECT n FROM nn)
      |           + 0.85 * sum(r.rank / d.degree) AS rank
      |  FROM e JOIN r4 r ON e.src = r.v JOIN deg d ON r.v = d.v
      |  GROUP BY e.dst
      |)
      |SELECT r5.v, deg.degree,
      |       round(r5.rank * (SELECT CAST(n AS DOUBLE) FROM nn), 9)
      |         AS rank_norm
      |FROM r5 JOIN deg ON r5.v = deg.v
      |ORDER BY r5.v""".stripMargin

  /** Broadcast cap of the common-neighbors adjacency: 64 MiB is far
    * under the "few hundred MB is usually fine" broadcast guidance and
    * leaves the sf10+ regime on the measured shuffle-hash plan.
    */
  private val AdjBcastMaxBytes = 64L << 20

  /** Link-prediction features for the top co-purchase edges: for each
    * existing edge (p1, p2), the common-neighbor count (the edge's
    * embeddedness — its triangle support) and the Jaccard similarity
    * of the two endpoint neighborhoods, reported for the 100 most
    * embedded edges. The standard candidate-scoring pass of a
    * link-graph curation pipeline (which near-edges are structurally
    * confirmed), and the per-EDGE complement of [[triangles]]' global
    * count.
    *
    * Plan shape at scale: the same adjacency-intersection formulation
    * as [[triangles]] — build each vertex's sorted UNDIRECTED
    * neighbor list once (one shuffle of the shared memoized edge
    * relation), join it onto the edge list twice, and compute |N(a) ∩
    * N(b)| with the allocation-free fused merge kernel
    * ([[graft.functions.SortedLongIntersect]]), so the quadratic
    * wedge relation (~40× the edge count on this graph) is never
    * materialized; the final top-100 is a TakeOrderedAndProject
    * (per-partition heaps, no global sort).
    *
    * Float discipline: jaccard = cn / (deg_a + deg_b − cn) is exact
    * integers into ONE IEEE division — bit-identical across engines,
    * no rounding needed — and it is never a sort key; the top-100
    * orders by (cn DESC, p1, p2), integer keys with the unique edge
    * id as the total tiebreak.
    */
  def commonNeighbors(s: SparkSession, d: String): DataFrame = {
    val e0 = coOrderEdges(s, d)
    // The undirected adjacency is materialized ONCE per corpus (the
    // coOrderEdges discipline): referenced inline it is aggregated
    // TWICE (once per endpoint join — two ObjectHashAggregate
    // subtrees in the plan), and the list-aggregation buffers are the
    // memory hot spot of the whole query; the scratch parquet is read
    // back columnar (unboxed arrays) by both joins instead.
    val adjKey = s"adj_und_v1_${graft.util.ScratchIndex.corpusTag(d)}"
    val adj = graft.util.ScratchIndex.materialize(s, adjKey) {
      symmetric(e0, "a", "b").groupBy(col("a").as("v"))
        .agg(sort_array(collect_list(col("b"))).as("nbrs"))
    }
    // Join strategy is SIZE-GATED on the adjacency artifact's actual
    // on-disk bytes (known at plan time — it was just materialized):
    //  - BELOW the cap, BROADCAST both adjacency sides. This removes
    //    every Exchange from the query: the old shuffle-hash plan
    //    re-shuffled the probe stream per join key, and after the
    //    first join each probe row carries a ~1 KB UNDIRECTED
    //    neighbor array — measured 627 MB of shuffle at sf0.1 for a
    //    9 MB adjacency, i.e. ~70× the bytes that actually need to
    //    move (guide §2.3/§3.1: the array payload should ship once
    //    per executor as a broadcast, not once per edge row).
    //  - ABOVE the cap the adjacency does NOT fit executor memory
    //    and the hint stays shuffle-hash, the shape measured right
    //    at sf10: an SMJ must SORT the probe stream carrying those
    //    arrays — measured 195 GB spill / 704 s or an 8 GB-heap OOM
    //    (reproduced twice) vs 290 s zero-spill for shuffle-hash.
    //    The hash build side is the adjacency — 8·Σdeg bytes /
    //    shuffle-partition count, and the partition count tracks
    //    input bytes (the repo sizing rule), so the per-task build
    //    map stays bounded at any corpus size.
    // The cap is [[AdjBcastMaxBytes]] of parquet (≈ the in-memory
    // footprint of uncompressed long arrays).
    val adjBytes = graft.util.ScratchIndex.artifactBytes(adjKey)
    def adjSide(df: DataFrame): DataFrame =
      if (adjBytes > 0 && adjBytes <= AdjBcastMaxBytes) broadcast(df)
      else df.hint("shuffle_hash")
    e0
      .join(adjSide(adj.withColumnRenamed("nbrs", "na")),
        col("p1") === col("v"))
      .drop("v")
      .join(adjSide(adj.withColumnRenamed("nbrs", "nb")),
        col("p2") === col("v"))
      .drop("v")
      .select(col("p1"), col("p2"),
        graft.functions.SetSimilarityFunctions
          .sorted_long_intersect(col("na"), col("nb")).as("cn"),
        size(col("na")).cast("bigint").as("degree_a"),
        size(col("nb")).cast("bigint").as("degree_b"))
      .withColumn("jaccard",
        col("cn").cast("double")
          / (col("degree_a") + col("degree_b") - col("cn")).cast("double"))
      .orderBy(col("cn").desc, col("p1"), col("p2"))
      .limit(100)
  }

  /** Wedge-enumeration replay: DuckDB has no sorted-merge kernel, so
    * the oracle counts common neighbors the relational way — but
    * ANCHORED on the edge list (e0 ⋈ und ⋈ und), not the free und⋈und
    * self-join of the whole graph: the free form is corpus-quadratic
    * in degree (~40× the edge count here) and would make the oracle's
    * cost grow much faster than the engine's at larger scale factors
    * (ADVICE r13). Joining x onto e0.p1 and y onto e0.p2 with x.b=y.b
    * enumerates shared neighbors ONLY for existing edges — identical
    * counts (neither neighborhood contains its own vertex, so the
    * endpoints never self-count), wedge volume Σ_(a,b)∈E min-ish of
    * the endpoint degrees instead of Σ_v deg(v)². LEFT join +
    * coalesce keeps zero-embeddedness edges rankable (they only
    * surface on corpora with < 100 triangle-supported edges).
    */
  val commonNeighborsSql: String =
    """WITH e0 AS (
      |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      |  FROM lineitem a
      |  JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), und AS (
      |  SELECT p1 AS a, p2 AS b FROM e0
      |  UNION ALL SELECT p2, p1 FROM e0
      |), deg AS (
      |  SELECT a AS v, count(*) AS degree FROM und GROUP BY a
      |), wedge AS (
      |  SELECT e.p1, e.p2, count(*) AS cn
      |  FROM e0 e
      |  JOIN und x ON x.a = e.p1
      |  JOIN und y ON y.a = e.p2 AND y.b = x.b
      |  GROUP BY 1, 2
      |)
      |SELECT e0.p1, e0.p2, coalesce(w.cn, 0) AS cn,
      |       da.degree AS degree_a, db.degree AS degree_b,
      |       CAST(coalesce(w.cn, 0) AS DOUBLE)
      |         / CAST(da.degree + db.degree - coalesce(w.cn, 0) AS DOUBLE)
      |         AS jaccard
      |FROM e0
      |LEFT JOIN wedge w ON w.p1 = e0.p1 AND w.p2 = e0.p2
      |JOIN deg da ON da.v = e0.p1
      |JOIN deg db ON db.v = e0.p2
      |ORDER BY cn DESC, e0.p1, e0.p2 LIMIT 100""".stripMargin

  /** Fixed propagation-round count for [[labelProp]]. Bounded like
    * [[MaxHops]]/[[PrIters]] so both engines run the identical round
    * count: a convergence-stop would make the oracle comparison
    * depend on when each engine detects quiescence. Four rounds
    * carry the minimum label past this graph's ~3-4 diameter.
    */
  private val LpRounds = 4

  /** Bounded-round minimum-label propagation: community assignment
    * over the undirected co-purchase graph — the label/community
    * complement to [[bfsHops]] (distance) and [[pagerank]]
    * (authority), completing the link-graph-curation family. Every
    * vertex starts labeled with its own id; each round relabels to
    * the minimum of its own label and its neighbors' labels, so after
    * R rounds a vertex carries the smallest vertex id within R hops —
    * deterministic (min is order-insensitive), integer-only (no
    * float-tie surface), and exactly replayable by an unrolled CTE.
    *
    * Plan shape at scale: the same iterative-join discipline as
    * [[pagerank]] — each round is ONE labels⋈edges equi-join + one
    * keyed min-aggregation, shuffling O(|E|) label rows per round,
    * with the FIXED round count (not the corpus) bounding the number
    * of shuffles. The symmetric edge relation is the loop invariant
    * (persisted once); per-round labels are persisted and
    * lineage-truncated, and the converged assignment is memoized per
    * corpus via ScratchIndex like the BFS/pagerank tables. Community
    * sizes are joined on at the end (one extra keyed agg) so the
    * oracle hash pins the partition structure, not just the labels.
    */
  def labelProp(s: SparkSession, d: String): DataFrame =
    LoopScope.scoped { sc =>
      graft.util.ScratchIndex.materialize(
          s, s"labelprop_v1_${graft.util.ScratchIndex.corpusTag(d)}") {
        val e = sc.pin(symmetric(coOrderEdges(s, d), "src", "dst"))
        // every vertex appears as src in the symmetric relation, so
        // this distinct covers the full vertex set
        var labels = sc.pin(e.select(col("src").as("v")).distinct()
          .select(col("v"), col("v").as("lbl")))
        // materialize the persisted seed once (round 1 consumes it)
        labels.count(): Unit
        for (_ <- 1 to LpRounds) {
          labels = sc.next(e.join(labels, e("src") === labels("v"))
            .select(col("dst").as("v"), col("lbl"))
            .unionAll(labels)
            .groupBy(col("v")).agg(min(col("lbl")).as("lbl")))
        }
        val sizes = labels.groupBy(col("lbl"))
          .agg(count(lit(1)).as("n_members"))
        labels.join(sizes, "lbl")
          .select(col("v"), col("lbl").as("community"), col("n_members"))
      }
    }.orderBy("v")

  /** The shared unrolled 4-round label-propagation CTE chain —
    * single-sourced so [[labelPropSql]] and [[modularitySql]] can
    * never drift apart (the modularity oracle must score EXACTLY the
    * partition the label-prop oracle emits).
    */
  private val labelPropCtes: String =
    """WITH e0 AS (
      |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      |  FROM lineitem a
      |  JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), e AS (
      |  SELECT p1 AS src, p2 AS dst FROM e0
      |  UNION ALL SELECT p2, p1 FROM e0
      |), l0 AS (
      |  SELECT DISTINCT src AS v, src AS lbl FROM e
      |), l1 AS (
      |  SELECT v, min(lbl) AS lbl FROM (
      |    SELECT e.dst AS v, l.lbl FROM e JOIN l0 l ON e.src = l.v
      |    UNION ALL SELECT v, lbl FROM l0
      |  ) GROUP BY v
      |), l2 AS (
      |  SELECT v, min(lbl) AS lbl FROM (
      |    SELECT e.dst AS v, l.lbl FROM e JOIN l1 l ON e.src = l.v
      |    UNION ALL SELECT v, lbl FROM l1
      |  ) GROUP BY v
      |), l3 AS (
      |  SELECT v, min(lbl) AS lbl FROM (
      |    SELECT e.dst AS v, l.lbl FROM e JOIN l2 l ON e.src = l.v
      |    UNION ALL SELECT v, lbl FROM l2
      |  ) GROUP BY v
      |), l4 AS (
      |  SELECT v, min(lbl) AS lbl FROM (
      |    SELECT e.dst AS v, l.lbl FROM e JOIN l3 l ON e.src = l.v
      |    UNION ALL SELECT v, lbl FROM l3
      |  ) GROUP BY v
      |), sizes AS (
      |  SELECT lbl, count(*) AS n_members FROM l4 GROUP BY lbl
      |)""".stripMargin

  /** Unrolled 4-round replay (aggregation in a recursive term is
    * disallowed, same constraint as [[pagerankSql]]); each round is
    * the identical neighbor-min + self-union shape the Spark loop
    * runs, so the integer labels match exactly.
    */
  val labelPropSql: String =
    s"""$labelPropCtes
      |SELECT l4.v, l4.lbl AS community, sizes.n_members
      |FROM l4 JOIN sizes ON l4.lbl = sizes.lbl
      |ORDER BY l4.v""".stripMargin

  /** Modularity scoring of the [[labelProp]] partition — the QUALITY
    * measure that closes the graph-curation loop (assign communities,
    * then score the assignment): per community c, the Newman
    * contribution Q_c = L_c/m − (D_c/2m)², where L_c is the number of
    * INTERNAL edges (both endpoints in c), D_c the community's total
    * degree, and m the global edge count (public: Newman & Girvan
    * 2004). Emits (community, n_members, l_internal, d_total, q_c)
    * ordered by community id.
    *
    * Float discipline (a case the taxonomy's "one division" rule
    * generalizes to): every float here is a FIXED scalar expression
    * over exact integers — x = L_c/m, y = D_c/(2m), q_c = x − y·y —
    * with no accumulation-order dependence anywhere (the sums that
    * feed it are integer sums), so both engines compute bit-identical
    * doubles with NO rounding; y·y is an IEEE multiply, deliberately
    * not pow() (libm). The float is never a sort key (order is the
    * integer community id). A global Q would be a float SUM over
    * communities — order-dependent — so it is not emitted; the spec
    * derives it from the exact integer totals instead.
    *
    * Plan shape at scale: the partition is the MEMOIZED label-prop
    * assignment (one scratch read) and the edges are the shared
    * memoized relation; scoring is two broadcast-joins of labels onto
    * the edge list (labels are (v, community) longs — at cluster
    * scale this becomes the standard map-side hash join against the
    * co-partitioned assignment), one community-keyed count for L_c,
    * one for D_c, and a single-row broadcast for m. Everything
    * downstream of the edge scan is |communities|-sized.
    */
  def modularity(s: SparkSession, d: String): DataFrame =
    modularityTable(s, d).orderBy("community")

  /** The scored per-community table, MEMOIZED per corpus like every
    * other graph artifact (VERDICT r15 #4): it is |communities|-sized
    * (bounded), fully deterministic (integer aggregates + fixed IEEE
    * expressions — parquet round-trips the doubles losslessly), and
    * BOTH [[modularity]] and [[modularityQ]] read it, so the global-Q
    * roll-up no longer re-runs the two O(|E|) label joins per call.
    */
  private def modularityTable(s: SparkSession, d: String): DataFrame =
    graft.util.ScratchIndex.materialize(
        s, s"modularity_v1_${graft.util.ScratchIndex.corpusTag(d)}") {
    val assignment = labelProp(s, d)
    val labels = assignment.select(col("v"), col("community"))
    val communities = assignment
      .select(col("community"), col("n_members")).distinct()
    val e0 = coOrderEdges(s, d)
    val sym = symmetric(e0, "src", "dst")
    val m = e0.agg(count(lit(1)).as("m"))
    val lc = e0
      .join(labels.toDF("p1", "c1"), Seq("p1"))
      .join(labels.toDF("p2", "c2"), Seq("p2"))
      .filter(col("c1") === col("c2"))
      .groupBy(col("c1").as("community"))
      .agg(count(lit(1)).as("l_internal"))
    val dc = sym.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("degree"))
      .join(labels, Seq("v"))
      .groupBy(col("community"))
      .agg(sum(col("degree")).as("d_total"))
    val scored = communities
      .join(lc, Seq("community"), "left")
      .na.fill(0L, Seq("l_internal"))
      .join(dc, Seq("community"))
      .crossJoin(broadcast(m))
      .withColumn("x",
        col("l_internal").cast("double") / col("m").cast("double"))
      .withColumn("y",
        col("d_total").cast("double") / (col("m") * 2L).cast("double"))
    scored
      .select(col("community"), col("n_members"),
        col("l_internal"), col("d_total"),
        (col("x") - col("y") * col("y")).as("q_c"))
  }

  /** Same partition (the shared unrolled CTE chain), same exact-int
    * aggregates, the SAME x/y/x−y·y expression structure — so the
    * emitted doubles are bit-identical, not merely close.
    */
  val modularitySql: String =
    s"""$labelPropCtes,
      |m AS (
      |  SELECT count(*) AS m FROM e0
      |), lc AS (
      |  SELECT la.lbl AS community, count(*) AS l_internal
      |  FROM e0
      |  JOIN l4 la ON la.v = e0.p1
      |  JOIN l4 lb ON lb.v = e0.p2
      |  WHERE la.lbl = lb.lbl
      |  GROUP BY la.lbl
      |), dc AS (
      |  SELECT l4.lbl AS community, CAST(sum(deg.degree) AS BIGINT)
      |    AS d_total
      |  FROM (SELECT src AS v, count(*) AS degree FROM e GROUP BY src)
      |    deg
      |  JOIN l4 ON l4.v = deg.v
      |  GROUP BY l4.lbl
      |), scored AS (
      |  SELECT s.lbl AS community, s.n_members,
      |         CAST(coalesce(lc.l_internal, 0) AS BIGINT) AS l_internal,
      |         dc.d_total,
      |         CAST(coalesce(lc.l_internal, 0) AS DOUBLE)
      |           / CAST((SELECT m FROM m) AS DOUBLE) AS x,
      |         CAST(dc.d_total AS DOUBLE)
      |           / CAST((SELECT m FROM m) * 2 AS DOUBLE) AS y
      |  FROM sizes s
      |  LEFT JOIN lc ON lc.community = s.lbl
      |  JOIN dc ON dc.community = s.lbl
      |)
      |SELECT community, n_members, l_internal, d_total,
      |       x - y * y AS q_c
      |FROM scored ORDER BY community""".stripMargin

  /** Global modularity Q in EXACT INTEGER form. [[modularity]]
    * deliberately omits the global score: Q is a float SUM over
    * communities, and a distributed float sum is
    * accumulation-order-dependent — not hashable cross-engine. But
    * Q = Σ_c L_c/m − Σ_c (D_c/2m)² = sum_l/m − sum_d2/(4m²) is fully
    * determined by three exact integers, so this query emits the
    * integer numerators (n_communities, sum_l, sum_d2, m) in ONE row
    * and the oracle hashes the global score exactly; a reader (and
    * the spec) derives the double once, outside any distributed
    * accumulation, and the spec cross-checks it against the
    * per-community float sum. sum_d2 = Σ D_c² stays within BIGINT up
    * to ~1.5e9 edges ((2m)² < 2⁶³); past that the change is one cast
    * to DECIMAL(38,0) on this column.
    *
    * Plan shape at scale: one |communities|-sized aggregate on top of
    * [[modularity]]'s output — no new corpus-sized work at all; even
    * m falls out of the handshake identity Σ_c D_c = 2m (integer
    * `div`, exact in both engines), so the edge relation is not
    * re-read.
    */
  def modularityQ(s: SparkSession, d: String): DataFrame =
    modularityTable(s, d).agg(
      count(lit(1)).as("n_communities"),
      sum(col("l_internal")).as("sum_l"),
      sum(col("d_total") * col("d_total")).as("sum_d2"),
      expr("sum(d_total) div 2").as("m"))

  /** Same per-community integer aggregates as [[modularitySql]], one
    * final integer roll-up (`//` is DuckDB's integral division,
    * matching Spark's `div`).
    */
  val modularityQSql: String =
    s"""$labelPropCtes,
      |lc AS (
      |  SELECT la.lbl AS community, count(*) AS l_internal
      |  FROM e0
      |  JOIN l4 la ON la.v = e0.p1
      |  JOIN l4 lb ON lb.v = e0.p2
      |  WHERE la.lbl = lb.lbl
      |  GROUP BY la.lbl
      |), dc AS (
      |  SELECT l4.lbl AS community, CAST(sum(deg.degree) AS BIGINT)
      |    AS d_total
      |  FROM (SELECT src AS v, count(*) AS degree FROM e GROUP BY src)
      |    deg
      |  JOIN l4 ON l4.v = deg.v
      |  GROUP BY l4.lbl
      |), per AS (
      |  SELECT s.lbl,
      |         CAST(coalesce(lc.l_internal, 0) AS BIGINT) AS l_internal,
      |         dc.d_total
      |  FROM sizes s
      |  LEFT JOIN lc ON lc.community = s.lbl
      |  JOIN dc ON dc.community = s.lbl
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_communities,
      |       CAST(sum(l_internal) AS BIGINT) AS sum_l,
      |       CAST(sum(d_total * d_total) AS BIGINT) AS sum_d2,
      |       CAST(sum(d_total) // 2 AS BIGINT) AS m
      |FROM per""".stripMargin

  /** Cap on the class-2 delta-vertex prune broadcast (longs): 4M ≈
    * 32 MB shipped, inside the measured-good range (the sf10 fixture
    * broadcasts ~2M). Above it the semi-joins go unhinted — a
    * |V|-order broadcast at sf100+ would pressure the driver for a
    * prune that at that delta density saves little anyway.
    */
  private val BcastVertCap = 4000000L

  /** Both orientations of canonical (p1, p2) edges as (`a`, `b`)
    * rows: the undirected edge relation every walk, degree and
    * adjacency build reads.
    */
  private def symmetric(e: DataFrame, a: String, b: String): DataFrame =
    e.select(col("p1").as(a), col("p2").as(b))
      .unionAll(e.select(col("p2").as(a), col("p1").as(b)))

  /** Co-purchase pairs over a lineitem subset — the [[coOrderEdgesPlan]]
    * shape, parameterized so the base/delta split shares one
    * definition with the full rebuild.
    *
    * Group-then-expand instead of self-join (r18): collect each
    * order's distinct sorted item set with ONE keyed aggregation
    * (partial aggregation collapses duplicate (ok, p) rows map-side),
    * then expand the p1<p2 pairs row-locally with two generators —
    * where the self-join shuffled the relation twice (both join
    * sides) and only then built pairs, this shuffles it once and
    * builds the identical pair set from the grouped row (guide §2.3
    * aggregate-before-shuffle + §2.4 remove shuffles outright). The
    * trailing distinct() over pairs is shared by both shapes (the
    * same pair arises from many orders).
    */
  private def pairsOf(li: DataFrame): DataFrame =
    li.toDF("ok", "p")
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("p"))).as("ps"))
      .select(explode(col("ps")).as("p1"), col("ps"))
      .select(col("p1"),
        explode(filter(col("ps"), x => x > col("p1"))).as("p2"))
      .distinct()

  /** Symmetric per-vertex degree of an edge relation. */
  private def degreesOf(e: DataFrame): DataFrame =
    e.select(col("p1").as("v")).unionAll(e.select(col("p2").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))

  /** Yesterday's edge relation (base orders only) — memoized; the
    * base lineitem is scanned for graph building once per corpus.
    * The [[Delta]] parameterizes the base/delta split so the
    * constant-sized-delta CONTROL (tools.Profile `incdegreeconst`,
    * VERDICT r15 #6) runs the same artifacts against a delta that
    * does not grow with the corpus; the default is the registered
    * query's fixture split with its original memo keys.
    *
    * CLUSTERED layout: range-partitioned and sorted by (p1, p2), so
    * parquet row-group min/max stats can serve a pushed key-range
    * filter — the Spark stand-in for a lake table clustered on its
    * key. The incremental probes pre-filter by the delta batch's key
    * envelope ([[keyEnvelope]]); measured at the sf10 constant-delta
    * control, the unclustered probe was a 5–9 s full scan of the
    * base edges per update and the clustered probe reads only the
    * batch's key footprint.
    */
  private[graft] def baseGraphEdges(s: SparkSession, d: String,
      delta: Delta = Delta.Lineitem): DataFrame =
    graft.util.ScratchIndex.materialize(
        // "edgesbase2": the literal bumps with the BUILD RECIPE (the
        // r16 clustering changed the artifact's physical layout
        // without a bump — safe only because scratch is pid-scoped;
        // ADVICE r16). The key must embed everything that determines
        // the bytes, so a future shared-scratch mode can never alias
        // a stale unsorted artifact. The delta's tag identifies the
        // SPLIT (registered fixture vs const-delta control), not the
        // recipe.
        s, delta.key("edgesbase2", d)) {
      pairsOf(delta.base(lineitem(s, d))
        .select(col("l_orderkey"), col("l_partkey")))
        .repartitionByRange(col("p1"), col("p2"))
        .sortWithinPartitions("p1", "p2")
    }

  /** The delta batch's key envelope — four bounded scalars to the
    * driver (the pagerank-n discipline). Probes of the range-sorted
    * base artifacts pre-filter by it: a base row outside the envelope
    * cannot equal (or close) any delta row, so the filter is PURE
    * PRUNING — hashes are untouched — while parquet row-group stats
    * skip everything outside the batch's key footprint. With a
    * constant-SIZED daily batch the probe cost becomes the batch's
    * footprint, not the corpus. None = empty delta (prune all).
    *
    * CONSTRUCTION IS EFFECTFUL (ADVICE r16): the `.head()` here runs
    * a Spark job — and, transitively, the first-touch base/delta
    * artifact builds — at DataFrame-CONSTRUCTION time, and the
    * envelope bounds are baked into the returned plan as literals.
    * That is deliberate: the literals are what parquet row-group
    * pruning needs in `PushedFilters` (a scalar-subquery form keeps
    * construction lazy but the dynamic filter does not reach the
    * scan as min/max stats pruning on a DSv1 parquet relation). Every
    * caller of the incremental graph queries therefore pays the
    * bounded envelope job when BUILDING the query, not when running
    * it — the same contract as `pagerank`'s n-scalar and the class-2
    * delta-vertex gate below.
    */
  private def keyEnvelope(delta: DataFrame)
      : Option[(Long, Long, Long, Long)] = {
    val r = delta.agg(min(col("p1")), max(col("p1")),
      min(col("p2")), max(col("p2"))).head()
    if (r.isNullAt(0)) None
    else Some((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
  }

  /** Range-prune a canonical (p1, p2) edge relation to an envelope. */
  private def pruneEdges(base: DataFrame,
      env: Option[(Long, Long, Long, Long)]): DataFrame = env match {
    case Some((l1, h1, l2, h2)) =>
      base.filter(col("p1").between(l1, h1) && col("p2").between(l2, h2))
    case None => base.filter(lit(false))
  }

  /** The dup-probe build side. The REGISTERED query keeps shuffle-hash
    * because its fixture delta is 10% of the corpus (4M pairs at sf10,
    * past profitable broadcast size — the r15 adjudication), but a real
    * constant-sized daily batch IS broadcast-sized ([[Delta.broadcast]]),
    * and with the delta broadcast the base-edge side has NO exchange at
    * all: the probe is one scan-only pass.
    */
  private def hinted(delta: Delta, df: DataFrame): DataFrame =
    if (delta.broadcast) broadcast(df) else df.hint("shuffle_hash")

  /** Yesterday's degree table, persisted beside the base edges. */
  private[graft] def baseGraphDegrees(s: SparkSession, d: String,
      delta: Delta = Delta.Lineitem): DataFrame =
    graft.util.ScratchIndex.materialize(s, delta.key("degbase", d)) {
      degreesOf(baseGraphEdges(s, d, delta))
    }

  /** Today's pair batch, memoized beside the base artifacts (the
    * `ivfdelta` precedent: the delta extraction is deterministic per
    * corpus and several branches of the update consume it — mined
    * once, read back columnar thereafter).
    */
  private[graft] def deltaGraphPairs(s: SparkSession, d: String,
      delta: Delta = Delta.Lineitem): DataFrame =
    graft.util.ScratchIndex.materialize(s, delta.key("deltapairs", d)) {
      pairsOf(delta.batch(lineitem(s, d))
        .select(col("l_orderkey"), col("l_partkey")))
    }

  /** Incremental degree maintenance — the daily-ingest path of the
    * graph-curation family (every other family already has one: LSH
    * index, clusters, IVF, SCD2, agg state, novelty). The degree
    * table is THE standing per-vertex graph artifact (k-core
    * thresholds, connectivity scores, degree histograms all read it),
    * and a daily batch of new orders must update it without
    * re-scanning yesterday's lineitem:
    *
    *  1. co-purchase pairs are mined from the DELTA rows only
    *     ([[deltaGraphPairs]] — the only text/fact scan of the update);
    *  2. the increment per vertex is deg(delta pairs) MINUS
    *     deg(delta pairs already in the base): ONE semi-join pass
    *     over the persisted base edge relation yields the duplicate
    *     set, and both degree counts are delta-bounded aggregates —
    *     this subtraction form needs no anti-join, so no plan branch
    *     re-derives the probe. The join is HINTED shuffle-hash with
    *     the delta as the build side (the commonNeighbors precedent):
    *     a broadcast hint was measured WORSE (20.6 s steady — this
    *     fixture's delta is 10% of the corpus, 4M pairs at sf10,
    *     past the profitable broadcast size) and the SMJ default
    *     sorts the 41M-row base side (9 GB memory spill); the
    *     shuffle-hash build map is delta-bounded per task. On a lake
    *     layout bucketed by (p1,p2) the base side's exchange
    *     disappears entirely. The probe additionally pre-filters the
    *     range-sorted base edges by the batch's key envelope
    *     ([[keyEnvelope]] — pure pruning, hash-neutral): measured at
    *     the sf10 constant-delta control, the un-enveloped probe was
    *     an 8–12 s full scan per update and the enveloped probe holds
    *     the whole update FLAT at 1.2–2.5 s across sf1→sf10 (the
    *     10%-fraction fixture's envelope spans the full key range, so
    *     the registered query is unchanged — re-measured 6.96–8.86 s
    *     at sf10 vs 8.9 s before);
    *  3. merged = (base degree table ∪ increments) → one keyed sum:
    *     the only shuffle of corpus-sized data is the VERTEX table
    *     (|V| rows, orders of magnitude below |E|; co-partitioned/
    *     bucketed on a real lake, where it disappears), and
    *     first-seen-today vertices fall out of the same union — no
    *     separate new-vertex branch.
    *
    * Exact by construction: the full graph's distinct pair set is the
    * disjoint union of base pairs and (delta ∖ base), so degrees add —
    * the oracle replays the full rebuild and the hash proves
    * merge ≡ rebuild, the `dedup_lsh_incremental` discipline.
    * Measured at the sf10 fixture: 8.9 s steady state vs 34.4 s for
    * the full rebuild (edge self-join + distinct + degree agg) —
    * 3.9×, in line with the family's other delta paths — with the
    * delta read and the single base-edge pass the only remaining
    * costs. Three prior formulations adjudicated by measurement: the
    * anti-join + three-broadcast-branch form re-executed the delta
    * mining in every consuming branch (26 s, barely below rebuild);
    * hinting the dup probe to broadcast spent 20.6 s building a
    * 4M-row broadcast relation each run; the unhinted SMJ sorted the
    * base side into 9 GB of memory spill (11.1 s).
    *
    * Why the OTHER graph queries don't get a delta path (measured
    * adjudication, r15): bounded-round label-prop/BFS/pagerank labels
    * are functions of the R-hop neighborhood, and this co-purchase
    * graph's diameter is ~3-4 — the affected region of ANY delta edge
    * (vertices within R hops of an endpoint, whose R-hop balls the
    * exact recompute then needs) is the 2R-hop ball ≈ the ENTIRE
    * graph, so an exact incremental path degenerates to the rebuild.
    * Degree (this query) and the converged connected-components path
    * (`dedup_clusters_incremental`) are the graph artifacts whose
    * update cost is delta-local.
    */
  def degreeIncremental(s: SparkSession, d: String,
      delta: Delta = Delta.Lineitem): DataFrame = {
    val deltaPairs = deltaGraphPairs(s, d, delta)
    // delta pairs already present in the base: ONE probe pass over
    // the persisted base edges (output ≤ |delta|), pruned to the
    // batch's key envelope so the range-sorted layout skips row
    // groups outside the batch's footprint
    val dup = pruneEdges(baseGraphEdges(s, d, delta),
        keyEnvelope(deltaPairs))
      .join(hinted(delta, deltaPairs), Seq("p1", "p2"), "left_semi")
    val inc = degreesOf(deltaPairs)
      .select(col("v"), col("degree").as("d_over"))
      .join(degreesOf(dup).select(col("v"), col("degree").as("d_dup")),
        Seq("v"), "left")
      .select(col("v"),
        (col("d_over") - coalesce(col("d_dup"), lit(0L))).as("degree"))
      .filter(col("degree") > 0L)
    baseGraphDegrees(s, d, delta).unionAll(inc)
      .groupBy(col("v")).agg(sum(col("degree")).as("degree"))
      .orderBy("v")
  }

  /** Full-rebuild replay over all of lineitem: the hash match proves
    * the incrementally-maintained degree table IS the rebuild's.
    */
  val degreeIncrementalSql: String =
    """WITH e0 AS (
      |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      |  FROM lineitem a
      |  JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), und AS (
      |  SELECT p1 AS v FROM e0 UNION ALL SELECT p2 FROM e0
      |)
      |SELECT v, count(*) AS degree FROM und GROUP BY v
      |ORDER BY v""".stripMargin

  /** Base UNDIRECTED sorted adjacency (per-vertex neighbor lists over
    * the persisted base edges), materialized beside the base edge and
    * degree artifacts. Bytes are edge-sized (2|E| longs packed into
    * |V| rows); built once per corpus, then every incremental update
    * PROBES it instead of re-joining base edges. The out-adjacency
    * that [[triangles]] uses is not enough here: an incremental
    * triangle's delta edge can be any of the triangle's three edges,
    * so the common-neighbor lookup has no canonical-orientation
    * shortcut.
    */
  private[graft] def baseGraphAdjacency(s: SparkSession, d: String,
      delta: Delta = Delta.Lineitem): DataFrame =
    graft.util.ScratchIndex.materialize(s, delta.key("adjbase", d)) {
      val e = baseGraphEdges(s, d, delta)
      symmetric(e, "v", "u")
        .groupBy(col("v"))
        .agg(sort_array(collect_list(col("u"))).as("nbrs"))
        .repartitionByRange(col("v"))
        .sortWithinPartitions("v")
    }

  /** Base triangle/edge summary — ONE row (n_triangles, n_edges,
    * max p2) over the base edges, computed with the [[triangles]]
    * adjacency-intersection plan and persisted ("once ever", the
    * [[baseGraphDegrees]] discipline). The incremental path adds the
    * delta's triangle classes to these integers without touching the
    * base pair self-join again.
    */
  private[graft] def baseTriangleStats(s: SparkSession, d: String,
      delta: Delta = Delta.Lineitem): DataFrame =
    graft.util.ScratchIndex.materialize(s, delta.key("tribase", d)) {
      val e = baseGraphEdges(s, d, delta)
      val adj = e.groupBy(col("p1").as("v"))
        .agg(sort_array(collect_list(col("p2"))).as("nbrs"))
      val tri = e
        .join(adj.select(col("v").as("va"), col("nbrs").as("na")),
          col("p1") === col("va")).drop("va")
        .join(adj.select(col("v").as("vb"), col("nbrs").as("nb")),
          col("p2") === col("vb")).drop("vb")
        .select(graft.functions.SetSimilarityFunctions
          .sorted_long_intersect(col("na"), col("nb")).as("closes"))
        .agg(coalesce(sum(col("closes")), lit(0L)).as("tri_b"))
      val st = e.agg(count(lit(1)).as("edges_b"),
        max(col("p2")).as("maxp2_b"))
      tri.crossJoin(st)
    }

  /** Distinct LEFT vertices (canonical p1) of the base edges —
    * |V|-bounded, persisted so the full graph's n_left_vertices is a
    * union of this table with the delta's p1 set instead of a
    * full-edge distinct.
    */
  private[graft] def baseP1Vertices(s: SparkSession, d: String,
      delta: Delta = Delta.Lineitem): DataFrame =
    graft.util.ScratchIndex.materialize(s, delta.key("p1base", d)) {
      baseGraphEdges(s, d, delta).select(col("p1")).distinct()
    }

  /** Truly-new delta edges D = (delta-mined pairs) ∖ (base edges) —
    * the dup probe is the degree path's adjudicated shape (ONE
    * hinted pass over the persisted base edges with the delta as
    * build side, output ≤ |delta|), followed by a delta-bounded
    * anti-join. Memoized: every triangle class and the summary stats
    * consume it.
    */
  private[graft] def freshDeltaEdges(s: SparkSession, d: String,
      delta: Delta = Delta.Lineitem): DataFrame =
    graft.util.ScratchIndex.materialize(s, delta.key("deltafresh", d)) {
      val deltaAll = deltaGraphPairs(s, d, delta)
      val dup = pruneEdges(baseGraphEdges(s, d, delta),
          keyEnvelope(deltaAll))
        .join(hinted(delta, deltaAll), Seq("p1", "p2"), "left_semi")
      deltaAll.join(dup, Seq("p1", "p2"), "left_anti")
    }

  /** Incremental triangle-count maintenance — the motif companion to
    * [[degreeIncremental]], completing the graph family's delta paths
    * for the artifacts whose update cost is delta-local. The full
    * graph's edge set is the DISJOINT union of the persisted base
    * edges B and the truly-new delta edges D ([[freshDeltaEdges]]),
    * so every triangle of the updated graph falls into exactly one
    * class by how many of its three edges are in D, and the classes
    * add as exact integers:
    *
    *  - 0 delta edges: yesterday's count, read from the persisted
    *    [[baseTriangleStats]] row — never recomputed;
    *  - 1 delta edge (a,b): the other two edges are BASE edges, so
    *    the count is |N_B(a) ∩ N_B(b)| summed over D — two hinted
    *    probes of the persisted undirected base adjacency
    *    ([[baseGraphAdjacency]]) with the fused sorted-merge
    *    intersect kernel, no wedge row materialized. Counted once,
    *    at the triangle's unique delta edge;
    *  - 2 delta edges: they necessarily share a vertex, so the count
    *    is |N_D(x) ∩ N_D(y)| summed over base edges (x,y) whose BOTH
    *    endpoints the batch touched (two broadcast delta-vertex
    *    semi-joins prune the base scan first) — base-linear with the
    *    same fused intersect kernel; the delta-local wedge dual is
    *    delta-degree-quadratic and was measured to OOM on this
    *    fixture's dense delta (see the inline note). Counted once,
    *    at the triangle's unique base edge;
    *  - 3 delta edges: [[triangles]]' canonical out-adjacency
    *    intersection run over D alone — entirely delta-local.
    *
    * D ∩ B = ∅ makes the classes mutually exclusive (a class-2
    * triangle's closing edge cannot also be counted as class-3, and a
    * class-1 triangle's base edges cannot be delta edges), so the sum
    * T_base + T1 + T2 + T3 is exact — the DuckDB oracle replays the
    * FULL rebuild ([[trianglesSql]]) and the hash proves
    * merge ≡ rebuild, the `dedup_lsh_incremental` discipline. The
    * summary columns stay maintainable integers: n_edges = |B| + |D|
    * (disjoint), n_left_vertices from the persisted base p1 set ∪
    * delta p1s, max_vertex = greatest(base max, delta max).
    *
    * Plan shape at scale: the update touches the delta (mined once,
    * memoized), TWO streamed passes over the base adjacency bytes and
    * one over the base edges (all hinted shuffle-hash with the
    * delta-bounded side as build — the [[degreeIncremental]]
    * adjudication; on a lake bucketed by vertex/pair the base-side
    * exchanges disappear), and delta-local joins. Nothing re-runs the
    * full-corpus pair self-join + distinct — the rebuild's dominant
    * cost.
    */
  def trianglesIncremental(s: SparkSession, d: String,
      delta: Delta = Delta.Lineitem): DataFrame =
    trianglesIncrementalParts(s, d, delta)
      .select(col("n_triangles"), col("n_edges"),
        col("n_left_vertices"), col("max_vertex"))

  /** The full update, exposing the per-class counts (t1, t2, t3)
    * beside the maintained summary — the spec asserts the class
    * decomposition, the registered query projects the [[triangles]]
    * schema.
    */
  private[graft] def trianglesIncrementalParts(s: SparkSession,
      d: String, delta: Delta): DataFrame = {
    val fresh = freshDeltaEdges(s, d, delta)
    // the batch's key envelope, once: every base-artifact probe below
    // pre-filters by it so the range-sorted layouts skip row groups
    // outside the batch's footprint (pure pruning — see keyEnvelope)
    val env = keyEnvelope(fresh)
    def pruneV(adj: DataFrame, lo: Long, hi: Long): DataFrame =
      adj.filter(col("v").between(lo, hi))

    // class 1: delta edge, two base edges — probe the base adjacency
    val adj = baseGraphAdjacency(s, d, delta)
    val adjA = env.fold(adj.filter(lit(false))) {
      case (l1, h1, _, _) => pruneV(adj, l1, h1) }
    val adjB = env.fold(adj.filter(lit(false))) {
      case (_, _, l2, h2) => pruneV(adj, l2, h2) }
    // join 1 builds its hash map from the NARROW delta side; join 2
    // stays unhinted — its left input carries the na arrays, and a
    // shuffle-hash build map of array payloads cannot spill (measured
    // SparkOutOfMemoryError at the sf10 fixture; sort-merge spills
    // gracefully and AQE still picks hash when the pruned side fits)
    val t1 = hinted(delta, fresh)
      .join(adjA.select(col("v").as("va"), col("nbrs").as("na")),
        col("p1") === col("va")).drop("va")
      .join(adjB.select(col("v").as("vb"), col("nbrs").as("nb")),
        col("p2") === col("vb")).drop("vb")
      .select(graft.functions.SetSimilarityFunctions
        .sorted_long_intersect(col("na"), col("nb")).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("t1"))

    // class 2: a base edge (x,y) closing two delta edges — counted
    // FROM THE BASE EDGE as |N_D(x) ∩ N_D(y)| over the delta's
    // undirected adjacency. The dual wedge form (delta self-join on
    // the shared vertex, then probe base) is delta-LOCAL but
    // delta-degree-QUADRATIC: at the sf10 fixture (avg delta degree
    // ~120) it materialized ~1.4B wedge rows and the probe's
    // shuffle-hash build map OOM'd even at 24 GB — measured, twice.
    // This form is base-LINEAR with no hash map (sort-merge spills),
    // and two broadcast delta-vertex semi-joins prune the base scan
    // to edges whose BOTH endpoints the batch touched — for a real
    // constant-sized daily batch that's the batch's neighborhood,
    // not the corpus (the fixture's dense 10% delta touches every
    // vertex, so for it the prune is a no-op and the pass is the
    // linear cost the const control isolates).
    val symd = symmetric(fresh, "v", "u")
    val adjDU = symd.groupBy(col("v"))
      .agg(sort_array(collect_list(col("u"))).as("nbrs"))
    val deltaVerts = symd.select(col("v")).distinct()
    // the prune relation is |delta-touched vertices|-sized, which for
    // the registered 10%-fraction fixture is nearly |V| — measured
    // fine at sf10 (~2M longs) but unbounded in |V| beyond it
    // (ADVICE r16). Gate the broadcast on a bounded count (one more
    // bounded scalar at construction, see [[keyEnvelope]]): under the
    // cap the two semi-joins are broadcast (no exchange on the base
    // side); over it they fall back to unhinted semi-joins and the
    // planner shuffles rather than ship an |V|-order broadcast.
    val nDeltaVerts = deltaVerts.count()
    def vHinted(df: DataFrame): DataFrame =
      if (nDeltaVerts <= BcastVertCap) broadcast(df) else df
    val vEnv = env.map { case (l1, h1, l2, h2) =>
      (math.min(l1, l2), math.max(h1, h2)) }
    val basePruned = vEnv.fold(
        baseGraphEdges(s, d, delta).filter(lit(false))) {
      case (vl, vh) => baseGraphEdges(s, d, delta)
        .filter(col("p1").between(vl, vh) && col("p2").between(vl, vh))
    }
    val baseCand = basePruned
      .join(vHinted(deltaVerts.toDF("p1")), Seq("p1"), "left_semi")
      .join(vHinted(deltaVerts.toDF("p2")), Seq("p2"), "left_semi")
    val t2 = baseCand
      .join(adjDU.select(col("v").as("vx"), col("nbrs").as("nx")),
        col("p1") === col("vx")).drop("vx")
      .join(adjDU.select(col("v").as("vy"), col("nbrs").as("ny")),
        col("p2") === col("vy")).drop("vy")
      .select(graft.functions.SetSimilarityFunctions
        .sorted_long_intersect(col("nx"), col("ny")).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("t2"))

    // class 3: triangles entirely within the delta — the canonical
    // out-adjacency intersection over D alone
    val adjD = fresh.groupBy(col("p1").as("v"))
      .agg(sort_array(collect_list(col("p2"))).as("nbrs"))
    val t3 = fresh
      .join(adjD.select(col("v").as("va"), col("nbrs").as("na")),
        col("p1") === col("va")).drop("va")
      .join(adjD.select(col("v").as("vb"), col("nbrs").as("nb")),
        col("p2") === col("vb")).drop("vb")
      .select(graft.functions.SetSimilarityFunctions
        .sorted_long_intersect(col("na"), col("nb")).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("t3"))

    // maintained summary: all bounded single-row aggregates plus the
    // |V|-bounded distinct-p1 union
    val deltaStats = fresh.agg(count(lit(1)).as("edges_d"),
      max(col("p2")).as("maxp2_d"))
    val nLeft = baseP1Vertices(s, d, delta)
      .unionAll(fresh.select(col("p1")))
      .agg(countDistinct(col("p1")).as("n_left_vertices"))

    baseTriangleStats(s, d, delta)
      .crossJoin(t1).crossJoin(t2).crossJoin(t3)
      .crossJoin(deltaStats).crossJoin(nLeft)
      .select(
        (col("tri_b") + col("t1") + col("t2") + col("t3"))
          .as("n_triangles"),
        (col("edges_b") + col("edges_d")).as("n_edges"),
        col("n_left_vertices"),
        greatest(col("maxp2_b"), col("maxp2_d")).as("max_vertex"),
        col("t1"), col("t2"), col("t3"))
  }

  /** Fixed peel-round count for [[kcorePeel]]. Bounded like
    * [[LpRounds]]/[[PrIters]]/[[MaxHops]] so both engines run the
    * identical round count; on this near-uniform co-purchase graph
    * the peel at K = ⌊avg degree⌋ quiesces (empties or stabilizes)
    * within 3 rounds, so 4 covers convergence with a spare round.
    */
  private val KcRounds = 4

  /** Bounded-round k-core peeling: per-vertex PEEL LAYER (the number
    * of peel rounds survived at threshold K = ⌊average degree⌋) over
    * the undirected co-purchase graph — the density/coreness
    * complement to [[bfsHops]] (distance), [[pagerank]] (authority)
    * and [[labelProp]] (community). Each round simultaneously removes
    * every vertex whose degree in the CURRENT subgraph is below K and
    * restricts the edge relation to the survivors; a vertex's layer
    * is the last round it survived (0 = peeled immediately,
    * [[KcRounds]] = still in the residual core). The layer is the
    * standard graph-curation density score (which vertices sit in a
    * well-connected region vs hang off the periphery), and emitting
    * it per vertex keeps the output total — every vertex gets a row —
    * so the hash pins the entire peel cascade, not just the
    * (possibly empty) final core.
    *
    * K adapts to the corpus as ⌊2|E| / |V|⌋ computed by exact INTEGER
    * division from two bounded scalar actions (the pagerank-n
    * discipline) — both engines truncate the same positive longs, so
    * no float enters the threshold. All emitted columns are integers:
    * no float-tie surface anywhere.
    *
    * Plan shape at scale: the same iterative-join discipline as
    * [[pagerank]]/[[labelProp]] — each round is ONE keyed count
    * aggregation over the current edges plus TWO semi-joins
    * restricting the edge relation, all O(|E|) shuffles, with the
    * FIXED round count bounding the number of shuffles. Per-round
    * edge relations are persisted and lineage-truncated; the loop
    * SHORT-CIRCUITS when a round's survivor set is empty (later
    * rounds are no-ops on an empty subgraph); the converged layer
    * table is memoized per corpus via ScratchIndex.
    */
  def kcorePeel(s: SparkSession, d: String): DataFrame =
    LoopScope.scoped { sc =>
      graft.util.ScratchIndex.materialize(
          s, s"kcore_v1_${graft.util.ScratchIndex.corpusTag(d)}") {
        val sym = sc.pin(symmetric(coOrderEdges(s, d), "src", "dst"))
        val deg0 = sc.pin(sym.groupBy(col("src").as("v"))
          .agg(count(lit(1)).as("degree")))
        // two bounded scalars to the driver; Long division truncates
        // positives exactly like the oracle's integer `//`
        val k = sym.count() / deg0.count()
        var edges = sym
        // survivors of round r, tagged r; round 0 = the full vertex set
        var tagged = deg0.select(col("v"), lit(0L).as("r"))
        var r = 1
        var alive = true
        while (r <= KcRounds && alive) {
          val surv = sc.pin(edges.groupBy(col("src").as("v"))
            .agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= k).select(col("v")))
          alive = surv.count() > 0L
          if (alive) {
            tagged = tagged.unionAll(surv.withColumn("r", lit(r.toLong)))
            edges = sc.next(edges
              .join(surv, edges("src") === surv("v"), "left_semi")
              .join(surv, edges("dst") === surv("v"), "left_semi"))
          }
          r += 1
        }
        deg0.join(
          tagged.groupBy(col("v")).agg(max(col("r")).as("layer")), "v")
          .select(col("v"), col("degree"), col("layer"))
      }
    }.orderBy("v")

  /** Unrolled 4-round replay; layer via nested-core membership
    * (s4 ⊆ s3 ⊆ s2 ⊆ s1, so the first non-null from the deepest side
    * is the last round survived). `//` is DuckDB integer division —
    * the same positive-long truncation the Spark driver computes.
    */
  val kcorePeelSql: String =
    """WITH e0 AS (
      |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      |  FROM lineitem a
      |  JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |), e AS (
      |  SELECT p1 AS src, p2 AS dst FROM e0
      |  UNION ALL SELECT p2, p1 FROM e0
      |), deg AS (
      |  SELECT src AS v, count(*) AS degree FROM e GROUP BY src
      |), kk AS (
      |  SELECT (SELECT count(*) FROM e) // (SELECT count(*) FROM deg)
      |    AS k
      |), s1 AS (
      |  SELECT src AS v FROM e
      |  GROUP BY src HAVING count(*) >= (SELECT k FROM kk)
      |), e1 AS (
      |  SELECT e.src, e.dst FROM e
      |  JOIN s1 a ON e.src = a.v JOIN s1 b ON e.dst = b.v
      |), s2 AS (
      |  SELECT src AS v FROM e1
      |  GROUP BY src HAVING count(*) >= (SELECT k FROM kk)
      |), e2 AS (
      |  SELECT e1.src, e1.dst FROM e1
      |  JOIN s2 a ON e1.src = a.v JOIN s2 b ON e1.dst = b.v
      |), s3 AS (
      |  SELECT src AS v FROM e2
      |  GROUP BY src HAVING count(*) >= (SELECT k FROM kk)
      |), e3 AS (
      |  SELECT e2.src, e2.dst FROM e2
      |  JOIN s3 a ON e2.src = a.v JOIN s3 b ON e2.dst = b.v
      |), s4 AS (
      |  SELECT src AS v FROM e3
      |  GROUP BY src HAVING count(*) >= (SELECT k FROM kk)
      |)
      |SELECT deg.v, deg.degree,
      |       CAST(CASE WHEN s4.v IS NOT NULL THEN 4
      |                 WHEN s3.v IS NOT NULL THEN 3
      |                 WHEN s2.v IS NOT NULL THEN 2
      |                 WHEN s1.v IS NOT NULL THEN 1
      |                 ELSE 0 END AS BIGINT) AS layer
      |FROM deg
      |LEFT JOIN s1 ON s1.v = deg.v
      |LEFT JOIN s2 ON s2.v = deg.v
      |LEFT JOIN s3 ON s3.v = deg.v
      |LEFT JOIN s4 ON s4.v = deg.v
      |ORDER BY deg.v""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_triangles"  -> (triangles _),
    "graph_degree_hist" -> (degreeHistogram _),
    "graph_bfs_hops"   -> (bfsHops _),
    "graph_pagerank"   -> (pagerank _),
    "graph_common_neighbors" -> (commonNeighbors _),
    "graph_label_prop" -> (labelProp _),
    "graph_kcore"      -> (kcorePeel _),
    "graph_modularity" -> (modularity _),
    "graph_modularity_q" -> (modularityQ _),
    "graph_degree_incremental" -> (degreeIncremental(_, _)),
    "graph_triangles_incremental" -> (trianglesIncremental(_, _)),
  )

  val oracle: Map[String, String] = Map(
    "graph_triangles"  -> trianglesSql,
    "graph_degree_hist" -> degreeHistogramSql,
    "graph_bfs_hops"   -> bfsHopsSql,
    "graph_pagerank"   -> pagerankSql,
    "graph_common_neighbors" -> commonNeighborsSql,
    "graph_label_prop" -> labelPropSql,
    "graph_kcore"      -> kcorePeelSql,
    "graph_modularity" -> modularitySql,
    "graph_modularity_q" -> modularityQSql,
    "graph_degree_incremental" -> degreeIncrementalSql,
    // merge ≡ rebuild: the incremental path must hash-match the full
    // triangle rebuild over all of lineitem
    "graph_triangles_incremental" -> trianglesSql,
  )
}
