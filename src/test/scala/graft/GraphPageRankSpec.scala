package graft

import org.apache.spark.sql.functions._
import graft.ops.Graph
import graft.util.{Delta, LoopScope}

/** PageRank (bounded power iteration) and the BFS frontier-bound
  * measurement: the two propagation primitives are cross-checked
  * against independent plain-Scala reimplementations over the
  * collected edge list, and the structural invariants (mass
  * conservation, teleport floor, frontier short-circuit) are pinned.
  */
class GraphPageRankSpec extends SparkTestBase {

  import spark.implicits._

  /** Collected undirected co-purchase adjacency at sf0.001 — small by
    * construction (the spec-side reimplementation; the engine never
    * collects edges).
    */
  private lazy val adj: Map[Long, Seq[Long]] = {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect()
    val m = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    for (grp <- li.groupBy(_._1).values;
         Array(a, b) <- grp.map(_._2).distinct.sorted.combinations(2)) {
      m(a) += b; m(b) += a
    }
    m.view.mapValues(_.toSeq.sorted).toMap
  }

  test("pagerank matches a plain-Scala power iteration within 1e-9") {
    val n = adj.size
    var rank = adj.keys.map(v => v -> 1.0 / n).toMap
    for (_ <- 1 to 5) {
      val contribs = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      for ((u, nbrs) <- adj; v <- nbrs)
        contribs(v) += rank(u) / nbrs.size
      rank = adj.keys.map(v => v -> (0.15 / n + 0.85 * contribs(v))).toMap
    }
    val got = Graph.pagerank(spark, sf)
      .select($"v", $"rank_norm").as[(Long, Double)].collect().toMap
    assert(got.keySet === rank.keySet)
    // the engines sum in different orders — compare within the float
    // budget the output rounding absorbs, not bit-exactly
    got.foreach { case (v, g) =>
      assert(math.abs(g - rank(v) * n) < 1e-9,
        s"vertex $v: engine $g vs local ${rank(v) * n}")
    }
  }

  test("pagerank invariants: mass conserved, teleport floor, degree exact") {
    val pr = Graph.pagerank(spark, sf).cache()
    val n = pr.count()
    assert(n > 0)
    // Σ rank = 1 ⇔ avg(rank·N) = 1: teleport adds 0.15, propagation
    // keeps 0.85 of a unit mass (no dangling vertices by construction)
    val mean = pr.agg(avg($"rank_norm")).as[Double].head()
    assert(math.abs(mean - 1.0) < 1e-6, s"mean normalized rank $mean")
    // every vertex keeps at least the teleport share
    assert(pr.filter($"rank_norm" < 0.15).count() === 0)
    // the joined degree column is the true undirected degree
    val deg = pr.select($"v", $"degree").as[(Long, Long)].collect().toMap
    assert(deg === adj.view.mapValues(_.size.toLong).toMap)
    pr.unpersist()
  }

  test("bfs frontier sizes equal the plain-Scala BFS level sizes") {
    // graduates the frontier-bound claim (each hop shuffles
    // O(frontier × avg-degree) rows) from argument to measurement:
    // the engine's per-hop counts must equal the true BFS level sizes
    val seeds = adj.keySet.filter(_ <= 5L)
    assert(seeds.nonEmpty)
    val levels = scala.collection.mutable.ArrayBuffer(seeds)
    val seen = scala.collection.mutable.Set[Long]() ++= seeds
    var cur = seeds
    var h = 0
    while (cur.nonEmpty && h < 4) {
      cur = cur.flatMap(adj.getOrElse(_, Seq.empty)).toSet.diff(seen)
      seen ++= cur
      levels += cur
      h += 1
    }
    val want = levels.map(_.size.toLong).toSeq
    val (visN, counts) = LoopScope.scoped { sc =>
      val (visited, counts) = Graph.bfsWalk(sc, spark, sf)
      (visited.count(), counts)
    }
    // engine counts match level sizes exactly; a short-circuited walk
    // reports at most one trailing zero (the convergence probe)
    assert(counts.takeWhile(_ > 0L) === want.takeWhile(_ > 0L))
    assert(counts.count(_ === 0L) <= 1)
    assert(visN === seen.size.toLong)
  }

  test("label propagation matches a plain-Scala min-label walk") {
    // 4 synchronous rounds of label'(v) = min(label(v), min over
    // N(v)) — the deterministic reimplementation of Graph.labelProp
    var lbl: Map[Long, Long] = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to 4)
      lbl = lbl.map { case (v, l) =>
        v -> math.min(l, adj(v).map(lbl).min)
      }
    val sizes = lbl.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val want = lbl.toSeq.map { case (v, c) => (v, c, sizes(c)) }
      .sortBy(_._1)
    val got = Graph.labelProp(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === want)
    // labels only ever move DOWN, to an id reachable within the round
    // bound; n_members is a consistent partition of the vertex set
    // (root membership is NOT asserted: under bounded rounds a
    // community's eponymous vertex can itself relabel further down
    // while distant members still carry it)
    got.foreach { case (v, c, _) => assert(c <= v) }
    got.groupBy(_._2).foreach { case (_, members) =>
      assert(members.forall(_._3 === members.size.toLong))
    }
  }

  test("modularity matches a plain-Scala score of the min-label partition") {
    // recompute the bounded-round partition, then Newman's Q_c per
    // community with the same x − y·y expression structure — exact
    // double equality, the fixed-scalar-expression float case
    var lbl: Map[Long, Long] = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to 4)
      lbl = lbl.map { case (v, l) =>
        v -> math.min(l, adj(v).map(lbl).min)
      }
    val edges = adj.toSeq.flatMap { case (a, ns) =>
      ns.filter(_ > a).map(b => (a, b))
    }
    val m = edges.size.toLong
    val lc = edges.filter { case (a, b) => lbl(a) == lbl(b) }
      .groupBy { case (a, _) => lbl(a) }.view.mapValues(_.size.toLong)
    val dc = adj.toSeq.groupBy { case (v, _) => lbl(v) }.view
      .mapValues(_.map(_._2.size.toLong).sum)
    val nm = lbl.values.groupBy(identity).view.mapValues(_.size.toLong)
    val want = lbl.values.toSeq.distinct.sorted.map { c =>
      val l = lc.toMap.getOrElse(c, 0L)
      val d = dc.toMap.apply(c)
      val x = l.toDouble / m.toDouble
      val y = d.toDouble / (2L * m).toDouble
      (c, nm.toMap.apply(c), l, d, x - y * y)
    }
    val got = Graph.modularity(spark, sf)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got === want)
    // structural invariants: degrees partition 2m; internal edges
    // never exceed the global edge count
    assert(got.map(_._4).sum === 2L * m)
    assert(got.map(_._3).sum <= m)
  }

  test("global modularity Q: integer numerators exact, derived double " +
      "matches the per-community float sum") {
    val per = Graph.modularity(spark, sf)
      .as[(Long, Long, Long, Long, Double)].collect()
    val got = Graph.modularityQ(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length === 1)
    val (nc, sumL, sumD2, m) = got.head
    assert(nc === per.length.toLong)
    assert(sumL === per.map(_._3).sum)
    assert(sumD2 === per.map(d => d._4 * d._4).sum)
    assert(m === per.map(_._4).sum / 2L)
    // the exact-integer form determines the global score: derive the
    // double ONCE from the numerators (no distributed accumulation)
    // and cross-check the order-dependent per-community float sum
    val q = sumL.toDouble / m.toDouble -
      sumD2.toDouble / (4.0 * m.toDouble * m.toDouble)
    val qFloat = per.map(_._5).sum
    assert(math.abs(q - qFloat) < 1e-9, s"derived $q vs float-sum $qFloat")
  }

  test("incremental degree maintenance: merge equals the full rebuild") {
    // ground truth: per-vertex degree of the FULL graph, from the
    // spec-side adjacency (which is built over all orders)
    val want = adj.toSeq.map { case (v, ns) => (v, ns.size.toLong) }
      .sortBy(_._1)
    for (delta <- deltasFor(Delta.Lineitem)) {
      val got = Graph.degreeIncremental(spark, sf, delta)
        .as[(Long, Long)].collect().toSeq
      assert(got === want, s"merge != rebuild under the ${delta.tag} delta")
    }
    // the base split is real on this corpus: some orders are delta
    val delta = Delta.Lineitem.batch(
      spark.read.parquet(s"$sf/lineitem.parquet")).count()
    assert(delta > 0L, "delta fixture is empty — the test is vacuous")
  }

  test("k-core peel layers match a plain-Scala synchronous peel") {
    // synchronous rounds: every vertex below K in the CURRENT
    // subgraph is removed together; layer = last round survived
    val k = adj.values.map(_.size.toLong).sum / adj.size
    var aliveSet = adj.keySet
    val layer = scala.collection.mutable.Map[Long, Long]()
      .withDefaultValue(0L)
    var r = 1
    var moved = true
    while (r <= 4 && moved) {
      val next = aliveSet.filter(v =>
        adj(v).count(aliveSet.contains).toLong >= k)
      moved = next.nonEmpty
      next.foreach(v => layer(v) = r.toLong)
      aliveSet = next
      r += 1
    }
    val want = adj.keys.toSeq.sorted
      .map(v => (v, adj(v).size.toLong, layer(v)))
    val got = Graph.kcorePeel(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === want)
    // the layer column is a peel cascade: layers are contiguous from
    // 0 up to the deepest observed, and every vertex has exactly one
    val seen = got.map(_._3).toSet
    assert(seen.min === 0L || got.forall(_._3 === got.head._3))
    assert(got.map(_._1).distinct.size === got.size)
  }

  test("incremental triangles: class decomposition sums to the rebuild") {
    // plain-Scala ground truth over the spec-side full adjacency
    val nbr = adj.view.mapValues(_.toSet).toMap
    val triTrue = (for {
      (a, ns) <- adj.toSeq
      b <- ns if a < b
    } yield nbr(a).count(c => c > b && nbr(b).contains(c)).toLong).sum
    val full = Graph.triangles(spark, sf)
      .as[(Long, Long, Long, Long)].collect().head
    val t1s = for (delta <- deltasFor(Delta.Lineitem)) yield {
      val parts = Graph.trianglesIncrementalParts(spark, sf, delta)
        .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      assert(parts.length === 1)
      val (nTri, nEdges, nLeft, maxV, t1, t2, t3) = parts.head
      assert(nTri === triTrue,
        s"incremental $nTri vs plain-Scala $triTrue (${delta.tag} delta)")
      // the maintained summary columns match the full rebuild's
      assert((nTri, nEdges, nLeft, maxV) === full, s"${delta.tag} delta")
      // every class is a non-negative exact integer bounded by the total
      assert(t1 >= 0L && t2 >= 0L && t3 >= 0L)
      assert(t1 + t2 + t3 <= nTri)
      t1
    }
    // non-vacuity: a real delta exists, and the exactly-one-delta-edge
    // class (the dominant incremental class) is exercised
    val fresh = Graph.freshDeltaEdges(spark, sf).count()
    assert(fresh > 0L, "fresh delta edge set is empty — test is vacuous")
    assert(t1s.head > 0L, "no exactly-one-delta-edge triangle at sf0.001")
  }
}
