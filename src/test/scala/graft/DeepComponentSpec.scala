package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.util.LoopScope

/** Deep/adversarial component shapes for the connected-components
  * contraction (VERDICT r10 #6). The near-dup corpora the engine
  * mines produce near-clique components that collapse at level 0 —
  * sf10 barely exercises multi-level contraction — so these fixtures
  * synthesize the shapes that used to be worst-case:
  *
  *  - a monotone CHAIN: the min-neighbor forest is one depth-n tree;
  *    before pointer-doubling flattening this contracted ONE node per
  *    level (O(n) levels — a 4096-chain would have tripped the
  *    50-level cap and failed the whole query);
  *  - a bit-reversed chain: maximally scattered labels, forcing the
  *    level loop itself (Borůvka-style component merging) through
  *    multiple rounds;
  *  - a hub star whose center is not the component min;
  *  - a seeded random graph, against a union-find ground truth.
  *
  * Every fixture asserts the EXACT labeling (component minimum per
  * node — the closure the DuckDB oracle computes for dedup_clusters)
  * plus the measured work bounds: levels and pointer-doubling hops
  * both O(log n), empirically.
  */
class DeepComponentSpec extends SparkTestBase {

  import spark.implicits._

  /** Symmetric edge DataFrame from undirected pairs. */
  private def edges(pairs: Seq[(Long, Long)]): DataFrame = {
    val df = pairs.toDF("a_id", "b_id")
    df.unionByName(df.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
  }

  /** Driver-side union-find — the test's exact ground truth. */
  private def componentMins(n: Int, pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min label == root, because unions always point larger to smaller
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  private def run(n: Int, pairs: Seq[(Long, Long)], tag: String)
      : Dedup.Contraction = LoopScope.scoped { sc =>
    val c = Dedup.contractComponents(sc, edges(pairs))
    val got = c.labels.as[(Long, Long)].collect().toMap
    val want = componentMins(n, pairs)
    // every edge-touching node labeled with its component minimum
    val touched = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(got.keySet === touched, s"$tag: node set")
    touched.foreach(v => assert(got(v) === want(v), s"$tag: node $v"))
    info(s"$tag: n=$n levels=${c.levels} maxHops=${c.maxHops}")
    c
  }

  test("4096-node monotone chain: one component, logarithmic work") {
    val n = 4096
    val c = run(n, (0L until (n - 1).toLong).map(i => (i, i + 1)), "chain")
    // single depth-n tree: all flattening, no extra levels
    assert(c.levels <= 2, s"levels=${c.levels}")
    // pointer doubling: ⌈log2 4095⌉ = 12 (+1 no-move check)
    assert(c.maxHops <= 14, s"maxHops=${c.maxHops}")
  }

  test("bit-reversed 1024-chain: multi-level merging stays logarithmic") {
    val n = 1024
    val bits = 10
    def rev(i: Int): Long =
      (0 until bits).foldLeft(0) { (acc, b) =>
        (acc << 1) | ((i >> b) & 1)
      }.toLong
    val seq = (0 until n).map(rev)
    val pairs = seq.sliding(2).map(w => (w(0), w(1))).toSeq
    val c = run(n, pairs, "bitrev")
    // the adversarial shape NEEDS the level loop (≥2 contraction
    // levels beyond the fused one) — and stays well under the 50 cap
    assert(c.levels >= 1, s"levels=${c.levels}")
    assert(c.levels <= 11, s"levels=${c.levels}") // log2(1024) bound
    assert(c.maxHops <= 12, s"maxHops=${c.maxHops}")
  }

  test("star with non-min hub: collapses in one level") {
    val n = 1001
    val hub = 500L
    val pairs = (0L until n.toLong).filter(_ != hub).map(l => (hub, l))
    val c = run(n, pairs, "star")
    assert(c.levels <= 1, s"levels=${c.levels}")
  }

  test("incremental merge composes adversarial deltas to the full closure") {
    // yesterday: two chain components [0..9] (label 0) and [10..19]
    // (label 10), plus base singletons 20 and 21 (absent from L).
    // today's delta: a bridge edge merging the two chains, a
    // delta-only pair, a delta doc attaching to base singleton 20,
    // and a delta doc joining an existing component mid-chain.
    val basePairs = (0L to 8L).map(i => (i, i + 1)) ++
      (10L to 18L).map(i => (i, i + 1))
    val baseLabels = componentMins(20, basePairs).toSeq
      .toDF("node", "label")
    val deltaPairs = Seq((9L, 10L), (100L, 101L), (20L, 102L), (103L, 15L))
    val docs = ((0L to 21L) ++ Seq(100L, 101L, 102L, 103L))
      .toDF("doc_id")
    val got = LoopScope.scoped { sc =>
      Dedup.mergeIncrementalLabels(sc,
        baseLabels, deltaPairs.toDF("a_id", "b_id"), docs)
        .as[(Long, Long, Long)].collect()
    }.map(r => r._1 -> (r._2, r._3)).toMap
    // ground truth: union-find over base ∪ delta on the doc universe
    val ids = docs.as[Long].collect()
    val idx = ids.zipWithIndex.toMap
    val all = (basePairs ++ deltaPairs)
      .map(p => (idx(p._1).toLong, idx(p._2).toLong))
    val mins = componentMins(ids.length, all)
      .map { case (k, v) => ids(k.toInt) -> ids(v.toInt) }
    // remap: componentMins works on dense indices; labels must be the
    // MIN ORIGINAL id per component, which dense-index min preserves
    // because ids are listed ascending except the delta tail
    val byComp = ids.groupBy(mins)
    byComp.foreach { case (_, members) =>
      val want = members.min
      members.foreach { m =>
        assert(got(m)._1 === want, s"doc $m")
        assert(got(m)._2 === members.length.toLong, s"size of $m")
      }
    }
    // the two chains really merged into one 21-doc component with 20's
    // attachment separate: spot-check the planted shapes
    assert(got(19L)._1 === 0L)
    assert(got(19L)._2 === 21L) // 0..19 plus mid-chain joiner 103
    assert(got(102L) === ((20L, 2L)))
    assert(got(101L) === ((100L, 2L)))
    assert(got(21L) === ((21L, 1L)))
  }

  test("seeded random graph matches union-find exactly") {
    val n = 800
    val rnd = new scala.util.Random(42)
    // sparse: ~1.2 edges/node → a mix of chains, trees, small cycles,
    // and plenty of isolated pairs
    val pairs = Seq.fill(960)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(p => p._1 != p._2)
    val c = run(n, pairs, "random")
    assert(c.levels <= 11, s"levels=${c.levels}")
  }
}
