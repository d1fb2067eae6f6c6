package graft

import org.apache.spark.sql.functions._
import graft.ops.{Curation, Events, Graph}
import graft.util.Delta

/** Specs for the round-3 operators: graph joins, time-series
  * resample/gap-fill, range frames, stratified sampling, z-order
  * layout.
  */
class GraphTimeSeriesSpec extends SparkTestBase {

  import spark.implicits._

  test("triangle count matches a hand-checked tiny graph") {
    // K4 minus one edge on {1,2,3,4}: edges 12 13 14 23 24 → exactly
    // the two triangles 123 and 124
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("p1", "p2")
    val e1 = e.toDF("a", "b")
    val e2 = e.toDF("b", "c")
    val e3 = e.toDF("a", "c")
    val n = e1.join(e2, "b").join(e3, Seq("a", "c")).count()
    assert(n === 2L)
  }

  test("bfs hop distances equal a plain-Scala BFS over the collected graph") {
    // independent reimplementation: collect the co-purchase edges,
    // run textbook queue BFS from the same seed set, compare the full
    // (vertex, dist) map — the join-iteration must be exactly BFS
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect()
    val byOrder = li.groupBy(_._1).values
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    for (grp <- byOrder; Array(a, b) <- grp.map(_._2).distinct.sorted
        .combinations(2)) {
      adj(a) += b; adj(b) += a
    }
    val seeds = adj.keySet.filter(_ <= 5L).toSeq.sorted
    assert(seeds.nonEmpty, "no seed vertices <= 5 in the graph")
    val dist = scala.collection.mutable.Map[Long, Long]()
    var frontier = seeds.toSet
    frontier.foreach(v => dist(v) = 0L)
    for (h <- 1L to 4L) {
      frontier = frontier.flatMap(adj).filterNot(dist.contains)
      frontier.foreach(v => dist(v) = h)
    }
    val got = Graph.bfsHops(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(got === dist.toMap)
    // non-vacuity mirrors the oracle rather than assuming reach: the
    // distance map must strictly contain the seed set exactly when the
    // collected BFS itself reached depth >= 1 (an isolated seed clique
    // would legitimately stop at depth 0 — data property, not a bug)
    assert(got.values.toSet.contains(0L))
    if (dist.values.max >= 1L) assert(got.size > seeds.size)
  }

  test("degree histogram mass equals twice the edge count") {
    val hist = Graph.degreeHistogram(spark, sf)
    val mass = hist.select(sum($"degree" * $"n_vertices")).as[Long].head()
    val tri = Graph.triangles(spark, sf)
    val edges = tri.select($"n_edges").as[Long].head()
    assert(mass === 2 * edges) // every edge contributes to two degrees
    assert(tri.select($"n_triangles").as[Long].head() > 0)
  }

  test("gap-fill: dense per-type spine, zero-filled gaps, forward-filled avg") {
    val gf = Events.gapFill(spark, sf).cache()
    // every type covers the same contiguous bucket span
    val spans = gf.groupBy($"event_type")
      .agg(min($"bucket").as("lo"), max($"bucket").as("hi"),
        count(lit(1)).as("n"))
      .select($"lo", $"hi", $"n").as[(Long, Long, Long)].collect()
    assert(spans.nonEmpty)
    assert(spans.forall { case (lo, hi, n) => n === hi - lo + 1 })
    // gaps are exactly the zero-count rows and carry zero sums
    assert(gf.filter($"is_gap" =!= ($"n_events" === 0L)).count() === 0)
    assert(gf.filter($"is_gap" && $"sum_value" =!= 0.0).count() === 0)
    // a filled_avg appears as soon as a type has seen one real bucket
    val afterFirst = gf.filter(!$"is_gap").groupBy($"event_type")
      .agg(min($"bucket").as("first_real"))
    assert(gf.join(afterFirst, "event_type")
      .filter($"bucket" >= $"first_real" && $"filled_avg".isNull)
      .count() === 0)
    gf.unpersist()
  }

  test("range frame: trailing-hour counts bounded by per-type totals") {
    val rf = Events.rangeFrame(spark, sf).cache()
    val totals = spark.read.parquet(s"$sf/events.parquet")
      .groupBy($"event_type").agg(count(lit(1)).as("total"))
    assert(rf.filter($"n_1h" < 1).count() === 0) // frame includes self
    assert(rf.join(totals, "event_type").filter($"n_1h" > $"total")
      .count() === 0)
    // a frame never exceeds the full-window row count of its peers ±1h
    rf.unpersist()
  }

  test("interval join: bucketized overlap equals a local nested-loop join") {
    val got = graft.ops.Events.intervalJoin(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // replay the overlap join naively in memory on the same derived
    // interval sets — the bucket rewrite must change the plan, not
    // the answer
    val ev = graft.util.Tables.events(spark, sf)
      .select($"user_id", $"ts_us")
      .as[(Long, Long)].collect()
    val dayUs = 86400L * 1000000L
    val hourUs = 3600L * 1000000L
    val spans = ev.groupBy { case (u, t) => (u, t / dayUs) }
      .map { case (_, g) => (g.map(_._2).min, g.map(_._2).max, g.head._1) }
      .toSeq
    val hourly = ev.groupBy(_._2 / hourUs).view.mapValues(_.size)
    val t = hourly.values.sum.toDouble / hourly.size * 1.2
    val hot = hourly.filter(_._2 > t).keys.toSeq.sorted
    val incidents = hot.zipWithIndex.groupBy { case (h, i) => h - i }
      .values.map(g => (g.map(_._1).min * hourUs,
        (g.map(_._1).max + 1) * hourUs)).toSeq
    val want = incidents.map { case (bs, be) =>
      val hits = spans.filter { case (as_, ae, _) => as_ < be && bs <= ae }
      (bs, be, hits.size.toLong, hits.map(_._3).distinct.size.toLong)
    }.sortBy(_._1)
    assert(got.toSeq.sortBy(_._1) === want)
  }

  test("interval join stitch input is bounded: ≤2 edge fragments per day") {
    // the level-2 stitch window is unpartitioned, which is safe only
    // because its input is edge-touching fragments — at most one per
    // day boundary side. Assert the bound holds on real data, and that
    // fragments really are within-day maximal runs.
    val frags = graft.ops.Events
      .islandFragments(graft.ops.Events.hotHours(spark, sf))
      .select($"day0", $"h_start", $"h_end", $"edge")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(frags.nonEmpty)
    frags.groupBy(_._1).foreach { case (day, fs) =>
      assert(fs.count(_._4) <= 2, s"day $day has >2 edge fragments")
      // fragments never cross their day and are non-empty runs
      fs.foreach { case (d, s0, e0, _) =>
        assert(s0 <= e0 && s0 / 24 === d && e0 / 24 === d)
      }
    }
  }

  test("stratified sample takes exactly ceil(10%) of every stratum") {
    val out = Curation.stratifiedSample(spark, sf)
      .select($"n_sampled", $"n_stratum").as[(Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (sampled, stratum) =>
      assert(sampled === math.ceil(stratum * 0.1).toLong)
    }
  }

  test("SCD2 intervals: per-customer chains are contiguous and versioned") {
    val scd = graft.ops.Relational3.scd2(spark, sf).cache()
    // exactly one current row per customer
    val current = scd.filter($"is_current")
      .groupBy($"custkey").count().filter($"count" =!= 1).count()
    assert(current === 0)
    // within a customer, valid_to of version k equals valid_from of k+1
    val chain = scd.as("a").join(scd.as("b"),
      $"a.custkey" === $"b.custkey" && $"a.version" + 1 === $"b.version")
      .filter($"a.valid_to" =!= $"b.valid_from")
    assert(chain.count() === 0)
    // consecutive versions never repeat a status (the SCD2 invariant)
    val rep = scd.as("a").join(scd.as("b"),
      $"a.custkey" === $"b.custkey" && $"a.version" + 1 === $"b.version")
      .filter($"a.status" === $"b.status")
    assert(rep.count() === 0)
    scd.unpersist()
  }

  test("bigram LM: conditional probabilities sum to at most 1 per w1") {
    val lm = graft.ops.TextAnalysis.bigramLm(spark, sf)
    // the top-50 cut means partial groups: per-w1 sums must be <= 1
    val sums = lm.groupBy($"w1")
      .agg(sum($"p_w2_given_w1").as("s")).select($"s").as[Double].collect()
    assert(sums.nonEmpty)
    assert(sums.forall(_ <= 1.0 + 1e-9))
  }

  test("postings: document frequency equals fingerprinted list length") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.ops.TextAnalysis.postings(spark, sf)
    // df is bounded by the corpus size and lists are per-token unique
    val n = docs.count()
    assert(p.filter($"df" > n).count() === 0)
    assert(p.filter($"first_doc" > $"last_doc").count() === 0)
    assert(p.count() === 20)
  }

  test("incremental SCD2 equals the full rebuild row-for-row") {
    val full = graft.ops.Relational3.scd2(spark, sf)
    for (delta <- deltasFor(Delta.Orders)) {
      val inc = graft.ops.Relational3.scd2Incremental(spark, sf, delta)
      assert(inc.count() === full.count(), s"${delta.tag} delta")
      assert(inc.exceptAll(full).count() === 0, s"${delta.tag} delta")
      assert(full.exceptAll(inc).count() === 0, s"${delta.tag} delta")
    }
  }

  test("rolling median stays within each frame's min/max envelope") {
    val rm = graft.ops.Relational3.rollingMedian(spark, sf).cache()
    assert(rm.count() > 0)
    // a frame median can never leave the partition's global envelope
    val bounds = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter($"l_orderkey" < 1000)
      .groupBy($"l_returnflag")
      .agg(min($"l_quantity").as("lo"), max($"l_quantity").as("hi"))
    assert(rm.join(bounds, "l_returnflag")
      .filter($"rolling_median" < $"lo" || $"rolling_median" > $"hi")
      .count() === 0)
    rm.unpersist()
  }

  test("entity pairs: blocked candidates are symmetric-free and close") {
    val p = graft.ops.Dedup.entityPairs(spark, sf).collect()
    assert(p.nonEmpty)
    assert(p.forall(r => r.getLong(1) < r.getLong(2))) // canonical a<b
    assert(p.forall(_.getInt(3) <= 2))
  }

  test("weighted sample favors heavier documents") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sample = graft.ops.Curation.weightedSample(spark, sf)
    val avgSampled = sample.agg(avg($"w")).as[Double].head()
    val avgAll = docs.select(
      greatest(size(filter(split($"text", "\\s+"), t => t =!= lit(""))), lit(1))
        .cast("double").as("w"))
      .agg(avg($"w")).as[Double].head()
    // Efraimidis–Spirakis keys bias selection toward high weight:
    // the sampled mean token count must exceed the corpus mean
    assert(avgSampled > avgAll,
      s"weighted sample mean $avgSampled should exceed corpus mean $avgAll")
  }

  test("z-order export files cover bounded (x, y) tiles") {
    val df = graft.sources.Sources.zorderExport(spark, sf)
    assert(df.count() > 1)
    val files = spark.read.parquet(
      df.inputFiles.head.replaceAll("/[^/]+$", "")).inputFiles
    assert(files.length > 1)
    // every z-sorted file must span well under the full 1024-wide x
    // range — the tile property that makes row-group stats prunable
    // on either dimension (y is narrow at this sf, so assert on x)
    val spans = files.map { f =>
      spark.read.parquet(f).agg(min($"x"), max($"x"))
        .as[(Long, Long)].head()
    }
    val fullSpan = spans.map(_._2).max - spans.map(_._1).min
    assert(spans.count { case (lo, hi) => hi - lo <= fullSpan / 2 } >
      files.length / 2,
      s"most files should cover a bounded x tile: ${spans.toSeq}")
  }
}
