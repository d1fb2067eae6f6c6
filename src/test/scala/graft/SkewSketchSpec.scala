package graft

import org.apache.spark.sql.functions._
import graft.ops.Skew

class SkewSketchSpec extends SparkTestBase {

  import spark.implicits._

  test("theta set algebra tracks exact distinct overlaps within the RSE bound") {
    assertThetaBounds(sf)
  }

  private def assertThetaBounds(dir: String): Unit = {
    val ev = graft.util.Tables.events(spark, dir)
    def users(t: String): Set[Long] = ev
      .filter($"event_type" === t).select("user_id")
      .distinct().as[Long].collect().toSet
    val rows = Skew.thetaOps(spark, dir)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
    assert(rows.length === 3)
    // lgK=12 → RSE ≈ 1.6%; intersections compound error, allow 3×RSE
    // (+2 absolute slack for tiny sets)
    def close(est: Long, exact: Long, rse: Double): Unit =
      assert(math.abs(est - exact) <= exact * rse + 2,
        s"estimate $est vs exact $exact (rse $rse)")
    rows.foreach { case (a, b, nA, nB, nU, nI, nD) =>
      val (ua, ub) = (users(a), users(b))
      close(nA, ua.size.toLong, 0.016)
      close(nB, ub.size.toLong, 0.016)
      close(nU, ua.union(ub).size.toLong, 0.016)
      close(nI, ua.intersect(ub).size.toLong, 0.05)
      close(nD, ua.diff(ub).size.toLong, 0.05)
    }
  }

  test("theta sketches in estimation mode stay within 3 standard errors") {
    // every pinned type has more than 2 * 2^12 distinct users, so each
    // sketch leaves the exact mode, and the types overlap in part, so
    // every intersection and difference is non-empty
    val spans = Map("view" -> (0L, 20000L), "purchase" -> (10000L, 30000L),
      "click" -> (16000L, 36000L), "signup" -> (4000L, 16000L))
    val dir = graft.util.ScratchIndex.dir("theta_estimation_fixture").toString
    spans.map { case (t, (lo, hi)) =>
      spark.range(lo, hi).select($"id".as("user_id"), lit(t).as("event_type"))
    }.reduce(_ union _)
      .select(monotonically_increasing_id().as("event_id"),
        (lit(1704067200000000000L) + $"user_id").as("ts"), $"user_id",
        $"event_type", lit(1.0).as("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def users(t: String): Set[Long] = {
      val (lo, hi) = spans(t)
      (lo until hi).toSet
    }
    val k = math.pow(2, Skew.ThetaLgK)
    def within(what: String, est: Long, exact: Int, se: Double): Unit =
      assert(math.abs(est - exact) <= 3 * se * exact,
        s"$what: estimate $est vs exact $exact beyond 3 standard errors")
    val rows = Skew.thetaOps(spark, dir)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
    assert(rows.length === 3)
    rows.foreach { case (a, b, nA, nB, nU, nI, nD) =>
      val (ua, ub) = (users(a), users(b))
      val union = ua.union(ub).size
      // a pair's estimate counts the sampled hashes of A ∪ B that
      // fall in X, so its standard error is √((1−p)/(k·p)), p = |X|/|A∪B|
      def pairSe(x: Int): Double = {
        val p = x.toDouble / union
        math.sqrt((1 - p) / (k * p))
      }
      val (inter, diff) = (ua.intersect(ub).size, ua.diff(ub).size)
      assert(inter > 0 && diff > 0)
      within(s"|$a|", nA, ua.size, 1 / math.sqrt(k))
      within(s"|$b|", nB, ub.size, 1 / math.sqrt(k))
      within(s"|$a ∪ $b|", nU, union, 1 / math.sqrt(k))
      within(s"|$a ∩ $b|", nI, inter, pairSe(inter))
      within(s"|$a \\ $b|", nD, diff, pairSe(diff))
    }
    assert(rows.exists { case (a, _, nA, _, _, _, _) => nA != users(a).size },
      "every single-type estimate is exact: the sketches never left exact mode")
  }

  test("sketch_theta_ops: a missing pinned event type fails by name") {
    val raw = graft.util.Tables.eventsRaw(spark, sf)
    def derived(name: String, keep: org.apache.spark.sql.Column): String = {
      val dir = graft.util.ScratchIndex.dir(name).toString
      raw.filter(keep).write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    def failure(dir: String): String = {
      // building the plan must not throw: the check runs inside it
      val df = Skew.thetaOps(spark, dir)
      val e = intercept[Exception](df.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).mkString(" | ")
    }
    val noSignup = failure(derived("theta_no_signup", $"event_type" =!= "signup"))
    assert(noSignup.contains("pinned event type 'signup' has no events"),
      noSignup)
    val empty = failure(derived("theta_no_events", lit(false)))
    assert(empty.contains("pinned event type"), empty)
  }

  test("sketch_theta_ops is one plan: no job to build, one events scan, " +
      "built-in sketches") {
    Skew.thetaOps(spark, sf)
    val (df, jobs) = jobsStartedBy(Skew.thetaOps(spark, sf))
    assert(jobs === 0, "building sketch_theta_ops started Spark jobs")
    assert(df.collect().length === 3)
    val plan = df.queryExecution.executedPlan
    val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(plan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    assert(scans.length === 1, s"events should be scanned once:\n$plan")
    val shown = plan.toString
    assert(shown.contains("theta_sketch_agg"), shown)
    assert(!shown.contains("ScalaUDAF"), shown)
  }

  test("CBO join reorder: stats move the selective dimension innermost") {
    val db = Skew.cboStatsDb(spark, sf)
    // leaf order of a left-deep join tree, reading the plan top-down:
    // ((A ⋈ B) ⋈ C) prints A, B, C
    def leafOrder(cbo: Boolean): Seq[String] =
      graft.util.Confs.withConfs(spark)(
        "spark.sql.cbo.enabled" -> cbo.toString,
        "spark.sql.cbo.joinReorder.enabled" -> cbo.toString) {
        Skew.cboPlan(spark, db).queryExecution.optimizedPlan
          .collectLeaves()
          .map(_.toString)
          .flatMap(l => Seq("lineitem_c", "part_c", "supplier_c")
            .find(l.contains))
          .toSeq
      }
    // rule-based order = syntactic: supplier joins first, part last
    assert(leafOrder(cbo = false) ===
      Seq("supplier_c", "lineitem_c", "part_c"))
    // CBO sees |σ(part)| ≪ |supplier| from ANALYZE stats and joins
    // the filtered dimension against the fact FIRST
    assert(leafOrder(cbo = true) ===
      Seq("lineitem_c", "part_c", "supplier_c"))
    // reordering is answer-preserving (the oracle hash also pins this)
    val withCbo = Skew.cboReorder(spark, sf)
      .as[(Int, Long, Double)].collect().toSeq
    val without = Skew.cboPlan(spark, db)
      .as[(Int, Long, Double)].collect().toSeq
    assert(withCbo === without)
    assert(withCbo.nonEmpty)
  }

  test("salted aggregation equals direct groupBy exactly") {
    val salted = Skew.saltedAgg(spark, sf)
      .as[(String, Double, Long, Double)].collect().toSet
    val direct = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy($"l_returnflag")
      .agg(round(sum($"l_quantity"), 2).as("sum_qty"),
        count(lit(1)).as("n"),
        max($"l_extendedprice").as("max_price"))
      .as[(String, Double, Long, Double)].collect().toSet
    assert(salted === direct)
  }

  test("bloom-filter join injects a might_contain probe into the fact scan") {
    graft.util.Confs.withConfs(spark)(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val plan = Skew.bloomJoinPlan(spark, sf)
        .queryExecution.optimizedPlan.toString()
      assert(plan.contains("might_contain"),
        s"expected runtime bloom filter in:\n$plan")
    }
  }

  test("AQE splits the skewed join partition at runtime") {
    graft.util.Confs.withConfs(spark)(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // sf0.001's events.parquet is one tiny file — force multiple map
      // tasks so the skewed reduce partition is splittable at all
      "spark.sql.files.maxPartitionBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      // sf0.001 partitions are tiny — drop thresholds so the 80% key
      // still registers as skew, and allow the split even though the
      // downstream agg then needs its own exchange
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true") {
      val df = Skew.skewJoinAqePlan(spark, sf)
      df.collect() // AQE decides skew splits at runtime, not plan time
      val plan = df.queryExecution.executedPlan.toString()
      assert(plan.contains("skew=true"),
        s"expected a skew-split SortMergeJoin in final plan:\n$plan")
    }
  }

  test("HLL rollup: union of daily sketches equals the direct sketch") {
    assertHllRollupBounds(sf)
  }

  private def assertHllRollupBounds(dir: String): Unit = {
    val r = Skew.hllRollup(spark, dir)
      .select($"approx_users_merged", $"approx_users_direct", $"exact_users")
      .as[(Double, Double, Long)].collect()
    assert(r.nonEmpty)
    r.foreach { case (merged, direct, exact) =>
      // register-max merge is lossless on the SKETCH STATE, but the
      // estimator differs after a union (datasketches HLL: a direct
      // sketch reads the HIP estimator, a union invalidates HIP and
      // falls back to the composite estimate), so in dense mode —
      // reached at sf0.1, not sf0.001 — the two ESTIMATES drift
      // within the RSE even though the merge dropped nothing
      assert(math.abs(merged - direct) <= math.max(2.0, direct * 0.02),
        s"merged $merged vs direct $direct beyond estimator drift")
      assert(math.abs(merged - exact) <= math.max(2.0, exact * 0.05),
        s"estimate $merged too far from exact $exact")
    }
  }

  test("KLL rollup: merged daily sketches hit exact ranks within the bound") {
    assertKllBounds(sf)
  }

  private def assertKllBounds(dir: String): Unit = {
    val r = Skew.kllRollup(spark, dir)
      .select($"event_type", $"approx_p50", $"approx_p90", $"approx_p99")
      .as[(String, Double, Double, Double)].collect()
    assert(r.nonEmpty)
    val byType = spark.read.parquet(s"$dir/events.parquet")
      .select($"event_type", $"value").as[(String, Double)].collect()
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
    // KLL k=200 ⇒ ~1.65% normalized rank error at 99% confidence; the
    // INCLUSIVE rank of each reported quantile must land within a
    // conservative 4% of its target rank
    def exactRank(sorted: Array[Double], v: Double): Double =
      sorted.count(_ <= v).toDouble / sorted.length
    r.foreach { case (t, p50, p90, p99) =>
      val sorted = byType(t)
      for ((est, target) <- Seq(p50 -> 0.5, p90 -> 0.9, p99 -> 0.99)) {
        val rk = exactRank(sorted, est)
        assert(math.abs(rk - target) <= 0.04,
          s"$t: quantile($target)=$est has exact rank $rk")
      }
    }
    // reaggregability: the daily-merge path must agree with a direct
    // whole-window sketch to within twice the single-sketch bound
    val direct = spark.read.parquet(s"$dir/events.parquet")
      .groupBy($"event_type")
      .agg(kll_sketch_agg_double($"value", Skew.KllK).as("sk"))
      .select($"event_type",
        kll_sketch_get_quantile_double($"sk", lit(0.5)).as("p50"))
      .as[(String, Double)].collect().toMap
    r.foreach { case (t, p50, _, _) =>
      val sorted = byType(t)
      val drift = math.abs(exactRank(sorted, p50) - exactRank(sorted, direct(t)))
      assert(drift <= 0.035,
        s"$t: merged-path p50 $p50 vs direct ${direct(t)} rank drift $drift")
    }
  }

  test("CMS probe honors the one-sided count-min guarantee") {
    assertCmsBounds(sf)
  }

  private def assertCmsBounds(dir: String): Unit = {
    val total = spark.read.parquet(s"$dir/events.parquet").count()
    val rows = Skew.cmsProbe(spark, dir)
      .select($"exact_count", $"cms_count").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (exact, est) =>
      assert(est >= exact, s"CMS must never undercount: $est < $exact")
      assert(est <= exact + (0.001 * total).ceil.toLong + 1,
        s"CMS overcount beyond eps*N: est=$est exact=$exact N=$total")
    }
  }

  test("HLL distinct counts are within the configured error bound") {
    assertHllAggBounds(sf)
  }

  private def assertHllAggBounds(dir: String): Unit = {
    val rows = Skew.sketchAgg(spark, dir)
      .select($"approx_orders", $"exact_orders")
      .as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (approx, exact) =>
      val err = math.abs(approx - exact).toDouble / exact
      assert(err < 0.10, s"HLL err $err (approx=$approx exact=$exact)")
    }
  }

  test("sketch error bounds hold at bench scale (sf0.1)") {
    // the bands above run at test scale (sf0.001); re-assert every
    // sketch's accuracy contract against exact answers on the same
    // data volume the bench measures (VERDICT r7 #7) — error bounds
    // that only hold on tiny inputs are not bounds
    val benchSf = "/root/testdata/sf0.1"
    assertThetaBounds(benchSf)
    assertHllRollupBounds(benchSf)
    assertKllBounds(benchSf)
    assertCmsBounds(benchSf)
    assertHllAggBounds(benchSf)
  }

  test("approx_top_k: partial accumulate + combine equals single-shot and exact") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    // the distributed form: one sketch per user-bucket, combined, then
    // estimated — the shape a 1000-executor partial agg produces
    val combined = ev
      .selectExpr("event_type", "user_id % 8 AS g")
      .groupBy($"g")
      .agg(expr("approx_top_k_accumulate(event_type, 64)").as("sk"))
      .agg(expr(
        "approx_top_k_estimate(approx_top_k_combine(sk, 64), 8)").as("tk"))
      .select(explode($"tk").as("e"))
      .select($"e.item", $"e.count").as[(String, Long)].collect().toSet
    val single = Skew.topkSketch(spark, sf)
      .as[(String, Long)].collect().toSet
    val exact = ev.groupBy($"event_type").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toSet
    assert(combined === single)
    assert(single === exact,
      "with maxItemsTracked >= distinct items the sketch must be exact")
  }

  test("portable CMS: one-sided guarantee and mergeable counters") {
    // over-count only: a count-min cell sums every colliding key, so
    // the min over rows can never undershoot the true frequency
    val rows = Skew.cmsPortable(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (u, exact, est) =>
      assert(est >= exact, s"probe $u: est $est < exact $exact")
    }
    // mergeability IS the 100-TB claim: the counter table of the full
    // corpus equals the cell-wise SUM of the counter tables of any
    // partition of it (here: split by user parity) — per-partition
    // sketches combine associatively, no raw-key shuffle needed
    val ev = graft.util.Tables.events(spark, sf).select($"user_id")
    // built from the SHIPPED hash + constants (Skew.cmsBucketOf /
    // CmsD / CmsW) — a spec-local copy would keep passing if the
    // production sketch changed underneath it
    def counters(df: org.apache.spark.sql.DataFrame) = df
      .select($"user_id",
        explode(array((0 until Skew.CmsD).map(lit): _*)).as("j"))
      .select($"j", Skew.cmsBucketOf($"j", $"user_id").as("bucket"))
      .groupBy($"j", $"bucket").agg(count(lit(1)).as("c"))
      .as[(Int, Long, Long)].collect()
      .map { case (j, b, c) => (j, b) -> c }.toMap
    val whole = counters(ev)
    val even = counters(ev.filter($"user_id" % 2 === 0))
    val odd = counters(ev.filter($"user_id" % 2 === 1))
    val merged = (even.keySet ++ odd.keySet).map { k =>
      k -> (even.getOrElse(k, 0L) + odd.getOrElse(k, 0L))
    }.toMap
    assert(merged === whole)
  }

  test("portable theta: plain-Scala replay matches exactly in BOTH branches") {
    // sf0.001 ship-months straddle K=64 (48-76 distinct parts: exact
    // AND estimation branches, plus mixed-theta pairs); sf0.01 (~600)
    // is estimation-mode throughout. One replay covers the whole
    // lifecycle — trim, theta, set algebra, and the
    // multiply-then-divide estimate doubles bit-for-bit.
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val got = Skew.thetaPortable(spark, dir)
        .as[(String, String, Long, Long, Long, Long, Long, Long, Long,
          Long, Double, Double, Double, Double)]
        .collect().toSeq.sortBy(r => (r._1, r._2))
      assert(got === thetaReplay(dir), s"divergence at $dir")
    }
  }

  test("portable theta: shard trim is lossless (the mergeability claim)") {
    // the scale path trims bottom-(K+1) per (segment, h mod 32) shard
    // before the global bottom-(K+1): assert the composition loses
    // nothing vs a direct global sort of the full distinct hash set —
    // per-partition candidate sets combine associatively, which is
    // what lets 100-TB builds avoid shuffling raw members
    val hs = thetaHashSets("/root/testdata/sf0.01")
    assert(hs.nonEmpty)
    for ((t, hset) <- hs) {
      val all = hset.toSeq.sorted
      val direct = all.take(Skew.ThetaK + 1)
      val sharded = hset.groupBy(_ % Skew.ThetaShards).values
        .flatMap(_.toSeq.sorted.take(Skew.ThetaK + 1))
        .toSeq.sorted.take(Skew.ThetaK + 1)
      assert(sharded === direct, s"shard trim dropped entries for $t")
    }
  }

  /** Distinct 48-bit sketch hashes per ship-month, computed through
    * the SHIPPED column (Skew.thetaHashOf) — not a spec-local hash
    * that could drift from production.
    */
  private def thetaHashSets(dir: String): Map[String, Set[Long]] =
    graft.util.Tables.lineitem(spark, dir)
      .select(date_format($"l_shipdate", "yyyy-MM").as("seg"),
        Skew.thetaHashOf($"l_partkey").as("h"))
      .distinct().as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  /** Synchronous reimplementation of the full theta lifecycle. */
  private def thetaReplay(dir: String): Seq[(String, String, Long, Long,
      Long, Long, Long, Long, Long, Long, Double, Double, Double,
      Double)] = {
    val M = Skew.ThetaM
    val K = Skew.ThetaK
    val hashes = thetaHashSets(dir)
    def sketch(t: String): (Set[Long], Long) = {
      val sorted = hashes(t).toSeq.sorted
      if (sorted.size >= K + 1) (sorted.take(K).toSet, sorted(K))
      else (sorted.toSet, M)
    }
    def est(n: Long, th: Long): Double = n.toDouble * M / th.toDouble
    Skew.ThetaPairs.sortBy(identity).map { case (a, b) =>
      val (ra, tha) = sketch(a)
      val (rb, thb) = sketch(b)
      val thmin = math.min(tha, thb)
      val nu = (ra ++ rb).count(_ < thmin).toLong
      val ni = ra.intersect(rb).count(_ < thmin).toLong
      val nd = ra.diff(rb).count(_ < thmin).toLong
      (a, b, ra.size.toLong, tha, rb.size.toLong, thb, nu, ni, nd,
        thmin, est(ra.size.toLong, tha), est(rb.size.toLong, thb),
        est(nu, thmin), est(ni, thmin))
    }
  }

  test("portable theta: estimates track exact overlaps within the RSE bound") {
    // K=64 → RSE ≈ 1/√63 ≈ 12.6%; per-estimate bound 3σ (+2 absolute
    // for tiny sets) against the exact distinct part sets at the
    // estimation-branch corpus, PLUS a mean-relative-error bound of
    // 1.5σ across all estimates — the 4σ-only form guarded little
    // beyond gross (~2×) errors (ADVICE r15): the mean bound actually
    // exercises estimator quality, not just self-consistency.
    val dir = "/root/testdata/sf0.01"
    val li = graft.util.Tables.lineitem(spark, dir)
    def parts(m: String): Set[Long] = li
      .filter(date_format($"l_shipdate", "yyyy-MM") === m)
      .select("l_partkey").distinct().as[Long].collect().toSet
    val relErrs = scala.collection.mutable.ArrayBuffer.empty[Double]
    def close(estv: Double, exact: Long): Unit = {
      assert(math.abs(estv - exact) <= exact * 0.379 + 2,
        s"estimate $estv vs exact $exact")
      if (exact > 0) relErrs += math.abs(estv - exact) / exact
    }
    Skew.thetaPortable(spark, dir)
      .select($"month_a", $"month_b", $"est_a", $"est_b", $"est_union",
        $"est_intersect")
      .as[(String, String, Double, Double, Double, Double)].collect()
      .foreach { case (a, b, ea, eb, eu, ei) =>
        val (ua, ub) = (parts(a), parts(b))
        close(ea, ua.size.toLong)
        close(eb, ub.size.toLong)
        close(eu, ua.union(ub).size.toLong)
        close(ei, ua.intersect(ub).size.toLong)
      }
    val mre = relErrs.sum / relErrs.size
    assert(mre <= 0.19, f"mean relative error $mre%.3f over " +
      s"${relErrs.size} estimates exceeds 1.5 sigma of the K=64 RSE")
  }

  test("incremental theta: folding the delta sketch into the base " +
      "summary equals the full rebuild exactly") {
    // merge ≡ rebuild at the SUMMARY level (row-for-row: retained
    // hashes AND theta thresholds) and at the ANSWER level, at both
    // the exact-branch corpus (sf0.001, months straddle K) and the
    // estimation-branch corpus (sf0.01) — the
    // dedup_lsh_incremental / graph_degree_incremental discipline.
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val merged = Skew.thetaMergedSketch(spark, dir)
        .as[(String, Long, Long)].collect().toSet
      val rebuilt = Skew.thetaSketchTable(spark, dir)
        .as[(String, Long, Long)].collect().toSet
      assert(merged === rebuilt, s"summary divergence at $dir")
      val inc = Skew.thetaIncremental(spark, dir).collect().toSeq
      val full = Skew.thetaPortable(spark, dir).collect().toSeq
      assert(inc === full, s"answer divergence at $dir")
      // base and delta are both non-trivial, or the proof is vacuous
      assert(Skew.thetaDeltaSketchTable(spark, dir).count() > 0)
      assert(Skew.thetaBaseSketchTable(spark, dir).count() > 0)
    }
  }

  test("portable theta: a missing pinned month fails loudly, never " +
      "a silently truncated pair table") {
    // the pair joins are inner in BOTH engines, so a fixture regen
    // that empties a pinned month would truncate the output and the
    // oracle would AGREE with the truncation (ADVICE r15) — the
    // driver-side guard must turn that into an error instead
    val full = Skew.thetaPortable(spark, sf)
    assert(full.count() === Skew.ThetaPairs.size.toLong)
    val gutted = Skew.thetaSketchTable(spark, sf)
      .filter($"seg" =!= Skew.ThetaPairs.head._1)
    val e = intercept[IllegalArgumentException] {
      Skew.thetaPairAlgebra(spark, gutted)
    }
    assert(e.getMessage.contains("pinned months"))
  }

  test("approximate median lands between group min and max") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val bounds = li.groupBy($"l_returnflag")
      .agg(min($"l_extendedprice"), max($"l_extendedprice"))
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    Skew.sketchAgg(spark, sf)
      .select($"l_returnflag", $"approx_median_price")
      .as[(String, Double)].collect()
      .foreach { case (flag, med) =>
        val (lo, hi) = bounds(flag)
        assert(med >= lo && med <= hi)
      }
  }

  test("bottom-k buffer: a zero cap is rejected, not an index error") {
    intercept[IllegalArgumentException] {
      new graft.functions.BottomK.LongBottomSet(0).add(1L)
    }
  }

  test("bottom-k buffer keeps the k smallest distinct values") {
    val vs = Seq(9L, 3L, 7L, 3L, -2L, 9L, 0L, 7L, 5L, -2L, 11L)
    for (k <- 1 to 8) {
      val b = new graft.functions.BottomK.LongBottomSet(k)
      vs.foreach(b.add)
      assert(b.result.toSeq === vs.distinct.sorted.take(k), s"k=$k")
    }
  }
}
