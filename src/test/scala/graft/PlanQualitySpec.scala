package graft

import graft.ops.{Relational, Relational3}

/** Physical-plan assertions: the efficiency properties the engine
  * claims (scan pushdown, column pruning, broadcast joins, map-side
  * partial aggregation, whole-stage codegen) must be visible in
  * `explain`, not just intended. A regression that silently turns a
  * broadcast join into a shuffled one, or un-pushes a filter, fails
  * here long before it shows up as a benchmark number.
  */
class PlanQualitySpec extends SparkTestBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  test("filters reach the parquet scan (PushedFilters)") {
    val p = plan(Relational.filterPredicates(spark, sf))
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.replaceAll("PushedFilters: \\[\\]", "").contains(
      "PushedFilters: []") || p.contains("PushedFilters: [Is"),
      s"no filter pushed into any scan:\n$p")
  }

  test("projection prunes the scan schema to selected columns") {
    val p = plan(Relational.projectCast(spark, sf))
    // lineitem has 7+ columns; the scan must read only the projected ones
    // lineitem has 16 columns; the projection needs 5 — a scan that
    // reads 7+ has lost column pruning
    val readSchema = "ReadSchema: struct<([^>]*)".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.nonEmpty, s"no ReadSchema in:\n$p")
    assert(readSchema.split(",").length <= 6,
      s"scan reads more columns than the projection needs: $readSchema")
  }

  test("variant extraction never reads the text column") {
    // text_variant touches only metadata columns; the documents scan
    // must prune away `text` (the fat column) or the VARIANT pipeline
    // pays a corpus-sized read for a metadata query
    val p = plan(graft.ops.TextAnalysis.variantExtract(spark, sf))
    val readSchema = "ReadSchema: struct<([^>]*)".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.nonEmpty, s"no ReadSchema in:\n$p")
    assert(!readSchema.contains("text"),
      s"variant query reads the fat text column: $readSchema")
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.topK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("small dimension side broadcasts in equi-joins") {
    val p = plan(Relational.joinSingleKey(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("grouped aggregation is partial (map-side combine) + final") {
    val p = plan(Relational.groupByAgg(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final HashAggregate pair:\n$p")
  }

  test("hot relational plans run under whole-stage codegen") {
    for (df <- Seq(Relational.groupByAgg(spark, sf),
        Relational3.decimalAgg(spark, sf))) {
      df.collect() // run THIS df's plan (count() would plan a new one)
      // codegen stages print as "*(n) Node" in the executed plan
      val p = df.queryExecution.executedPlan.toString()
      assert(p.contains("isFinalPlan=true"), p)
      assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined,
        s"no whole-stage-codegen stage in final plan:\n$p")
    }
  }

  test("documents scan pushes the doc_id filter (generator queries too)") {
    val p = plan(Relational3.explodeTokens(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id"),
      s"doc_id filter not pushed:\n$p")
  }

  test("cube/rollup expand to a single shuffle, not one per grouping set") {
    val p = plan(Relational3.cubeAgg(spark, sf))
    assert(p.contains("Expand"), p)
    // exchanges: one for the agg, at most one for the final orderBy
    // (none once the result is small enough to sort in one task) — never 4
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"cube should not shuffle per grouping set:\n$p")
  }

  test("a small result sorts in one task; a large one keeps the range exchange") {
    // rel_rollup's presentation ORDER BY over a handful of rollup rows: below
    // the broadcast threshold it is a local sort over one coalesced
    // partition, so the range partitioner's sampling job and the range
    // shuffle's map stage are both gone from collect()
    def collected(): (String, Int) = {
      val df = graft.ops.Relational2.rollupAgg(spark, sf)
      val (_, jobs) = jobsStartedBy(df.collect())
      (df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head, jobs)
    }
    collected() // first touch: schema and file listing
    val (small, smallJobs) = collected()
    assert(!small.contains("rangepartitioning"), small)
    assert(small.contains("Coalesce 1") && small.contains("], false, 0"), small)
    // a 1-byte threshold stands in for a result too large to broadcast
    // (the 100 TB path); -1 turns the rule off like broadcast joins
    for (threshold <- Seq("1", "-1")) {
      val (large, largeJobs) = graft.util.Confs.withConfs(spark)(
        "spark.sql.autoBroadcastJoinThreshold" -> threshold)(collected())
      assert(large.contains("Exchange rangepartitioning"),
        s"threshold $threshold lost the range exchange:\n$large")
      assert("Sort \\[[^\n]*\\], true, 0".r.findFirstIn(large).isDefined,
        s"threshold $threshold lost the global sort:\n$large")
      if (threshold == "1") assert(largeJobs - smallJobs === 2,
        s"jobs: $largeJobs with the range sort vs $smallJobs without")
    }
  }

  test("SCD2 build: both window passes share one shuffle") {
    val p = plan(Relational3.scd2(spark, sf))
    // lag-mark and lead-close use the same (custkey, date, key)
    // partitioning — a second exchange means the windows diverged
    // (the final orderBy's range exchange, when the result is too large
    // to sort in one task, is the only other exchange)
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"SCD2 windows should reuse one hash exchange:\n$p")
  }

  test("interval join runs as a bucket equi-join, never a cartesian plan") {
    val df = graft.ops.Events.intervalJoin(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head // AQE dumps repeat the initial plan
    assert(!p.contains("CartesianProduct"),
      s"overlap join degraded to cartesian:\n$p")
    // the day-bucket rewrite must make the overlap itself an
    // equi-join on the bucket with the range predicate as residual
    // (the 1-row threshold broadcast is a legitimate nested loop)
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[day".r
      .findFirstIn(p).isDefined,
      s"no bucket equi-join on day in the overlap plan:\n$p")
  }

  test("semantic dedup: centroid scoring broadcasts, pair join keys on cluster") {
    val df = graft.ops.Similarity.semanticDedup(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the within-cluster pairwise block must be an equi-join on the
    // cluster id (the SemDeDup scale contract) — a cartesian over the
    // corpus would be the n² plan the method exists to avoid
    assert(!p.contains("CartesianProduct"),
      s"pair search degraded to cartesian:\n$p")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[cluster".r
      .findFirstIn(p).isDefined
      || "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[c_label".r
        .findFirstIn(p).isDefined,
      s"no cluster-keyed equi-join in the pair plan:\n$p")
    // the tiny centroid relation rides in as a broadcast, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin")
      || p.contains("BroadcastExchange"),
      s"centroid scoring does not broadcast:\n$p")
  }

  test("language mixture: per-lang epochs broadcast back over the scan") {
    val df = graft.ops.Curation.langMixture(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // K-row epochs / totals relations must broadcast — the corpus-side
    // scan stays shuffle-free until the final per-lang rollup
    assert("BroadcastHashJoin \\[lang".r.findFirstIn(p).isDefined,
      s"epochs join is not a broadcast on lang:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"scalar totals degraded to cartesian:\n$p")
  }

  test("audio frame energy keeps whole-stage codegen over the media scan") {
    val df = graft.ops.Multimodal.audioEnergy(spark, sf)
    df.collect() // materialize so AQE finalizes and WSCG spans appear
    val p = df.queryExecution.executedPlan.toString
    // the fused FrameEnergyStats expression must not sever WSCG the
    // way the old typed mapPartitions (DeserializeToObject) did;
    // WSCG spans print as "*(n) " in the adaptive final plan
    assert(p.contains("*(1) Filter") || p.contains("WholeStageCodegen"),
      s"no WSCG span over the scan:\n$p")
    assert(!p.contains("DeserializeToObject"), s"encoder round-trip leaked:\n$p")
  }

  test("triangle count leaves the adjacency join strategy to AQE") {
    val df = graft.ops.Graph.triangles(spark, sf)
    assert(df.count() === 1)
    // no broadcast/shuffle hint may appear: at cluster scale the
    // adjacency exceeds executor memory and the join must be free to
    // degrade to a co-partitioned shuffle join. ResolvedHint nodes
    // are eliminated before optimizedPlan (FinishAnalysis), so the
    // surviving evidence of a hint is the Join's JoinHint field —
    // assert on that, not on the node name
    val analyzed = df.queryExecution.analyzed.toString
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!analyzed.contains("ResolvedHint")
      && !optimized.contains("strategy=broadcast")
      && !optimized.contains("strategy=shuffle"),
      s"hinted join leaked:\n$optimized")
  }

  test("gap-fill joins the dense spine without a spine-side shuffle") {
    val df = graft.ops.Events.gapFill(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    // the bounds agg feeding the spine must arrive broadcast
    assert(p.contains("BroadcastNestedLoopJoin")
      || p.contains("BroadcastExchange"),
      s"spine bounds should broadcast:\n$p")
  }

  test("bigram LM reads only the text column") {
    val p = plan(graft.ops.TextAnalysis.bigramLm(spark, sf))
    val readSchema = "ReadSchema: struct<([^>]*)".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.startsWith("text:"),
      s"bigram scan should prune to text only: $readSchema")
  }

  test("domain cap: both windows share one source-partition exchange") {
    val p = plan(graft.ops.Curation.domainCap(spark, sf))
    // rank + per-domain count reuse the same hashpartitioning(source)
    // exchange; a second pre-Window exchange means the windows split
    val preOutput = p.split("\n").drop(3).mkString("\n") // skip final sort
    assert("Exchange hashpartitioning\\(source".r
      .findAllIn(preOutput).length == 1,
      s"expected exactly one source-keyed exchange:\n$p")
  }

  test("repetition pushes the per-doc top-1 below the shuffle") {
    val p = plan(graft.ops.TextAnalysis.repetition(spark, sf))
    // WindowGroupLimit must appear on BOTH sides of the doc_id
    // exchange (partial limit pre-shuffle, final post-shuffle) so at
    // scale only <=1 bigram row per doc per mapper shuffles, not the
    // full per-doc bigram histogram
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      s"expected partial+final WindowGroupLimit:\n$p")
  }

  test("fused contamination plans joinless: narrow map + one TakeOrdered") {
    val p = plan(graft.ops.Curation.contamination(spark, sf))
    // the corpus side must NOT explode + join against the benchmark:
    // the eval-set shingles ship as a literal into the intersect kernel
    assert(!p.contains("Join"), s"expected joinless fused plan:\n$p")
    assert(!p.toLowerCase.contains("generate"),
      s"expected no explode on the probe side:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 should be the only wide operation:\n$p")
  }

  test("top-k sketch aggregates partially before the single-point merge") {
    val p = plan(graft.ops.Skew.topkSketch(spark, sf))
    // partial ObjectHashAggregate per input partition, then one
    // SinglePartition exchange carrying sketches — never raw rows
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("Exchange SinglePartition"), p)
  }

  test("secondary sort: one exchange, no extra sort above mapPartitions") {
    val df = graft.ops.Events.secondarySort(spark, sf)
    val p = plan(df)
    // exactly one user_id exchange feeds the within-partition sort;
    // the final presentation orderBy's range exchange (absent when the
    // result is small enough to sort in one task) is the only other one
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1,
      s"expected one user_id exchange:\n$p")
    assert(p.contains("MapPartitions"), p)
  }

  test("events ts normalization does not block column pruning to the scan") {
    // Tables.events interposes a Project deriving ts_us/event_time
    // from the scanned ts; if Catalyst failed to prune THROUGH it,
    // every events query would read all 6 columns — including the
    // wide props string — regardless of what it uses. Assert the
    // ReadSchema of the events scan per query shape.
    def readSchema(df: org.apache.spark.sql.DataFrame): String =
      "ReadSchema: [^\\n]*".r.findAllIn(plan(df)).mkString("; ")
    // tumbling touches ts/event_type/value/user_id — props must not be read
    val rs = readSchema(graft.ops.Events.tumblingWindow(spark, sf))
    assert(!rs.contains("props"), s"props read by tumblingWindow: $rs")
    // cohort touches only user_id + ts
    val rs2 = readSchema(graft.ops.Events.cohortRetention(spark, sf))
    assert(!rs2.contains("props") && !rs2.contains("value") &&
      !rs2.contains("event_type"), s"over-read by cohortRetention: $rs2")
    // anomalies touches only event_type + value — even ts must prune away
    val rs3 = readSchema(graft.ops.Events.anomalies(spark, sf))
    assert(!rs3.contains("ts") && !rs3.contains("user_id") &&
      !rs3.contains("props"), s"over-read by anomalies: $rs3")
  }

  test("scale-sensitive plan shapes hold at bench scale and the 10x fixture") {
    // the shapes above are pinned at sf0.001; the ones that can FLIP
    // as data grows are the 100-TB hazards — a dimension join that
    // silently becomes sort-merge, a top-k that becomes a global
    // sort, a filter that stops reaching the scan. Re-assert those at
    // every scale present (the .scale/sf1 fixture is generated, so it
    // participates when built — `assume` keeps fresh clones green).
    val dirs = Seq("/root/testdata/sf0.1") ++
      Some("/root/repo/.scale/sf1").filter(d => new java.io.File(d).exists())
    for (dir <- dirs) {
      val join = plan(Relational.joinSingleKey(spark, dir))
      assert(join.contains("BroadcastHashJoin"),
        s"dimension join lost broadcast at $dir:\n$join")
      val topk = plan(Relational.topK(spark, dir))
      assert(topk.contains("TakeOrderedAndProject"),
        s"top-k became a global sort at $dir:\n$topk")
      val filt = plan(Relational.filterPredicates(spark, dir))
      assert(filt.contains("PushedFilters: ["), s"filter unpushed at $dir")
      assert(!filt.replace("PushedFilters: []", "").contains(
        "PushedFilters: []"), s"filter pushdown empty at $dir:\n$filt")
      val agg = plan(Relational.groupByAgg(spark, dir))
      assert("HashAggregate".r.findAllIn(agg).length >= 2,
        s"aggregation lost map-side combine at $dir:\n$agg")
    }
  }

  test("incremental probes push the delta key envelope into the base scan") {
    // the clustered-layout contract (SCALING r16): the dup probe's
    // base-edge scan must carry the batch's min/max envelope as
    // PushedFilters, so the range-sorted parquet can skip row groups
    // outside the batch footprint. Asserted on the executed plan, not
    // intended: losing the pushdown silently re-linearizes the
    // constant-delta update (measured 1.2 s -> 21 s at sf10).
    val df = graft.ops.Graph.degreeIncremental(spark, sf)
    df.collect()
    val p = plan(df)
    // anchor the assertion to the BASE-EDGE probe scan itself, not
    // "anywhere in the plan" (ADVICE r16): split the executed plan
    // into scan nodes and require the four envelope bounds inside the
    // node whose file location is the edgesbase artifact, so an
    // unrelated scan carrying similar filters can never satisfy it
    val scanBlocks = p.split("(?=FileScan parquet|Scan parquet)")
      .filter(_.contains("edgesbase"))
    assert(scanBlocks.nonEmpty,
      s"no scan over the edgesbase artifact in the plan:\n$p")
    assert(scanBlocks.exists(b =>
      b.contains("GreaterThanOrEqual(p1") &&
        b.contains("LessThanOrEqual(p1") &&
        b.contains("GreaterThanOrEqual(p2") &&
        b.contains("LessThanOrEqual(p2")),
      "delta key envelope not pushed into the edgesbase probe scan:\n" +
        scanBlocks.mkString("\n---\n"))
  }
}
