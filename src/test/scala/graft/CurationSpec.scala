package graft

import org.apache.spark.sql.functions._
import graft.ops.Curation
import graft.util.Delta

class CurationSpec extends SparkTestBase {

  import spark.implicits._

  test("hash split partitions the corpus exactly, content-keyed") {
    val split = Curation.hashSplit(spark, sf)
    val total = split.agg(sum($"n_docs")).as[Long].head()
    assert(total === spark.read.parquet(s"$sf/documents.parquet").count())
    // identical text must land in the same split: bucket is a pure
    // function of content, so distinct(text -> split) is 1:1
    val perText = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("bucket",
        conv(substring(md5($"text"), 1, 4), 16, 10).cast("long") % 10)
      .groupBy($"text").agg(countDistinct($"bucket").as("nb"))
    assert(perText.filter($"nb" > 1).count() === 0)
  }

  test("language mixture: epochs rule, conservation bounds, flattening") {
    val rows = Curation.langMixture(spark, sf)
      .as[(String, Long, Double, Double, Long, Double)].collect()
    assert(rows.nonEmpty)
    val k = rows.length
    val nTotal = rows.map(_._2).sum
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { case (lang, n, epochs, orig, sampled, realized) =>
      // the alpha=0.5 temperature rule, from exact integer counts
      assert(epochs === r6(math.sqrt(nTotal.toDouble / (k.toLong * n))),
        s"$lang epochs")
      // every doc contributes floor(e) or ceil(e) copies — nothing lost
      assert(sampled >= math.floor(epochs).toLong * n &&
        sampled <= math.ceil(epochs).toLong * n, s"$lang conservation")
      // resampling moves every language TOWARD the uniform share 1/K
      assert(math.abs(realized - 1.0 / k) <=
        math.abs(orig - 1.0 / k) + 0.005, s"$lang flattening")
    }
    // multiplicity is content-keyed: identical corpus → identical plan
    // output (pure hash, no RNG) — second run must match exactly
    val again = Curation.langMixture(spark, sf)
      .as[(String, Long, Double, Double, Long, Double)].collect()
    assert(rows.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("contamination: benchmark docs fully contaminate themselves") {
    // a doc that IS a benchmark shingle-subset would score 1.0; all
    // scores are valid ratios and hits never exceed the shingle count
    val c = Curation.contamination(spark, sf).collect()
    assert(c.nonEmpty)
    assert(c.forall { r =>
      val ratio = r.getDouble(2)
      ratio > 0.0 && ratio <= 1.0
    })
  }

  test("contamination fallback (cap exceeded) is row-identical to the fused path") {
    // The MaxBenchShingles guard selects a broadcast-join plan when the
    // benchmark shingle set is too large for a codegen literal. That
    // branch is the load-bearing at-scale escape hatch, so force it
    // (cap=1 — any real benchmark exceeds one shingle) and prove both
    // branches compute the same relation, row for row.
    val fused = Curation.contaminationWithCap(spark, sf, 1000000)
      .collect().toSeq
    val fallback = Curation.contaminationWithCap(spark, sf, 1)
      .collect().toSeq
    assert(fused.nonEmpty)
    // deterministic total order (rounded ratio desc, doc_id asc) →
    // direct sequence equality, not just set equality
    assert(fallback === fused)
  }

  test("incremental contamination equals the full rebuild exactly " +
      "and both epochs contribute") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val full = Curation.contamination(spark, dir).collect().toSeq
      // deterministic total order (ratio desc, doc_id asc) → direct
      // sequence equality (the scd2Incremental discipline)
      val incs = for (delta <- deltasFor(Delta.Documents)) yield {
        val inc = Curation.contaminationIncremental(spark, dir, delta)
          .collect().toSeq
        assert(inc === full, s"merge != rebuild at $dir (${delta.tag} delta)")
        inc
      }
      val inc = incs.head
      // the split is non-vacuous: the top-50 contains docs from BOTH
      // the base and the delta epoch, or the proof proves nothing
      val deltaIds = inc.map(_.getLong(0))
        .filter(id => id % 10 == 7).toSet
      assert(deltaIds.nonEmpty, s"no delta doc in the top-50 at $dir")
      assert(inc.map(_.getLong(0)).exists(id => id % 10 != 7),
        s"no base doc in the top-50 at $dir")
    }
  }

  test("ChunkFingerprints matches the declarative slice+md5 formulation") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("toks", filter(split($"text", "\\s+"), t => t =!= lit("")))
    val declarative = docs.select($"doc_id",
      explode(transform(
        sequence(lit(0),
          greatest((size($"toks") + 95).divide(96).cast("int") - 1, lit(0))),
        i => md5(concat_ws(" ", slice($"toks", i * 96 + 1, lit(128))))))
        .as("fp"))
    val fused = docs.select($"doc_id",
      explode(graft.functions.TextFunctions
        .chunk_fingerprints($"text", 128, 96)).as("fp"))
    assert(fused.count() === declarative.count())
    assert(fused.except(declarative).count() === 0)
    assert(declarative.except(fused).count() === 0)
  }

  test("chunking covers every token exactly: spans tile [0, n) with stride") {
    val chunks = Curation.chunk(spark, sf).cache()
    // chunk 0 starts at 0; consecutive starts differ by the stride;
    // the last chunk's end reaches the doc's token count
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id",
        org.apache.spark.sql.functions.size(
          graft.ops.TextAnalysis.tokens($"text")).cast("long").as("n"))
    val last = chunks.groupBy($"doc_id").agg(max($"end_tok").as("max_end"))
      .join(toks, Seq("doc_id"))
    assert(last.filter($"max_end" =!= $"n").count() === 0)
    assert(chunks.filter($"chunk_idx" === 0 && $"start_tok" =!= 0)
      .count() === 0)
    assert(chunks.filter($"end_tok" - $"start_tok" > 128).count() === 0)
    chunks.unpersist()
  }

  test("chunkAgg equals the gated chunker re-aggregated, order-free") {
    // the production-shape variant must summarize EXACTLY the spans
    // the gated query emits — recompute its aggregate from chunk()'s
    // rows (after an adversarial repartition, so any order
    // sensitivity in the checksum would show) and require equality
    val spans = Curation.chunk(spark, sf).repartition(17)
    val fromGated = spans.agg(
      count(lit(1)).as("n_chunks"),
      count(when($"chunk_idx" === 0L, 1)).as("n_docs"),
      sum($"end_tok" - $"start_tok").as("sum_span"),
      sum(($"doc_id" % 1000003L + 1L)
        * ($"start_tok" * 31L + $"end_tok" * 7L + $"chunk_idx" * 3L + 1L)
        % 1000000007L).as("span_chk"))
      .as[(Long, Long, Long, Long)].head()
    val agg = Curation.chunkAgg(spark, sf)
      .as[(Long, Long, Long, Long)].head()
    assert(agg === fromGated)
    // n_docs really is the distinct-doc count (the chunk_idx==0 trick)
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(agg._2 === nDocs)
  }

  test("packing conserves tokens and respects the budget shape") {
    val packed = Curation.packSequences(spark, sf).cache()
    val total = packed.agg(sum($"bin_tokens")).as[Long].head()
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .select(org.apache.spark.sql.functions.size(
        graft.ops.TextAnalysis.tokens($"text")).cast("long").as("n"))
      .agg(sum($"n")).as[Long].head()
    assert(total === expected) // every token lands in exactly one bin
    // all bins but each source's last hold >= one budget's worth - slack
    val perSource = packed.groupBy($"source").agg(max($"bin").as("last"))
    val nonLast = packed.join(perSource, Seq("source"))
      .filter($"bin" =!= $"last")
    assert(nonLast.filter($"bin_tokens" < 1024).count() === 0,
      "a non-final bin is badly underfilled")
    packed.unpersist()
  }

  test("hinted join plans as ShuffledHashJoin") {
    val df = graft.ops.Relational3.joinHinted(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ShuffledHashJoin"), plan)
  }

  test("curation summary: kept never exceeds total, ratio consistent") {
    val rows = Curation.curationSummary(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val total = r.getLong(1)
      val kept = r.getLong(2)
      assert(kept <= total)
      assert(math.abs(r.getDouble(3) - kept.toDouble / total) < 1e-3)
    }
  }

  test("k-anonymize: ladder matches a plain-Scala regroup, k-guarantee holds") {
    val base = spark.read.parquet(s"$sf/customer.parquet")
      .selectExpr("c_custkey", "CAST(c_nationkey AS BIGINT) AS nation",
        "c_mktsegment AS segment",
        "CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band")
      .as[(Long, Long, String, Long)].collect()
    val n0 = base.groupBy(r => (r._2, r._3, r._4)).view.mapValues(_.length).toMap
    val n1 = base.groupBy(r => (r._2, r._3)).view.mapValues(_.length).toMap
    val n2 = base.groupBy(_._3).view.mapValues(_.length).toMap
    val k = 10
    val want = base.sortBy(_._1).map { case (id, na, sg, bd) =>
      val lvl =
        if (n0((na, sg, bd)) >= k) 0L
        else if (n1((na, sg)) >= k) 1L
        else if (n2(sg) >= k) 2L
        else 3L
      val gn = lvl match {
        case 0L => n0((na, sg, bd)).toLong
        case 1L => n1((na, sg)).toLong
        case 2L => n2(sg).toLong
        case _  => base.length.toLong
      }
      (id, lvl,
        if (lvl <= 1) na else -100L,
        if (lvl <= 2) sg else "*",
        if (lvl == 0) bd else -100L,
        gn)
    }.toSeq
    val got = graft.ops.Curation.kAnonymize(spark, sf)
      .as[(Long, Long, Long, String, Long, Long)].collect().toSeq
    assert(got === want)
    // the suppression sentinel is DISJOINT from both attribute
    // domains on this data — in particular the band of a
    // negative-balance customer is -1, which the first sentinel
    // choice collided with
    val realBands = base.map(_._4)
    assert(realBands.min >= -1L, "band domain must stay clear of the sentinel")
    assert(base.map(_._2).min >= 0L)
    // the released guarantee: every record either hides in a group of
    // >= k at its chosen level, or is fully suppressed (level 3)
    got.foreach { case (id, lvl, _, _, _, gn) =>
      assert(lvl === 3L || gn >= k.toLong, s"cust $id: level $lvl group $gn")
    }
    // monotone ladder: released attributes only ever shrink with level
    // (sentinel is Curation.Suppressed, NOT -1 — -1 is a legitimate
    // band value for negative-balance customers)
    val S = graft.ops.Curation.Suppressed
    got.filter(_._2 == 3L).foreach { case (_, _, n, s2, b, _) =>
      assert(n === S && s2 === "*" && b === S)
    }
  }

  /** Plain-Scala reimplementation of the STRICT residual ladder —
    * shared by the corpus test and the synthetic-fixture test.
    */
  private def strictWant(base: Seq[(Long, Long, String, Long)], k: Int)
      : Seq[(Long, Long, Long, String, Long, Long)] = {
    val S = graft.ops.Curation.Suppressed
    val n0 = base.groupBy(r => (r._2, r._3, r._4)).view.mapValues(_.length).toMap
    val unsafe0 = base.filter(r => n0((r._2, r._3, r._4)) < k)
    val r1 = unsafe0.groupBy(r => (r._2, r._3)).view.mapValues(_.length).toMap
    val unsafe1 = unsafe0.filter(r => r1((r._2, r._3)) < k)
    val r2 = unsafe1.groupBy(_._3).view.mapValues(_.length).toMap
    val r3 = unsafe1.count(r => r2(r._3) < k)
    base.sortBy(_._1).map { case (id, na, sg, bd) =>
      val lvl =
        if (n0((na, sg, bd)) >= k) 0L
        else if (r1((na, sg)) >= k) 1L
        else if (r2(sg) >= k) 2L
        else 3L
      val gn = lvl match {
        case 0L => n0((na, sg, bd)).toLong
        case 1L => r1((na, sg)).toLong
        case 2L => r2(sg).toLong
        case _  => r3.toLong
      }
      (id, lvl,
        if (lvl <= 1) na else S,
        if (lvl <= 2) sg else "*",
        if (lvl == 0) bd else S,
        gn)
    }
  }

  test("strict k-anonymize: residual ladder matches plain-Scala and " +
      "every RELEASED equivalence class has >= k members") {
    val base = spark.read.parquet(s"$sf/customer.parquet")
      .selectExpr("c_custkey", "CAST(c_nationkey AS BIGINT) AS nation",
        "c_mktsegment AS segment",
        "CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band")
      .as[(Long, Long, String, Long)].collect().toSeq
    val k = 10
    val got = graft.ops.Curation.kAnonymizeStrict(spark, sf)
      .as[(Long, Long, Long, String, Long, Long)].collect().toSeq
    assert(got === strictWant(base, k))
    // THE strict guarantee, asserted independently from group_n:
    // group the released rows by their released attributes — every
    // class must hold >= k records, and group_n must BE the class size
    got.filter(_._2 < 3L)
      .groupBy(r => (r._2, r._3, r._4, r._5)).foreach { case (key, cls) =>
        assert(cls.size >= k, s"released class $key has ${cls.size} < $k")
        cls.foreach(r => assert(r._6 === cls.size.toLong,
          s"group_n of ${r._1} != released class size"))
      }
  }

  test("strict k-anonymize: synthetic small groups exercise escalation " +
      "and full suppression; the minimal ladder's residual violation is fixed") {
    val S = graft.ops.Curation.Suppressed
    val k = 10 // = Curation.AnonK
    def cell(n: Int, na: Long, sg: String, bd: Long) =
      Seq.fill(n)((na, sg, bd))
    // (1,S,*): one safe cell + two small cells whose (1,S) residual is
    // only 7 — the MINIMAL ladder would release them at level 1 (the
    // pre-generalization group is 12+4+3=19 >= k) as a released class
    // of 7 < k, the exact violation the strict form exists to fix;
    // (2,S,5) joins them at the segment rung (residual 7+4=11 >= k);
    // (3,T,1) is unreleasable at every rung -> full suppression;
    // (4,U,*): a safe cell plus a residual pair big enough for rung 1.
    val cells =
      cell(12, 1, "S", 1) ++ cell(4, 1, "S", 2) ++ cell(3, 1, "S", 3) ++
      cell(4, 2, "S", 5) ++ cell(5, 3, "T", 1) ++
      cell(6, 4, "U", 1) ++ cell(7, 4, "U", 2) ++ cell(15, 4, "U", 3)
    val base = cells.zipWithIndex.map { case ((na, sg, bd), i) =>
      (i.toLong + 1, na, sg, bd)
    }
    val df = base.toDF("c_custkey", "nation", "segment", "band")
    val got = graft.ops.Curation.kAnonymizeStrictOf(df)
      .as[(Long, Long, Long, String, Long, Long)].collect().toSeq
    assert(got === strictWant(base, k))
    val byId = got.map(r => r._1 -> r).toMap
    // the (1,S,2)/(1,S,3) records ESCALATED past level 1 to the
    // segment rung, class size 11 (with the (2,S,5) records)
    (13L to 23L).foreach { id =>
      assert(byId(id) === ((id, 2L, S, "S", S, 11L)), s"cust $id")
    }
    // (3,T,1) records fully suppressed, accounting count 5
    (24L to 28L).foreach { id =>
      assert(byId(id) === ((id, 3L, S, "*", S, 5L)), s"cust $id")
    }
    // (4,U,1)+(4,U,2) released at level 1 on their RESIDUAL size 13
    // (not the pre-generalization 28 the minimal ladder reports)
    (29L to 41L).foreach { id =>
      assert(byId(id) === ((id, 1L, 4L, "U", S, 13L)), s"cust $id")
    }
    // safe cells release at level 0 untouched
    assert(byId(1L) === ((1L, 0L, 1L, "S", 1L, 12L)))
    assert(byId(56L) === ((56L, 0L, 4L, "U", 3L, 15L)))
  }
}
