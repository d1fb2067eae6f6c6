package graft

import org.apache.spark.sql.functions._
import graft.ops.Relational3
import graft.util.Delta

class Relational3Spec extends SparkTestBase {

  test("cube emits every grouping-set combination incl. grand total") {
    import spark.implicits._
    val rows = Relational3.cubeAgg(spark, sf)
    val flags = rows.select("flag").as[String].collect().toSet
    val statuses = rows.select("status").as[String].collect().toSet
    assert(flags.contains("<all>") && statuses.contains("<all>"))
    // grand total row count == table count
    val total = rows.filter($"flag" === "<all>" && $"status" === "<all>")
      .select("n").as[Long].head()
    assert(total === spark.read.parquet(s"$sf/lineitem.parquet").count())
  }

  test("incremental aggregate merge equals the full rebuild, key for key") {
    import spark.implicits._
    val rebuilt = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        (sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")) / 100.0)
          .as("total_spend"),
        max($"o_orderdate").as("last_order"))
      .orderBy("o_custkey")
    for (delta <- deltasFor(Delta.Orders)) {
      val merged = Relational3.aggIncremental(spark, sf, delta)
      assert(merged.exceptAll(rebuilt).count() === 0, s"${delta.tag} delta")
      assert(rebuilt.exceptAll(merged).count() === 0, s"${delta.tag} delta")
    }
    // the split is non-vacuous: both epochs really contribute
    val ord = spark.read.parquet(s"$sf/orders.parquet")
    assert(Delta.Orders.base(ord).count() > 0)
    assert(Delta.Orders.batch(ord).count() > 0)
  }

  test("append-merge SCD2: adversarial shapes reproduce the rebuild " +
      "exactly (new / unchanged / multi-change / untouched customers)") {
    import spark.implicits._
    // synthetic corpus exercising every merge shape a benign fixture
    // may never produce at once: an untouched customer, a delta that
    // changes nothing, a multi-change delta closing the open interval,
    // a brand-new customer, and a same-date tie broken by o_orderkey
    def ts(sd: String) = java.sql.Timestamp.valueOf(sd + " 00:00:00")
    val rows = Seq(
      // cust 1: two base changes; delta repeats the status -> no-op
      (101L, 1L, "O", 10.0, ts("1998-01-01"), "x"),
      (102L, 1L, "F", 10.0, ts("1998-06-01"), "x"),
      (103L, 1L, "F", 10.0, ts("2000-02-01"), "x"),
      // cust 2: one base row; delta flips F then back to O
      (201L, 2L, "O", 10.0, ts("1998-03-01"), "x"),
      (202L, 2L, "F", 10.0, ts("2000-01-10"), "x"),
      (203L, 2L, "F", 10.0, ts("2000-02-10"), "x"),
      (204L, 2L, "O", 10.0, ts("2000-03-10"), "x"),
      // cust 3: new customer, two same-status delta orders
      (301L, 3L, "P", 10.0, ts("2000-01-05"), "x"),
      (302L, 3L, "P", 10.0, ts("2000-04-05"), "x"),
      // cust 4: base only — must pass through bit-identically
      (401L, 4L, "O", 10.0, ts("1997-01-01"), "x"),
      (402L, 4L, "O", 10.0, ts("1997-05-01"), "x"),
      // cust 5: same-DATE delta orders; o_orderkey breaks the tie
      (501L, 5L, "A", 10.0, ts("1998-01-01"), "x"),
      (502L, 5L, "A", 10.0, ts("2000-05-01"), "x"),
      (503L, 5L, "B", 10.0, ts("2000-05-01"), "x"),
      (504L, 5L, "A", 10.0, ts("2000-06-01"), "x"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val dir = java.nio.file.Files
      .createTempDirectory("scd2adv").toString
    rows.coalesce(1).write.parquet(s"$dir/orders.parquet")
    val pred = col("o_orderdate") >=
      lit("2000-01-01").cast("timestamp")
    val inc = Relational3
      .scd2Incremental(spark, dir, Delta(pred, "adv", broadcast = false))
      .collect().toSeq
    val full = Relational3.scd2(spark, dir).collect().toSeq
    assert(inc === full, "append-merge diverged from the rebuild")
    // the shapes really occurred: cust 2 has 3 versions, cust 3 is
    // new with 1, cust 4 untouched with 1, cust 5's tie produced 3
    val byCust = full.groupBy(_.getLong(0)).view.mapValues(_.size).toMap
    assert(byCust(2L) === 3 && byCust(3L) === 1 && byCust(4L) === 1 &&
      byCust(5L) === 3)
    // agg-state merge over the same adversarial corpus (new customer
    // branch + patch branch both non-empty)
    val aggInc = Relational3
      .aggIncremental(spark, dir, Delta(pred, "adv", broadcast = true))
      .collect().toSeq
    val aggFull = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        (sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")) / 100.0)
          .as("total_spend"),
        max($"o_orderdate").as("last_order"))
      .orderBy("o_custkey").collect().toSeq
    assert(aggInc === aggFull, "agg-state merge diverged from rebuild")
  }

  test("a scratch key belongs to one predicate: a new predicate " +
      "under an old tag throws instead of reading the old artifacts") {
    def from(day: String) = Delta(
      col("o_orderdate") >= lit(day).cast("timestamp"), "alias",
      broadcast = false)
    val key = from("2000-01-01").key("aggstate", sf)
    // the same predicate may ask again, broadcast or not
    assert(from("2000-01-01").copy(broadcast = true)
      .key("aggstate", sf) === key)
    val e = intercept[Delta.AliasedKey](from("2001-01-01").key("aggstate", sf))
    assert(e.isInstanceOf[IllegalArgumentException])
    assert(e.getMessage.contains(key))
  }

  test("const-shape incremental paths plan broadcast-only joins " +
      "(no exchange ever touches the persisted base relations)") {
    // the 100-TB daily-batch claim, plan-asserted: with a bounded
    // delta the SCD2 and agg-state updates must join base artifacts
    // only via broadcast builds — a SortMergeJoin or ShuffledHashJoin
    // anywhere means the MV/dimension got exchanged and the update
    // silently re-linearized (the graph_degree_incremental lesson)
    val scd = Relational3.scd2Incremental(spark, sf)
    scd.collect()
    val p1 = scd.queryExecution.executedPlan.toString()
    assert(!p1.contains("SortMergeJoin") && !p1.contains("ShuffledHashJoin"),
      s"non-broadcast join in the SCD2 update:\n$p1")
    val agg = Relational3.aggIncremental(
      spark, sf, Delta.Orders.copy(broadcast = true))
    agg.collect()
    val p2 = agg.queryExecution.executedPlan.toString()
    assert(!p2.contains("SortMergeJoin") && !p2.contains("ShuffledHashJoin"),
      s"non-broadcast join in the broadcast-mode agg update:\n$p2")
  }

  test("incremental patch joins survive the as-counted plan " +
      "(count-prunability guard)") {
    // bench and the profile sweeps consume by count(); a left join
    // against a key-unique aggregate is join-ELIMINATED under a bare
    // count unless a computed column is referenced (NOTES r14). Both
    // incremental finals must keep their patch join in the as-counted
    // plan or their sweep cells time a plain scan.
    for (q <- Seq("rel_agg_incremental", "rel_scd2_incremental")) {
      val counted = SparkEntry.queries(q)(spark, sf).groupBy().count()
      counted.collect()
      val p = counted.queryExecution.executedPlan.toString()
      assert(p.contains("LeftOuter"),
        s"$q lost its patch join under count():\n$p")
    }
  }

  test("listagg: WITHIN GROUP ordering is partitioning-independent") {
    import spark.implicits._
    val direct = Relational3.listAgg(spark, sf)
      .select($"c_nationkey", $"names").as[(Int, String)].collect().toMap
    // same aggregate over an adversarially re-partitioned input must
    // produce byte-identical strings — the ORDER BY inside the
    // aggregate, not arrival order, defines the result
    val shuffled = spark.read.parquet(s"$sf/customer.parquet")
      .repartition(7, $"c_custkey")
      .filter($"c_nationkey" < 10)
      .groupBy($"c_nationkey")
      .agg(expr("listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name)")
        .as("names"))
      .select($"c_nationkey", $"names").as[(Int, String)].collect().toMap
    assert(direct === shuffled)
    // and each group's field really is sorted
    direct.values.foreach { s =>
      val parts = s.split(",").toSeq
      assert(parts === parts.sorted)
    }
  }

  test("window nav: lag/lead invert each other along the frame") {
    import spark.implicits._
    val df = Relational3.windowNav(spark, sf).cache()
    // row k's next_price must equal row k+1's o_totalprice per custkey
    val pairs = df.select($"o_custkey", $"rn", $"o_totalprice", $"next_price")
    val shifted = df.select($"o_custkey", ($"rn" - 1).as("rn"),
      $"o_totalprice".as("successor_price"))
    val joined = pairs.join(shifted, Seq("o_custkey", "rn"))
    assert(joined.filter($"next_price" =!= $"successor_price").count() === 0)
    assert(df.filter($"rn" === 1 && $"prev_price".isNotNull).count() === 0)
    df.unpersist()
  }

  test("explode emits exactly one row per token") {
    import spark.implicits._
    val exploded = Relational3.explodeTokens(spark, sf)
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"doc_id" < 100)
      .select(size(graft.ops.TextAnalysis.tokens($"text")).as("n"))
      .agg(sum($"n")).as[Long].head()
    assert(exploded.count() === expected)
  }

  test("range join buckets partition the table exactly") {
    import spark.implicits._
    val buckets = Relational3.rangeJoin(spark, sf)
    val n = buckets.agg(sum($"n")).as[Long].head()
    assert(n === spark.read.parquet(s"$sf/lineitem.parquet").count())
    // broadcast of the tiny bucket side, not a shuffled join
    val plan = buckets.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("map funcs: per-type counts recoverable from the map") {
    import spark.implicits._
    val m = Relational3.mapFuncs(spark, sf)
    val purchases = graft.util.Tables.events(spark, sf)
      .filter($"user_id" < 100 && $"event_type" === "purchase")
      .groupBy($"user_id").count()
    val joined = m.join(purchases, Seq("user_id"))
    assert(joined.filter($"n_purchase" =!= $"count").count() === 0)
  }

  test("array funcs order statistics agree with direct aggregates") {
    import spark.implicits._
    val a = Relational3.arrayFuncs(spark, sf)
    val direct = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter($"l_orderkey" < 2000)
      .groupBy($"l_orderkey")
      .agg(min($"l_quantity").as("dmin"), max($"l_quantity").as("dmax"),
        sum($"l_quantity").as("dsum"))
    val j = a.join(direct, Seq("l_orderkey"))
    assert(j.filter($"min_qty" =!= $"dmin" || $"max_qty" =!= $"dmax"
      || $"sum_qty" =!= $"dsum").count() === 0)
  }

  test("decimal agg sums are exact (match DECIMAL-typed recompute)") {
    import spark.implicits._
    val d = Relational3.decimalAgg(spark, sf)
    val expect = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_returnflag", $"l_extendedprice".cast("decimal(12,2)").as("p"))
      .groupBy($"l_returnflag").agg(sum($"p").cast("double").as("s"))
    val j = d.join(expect, Seq("l_returnflag"))
    assert(j.filter($"sum_price" =!= $"s").count() === 0)
  }

  test("orc round-trip preserves the supplier relation") {
    val back = graft.sources.Sources.orcRoundtrip(spark, sf)
    val orig = spark.read.parquet(s"$sf/supplier.parquet")
    assert(back.count() === orig.count())
    assert(back.columns.sorted.sameElements(orig.columns.sorted))
  }

  test("flatMap UDTF emits one row per word with stable indexing") {
    import spark.implicits._
    val rows = graft.ops.Udfs.flatMapUdtf(spark, sf)
    assert(rows.filter($"word_len" =!= length($"word").cast("long"))
      .count() === 0)
    assert(rows.groupBy($"p_partkey").agg(min($"word_idx").as("lo"))
      .filter($"lo" =!= 0).count() === 0)
  }

  test("frame sample: ≤4 frames per video, offsets within payload") {
    import spark.implicits._
    val fs = graft.ops.Multimodal.frameSample(spark, sf).cache()
    assert(fs.groupBy($"doc_id").count().filter($"count" > 4).count() === 0)
    val withLen = fs.join(
      spark.read.parquet(s"$sf/documents.parquet")
        .select($"doc_id", length($"text").as("len")), Seq("doc_id"))
    assert(withLen.filter($"byte_off" >= $"len").count() === 0)
    // only video rows (doc_id % 3 == 2) are sampled
    assert(fs.filter(pmod($"doc_id", lit(3)) =!= 2).count() === 0)
    fs.unpersist()
  }

  test("streaming sliding window matches the batch expansion") {
    import spark.implicits._
    val stream = graft.streaming.EventStream.slidingCounts(spark, sf)
    val batch = graft.util.Tables.events(spark, sf)
      .select(col("ts_us").as("us"))
      .select(explode(array(lit(0), lit(1))).as("off"), $"us")
      .select(((expr("us div 1800000000") - $"off") * lit(1800L))
        .as("win_start"))
      .groupBy("win_start").agg(count(lit(1)).as("bn"))
    val j = stream.select($"win_start", $"n_events")
      .join(batch, Seq("win_start"), "full_outer")
    assert(j.filter($"n_events".isNull || $"bn".isNull
      || $"n_events" =!= $"bn").count() === 0)
  }
}
