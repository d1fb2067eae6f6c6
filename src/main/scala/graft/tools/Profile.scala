package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc profiling entry for development (not part of the driver
  * contract). Usage: runMain graft.tools.Profile <sfDir> <what>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val what = if (args.length > 1) args(1) else "minhash"
    // SPARK_GRAFT_CPUS lets the same sweep measure STRONG scaling
    // (fixed data, varying cores) — shuffle partitions track cores so
    // the plan a smaller "cluster" would run is the plan measured
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MIN_PARTITIONS pins the file-scan map count across a
    // data decade (constant-map-count CONTROL for the shuffle-byte
    // exponents: partial-agg output ∝ map count × per-map distinct
    // keys, so a map-count that grows with the file count inflates the
    // byte exponent without any per-row work growing)
    val minParts = sys.env.get("SPARK_GRAFT_MIN_PARTITIONS")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.minPartitionNum",
        minParts.getOrElse(cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", graft.util.ScratchIndex.sparkLocalDir())
      .config("spark.sql.warehouse.dir", graft.util.ScratchIndex.warehouseDir())
      // no-fork local FS — see graft.util.BareLocalFileSystem
      .config("spark.hadoop.fs.file.impl",
        "graft.util.BareLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.util.BareLocalFs")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_CONF="k=v;k2=v2": ad-hoc session confs for
    // experiments (e.g. streaming state-store knobs) without editing
    // the tool per hypothesis
    sys.env.get("SPARK_GRAFT_CONF").foreach { kvs =>
      kvs.split(';').filter(_.nonEmpty).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      }
    }

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    what match {
      case "minhash" =>
        import org.apache.spark.sql.functions._
        val docs = graft.util.Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("text"))
        time("shingles only") {
          docs.select(graft.ops.Dedup.shingles(col("text")).as("sh"))
            .agg(sum(size(col("sh")))).first()
        }
        time("signatures") {
          graft.ops.Dedup.minhashSignatures(docs)
            .agg(sum(size(col("sig")))).first()
        }
        time("full lsh") {
          graft.ops.Dedup.minhashLsh(spark, sfDir).count()
        }
      case "dedupsplit" =>
        // stage attribution for the dedup index cascade: each step
        // memoizes to scratch, so each timing isolates ONE layer
        import org.apache.spark.sql.functions._
        time("session warm-up") {
          graft.util.Tables.documents(spark, sfDir).count()
        }
        time("signatureTable build") {
          graft.ops.Dedup.signatureTable(spark, sfDir).count()
        }
        time("candidateEdges build") {
          graft.ops.Dedup.candidateEdges(spark, sfDir).count()
        }
        time("dedupClusters on warm index") {
          graft.ops.Dedup.dedupClusters(spark, sfDir).count()
        }
      case "bloom" =>
        import org.apache.spark.sql.functions._
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        spark.conf.set("spark.sql.optimizer.runtimeFilter.number.threshold", "10")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val li = graft.util.Tables.lineitem(spark, sfDir)
        val sel = graft.util.Tables.orders(spark, sfDir)
          .filter(col("o_orderpriority") === "1-URGENT"
            && col("o_totalprice") > 80000.0)
        val q = li.join(sel, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
        q.explain(true)
      case "warm" =>
        val name = args(2)
        println(s"[profile] pid ${ProcessHandle.current().pid()}")
        // absorb first-query session warm-up (codegen infra, rule
        // init) so round 1 isolates THIS query's cold cost
        time("session warm-up") {
          graft.util.Tables.documents(spark, sfDir).count()
          graft.util.Tables.lineitem(spark, sfDir)
            .groupBy("l_returnflag").count().count()
        }
        for (round <- 1 to 3) {
          time(s"$name round $round") {
            graft.SparkEntry.queries(name)(spark, sfDir).count()
          }
        }
      case "annrecall" =>
        // Recall@3 vs exact brute-force cosine for every ANN variant
        // at the given corpus — the measured numbers behind the
        // spec-pinned floors (VERDICT r13 #6: publish the table, not
        // just the assertions). Ground truth is computed driver-side
        // over the collected embeddings (bounded: the shared 20-query
        // set × corpus scan, the same reimplementation the specs use);
        // every index is deterministic (hash-seeded, no RNG), so these
        // numbers are exactly reproducible per corpus.
        import org.apache.spark.sql.functions.col
        val vecs = graft.util.Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("embedding"))
          .collect()
          .map { r => r.getLong(0) ->
            r.getSeq[Float](1).map(_.toDouble).toArray }.toMap
        def cos(a: Array[Double], b: Array[Double]): Double = {
          var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) {
            d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
          }
          d / math.sqrt(na * nb)
        }
        val exactTop3: Map[Long, Set[Long]] =
          vecs.keys.filter(_ < 20).map { q =>
            val qv = vecs(q)
            q -> vecs.toSeq.filter(_._1 != q)
              .map { case (id, v) => (id, cos(qv, v)) }
              .sortBy { case (id, sc) => (-sc, id) }
              .take(3).map(_._1).toSet
          }.toMap
        val variants: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
          "sim_ann_lsh"   -> graft.ops.Similarity.annLsh(spark, sfDir),
          "sim_ann_ivf"   -> graft.ops.Similarity.annIvf(spark, sfDir),
          "sim_ann_ivf_incremental" ->
            graft.ops.Similarity.annIvfIncremental(spark, sfDir),
          "sim_ann_pq"    -> graft.ops.Similarity.annPq(spark, sfDir),
          "sim_ann_ivfpq" -> graft.ops.Similarity.annIvfPq(spark, sfDir),
          "sim_ann_graph" -> graft.ops.Similarity.annGraph(spark, sfDir))
        val cells = variants.map { case (name, df) =>
          val byQ = df.select(col("q_id"), col("vec_id")).collect()
            .map(r => (r.getLong(0), r.getLong(1)))
            .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
          val perQ = exactTop3.map { case (q, truth) =>
            (byQ.getOrElse(q, Set.empty) & truth).size.toDouble / truth.size
          }
          val recall = perQ.sum / perQ.size
          println(f"[annrecall] $name%-26s recall@3 = $recall%.3f")
          f""""$name":${recall}%.3f"""
        }
        println(s"""{"metric":"ann_recall_at_3","queries":""" +
          cells.mkString("{", ",", "}") +
          s""","n_queries":${exactTop3.size},"sf":"$sfDir"}""")
      case "als" =>
        import org.apache.spark.ml.recommendation.ALS
        val ratings = graft.recommend.AlsPipeline.ratings(spark)
        ratings.count()
        for (blocks <- Seq(10, 4, 2)) {
          time(s"fit rank4 blocks=$blocks") {
            new ALS().setUserCol("userId").setItemCol("movieId")
              .setRatingCol("rating").setRank(4).setMaxIter(10)
              .setRegParam(0.1).setSeed(5).setColdStartStrategy("drop")
              .setNumUserBlocks(blocks).setNumItemBlocks(blocks)
              .fit(ratings)
          }
        }
      case "all" =>
        // Mechanical adjudication mode: every query timed back-to-back
        // twice, min-of-runs reported — the per-query steady-state cost
        // with that query's own codegen compiled, i.e. what the bench's
        // warm sweep would show absent host I/O stalls. Emits ONE JSON
        // line a judge can diff against BENCH_r{N}.json without running
        // per-query profiles by hand. Alongside seconds/rows, a task-
        // metrics listener attributes SHUFFLE WRITE and SPILL bytes to
        // each query (second run = steady state, after any first-touch
        // index builds), so scaling.py can fit shuffle-volume
        // exponents, not just wall-clock ones. (Scan bytes are NOT
        // recorded: Spark 4's local vectorized parquet path bypasses
        // the FS-statistics callback — a 113 MB scan reports ~10 KB —
        // so inputMetrics.bytesRead would only mislead.)
        val mx = new java.util.concurrent.atomic.AtomicLongArray(3)
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onTaskEnd(
                te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
              val m = te.taskMetrics
              if (m != null) {
                mx.addAndGet(0, m.shuffleWriteMetrics.bytesWritten): Unit
                mx.addAndGet(1, m.memoryBytesSpilled): Unit
                mx.addAndGet(2, m.diskBytesSpilled): Unit
              }
            }
          })
        // peak streaming state (numRowsTotal summed over operators) —
        // the streaming scale risk is state growth, not CPU, so record
        // the high-water mark each query's drain reaches
        val statePeak = new java.util.concurrent.atomic.AtomicLong(0)
        spark.streams.addListener(
          new org.apache.spark.sql.streaming.StreamingQueryListener {
            import org.apache.spark.sql.streaming.StreamingQueryListener._
            override def onQueryStarted(e: QueryStartedEvent): Unit = ()
            override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
            override def onQueryProgress(e: QueryProgressEvent): Unit = {
              val t = e.progress.stateOperators.map(_.numRowsTotal).sum
              statePeak.getAndUpdate(m => math.max(m, t)): Unit
            }
          })
        // listener events are async: snapshot once stable (the bus is
        // drained when two reads 150 ms apart agree; 3 s hard cap)
        def counters(): Array[Long] = {
          def snap() = Array.tabulate(3)(mx.get)
          val deadline = System.nanoTime() + 3000000000L
          var prev = snap()
          Thread.sleep(150)
          var cur = snap()
          while (!java.util.Arrays.equals(prev, cur)
              && System.nanoTime() < deadline) {
            prev = cur; Thread.sleep(150); cur = snap()
          }
          cur
        }
        time("session warm-up") {
          graft.util.Tables.documents(spark, sfDir).count()
          graft.util.Tables.lineitem(spark, sfDir)
            .groupBy("l_returnflag").count().count()
        }
        // optional trailing args restrict the sweep to the named
        // queries — the strong-scaling (cores-axis) sweeps use this to
        // run only the data-bound subset, so a 4-core pass doesn't pay
        // for 79 overhead-bound queries whose cost is per-query fixed
        // machinery by construction
        val only = args.drop(2).toSet
        val selected =
          if (only.isEmpty) graft.SparkEntry.queries
          else {
            val unknown = only -- graft.SparkEntry.queries.keySet
            require(unknown.isEmpty, s"unknown queries: $unknown")
            graft.SparkEntry.queries.filter(kv => only(kv._1))
          }
        val results = selected.toSeq.sortBy(_._1).map {
          case (name, fn) =>
            // (seconds, result rows): rows prove the query really ran
            // against this corpus — a source that silently matches
            // nothing (the directory-vs-file parquet trap) shows up as
            // a 0 here, not as a flattering fast timing
            def once(): Either[String, (Double, Long)] = {
              val t0 = System.nanoTime()
              try {
                val rows = fn(spark, sfDir).count()
                Right(((System.nanoTime() - t0) / 1e9, rows))
              }
              catch { case e: Throwable => Left(Option(e.getMessage)
                .getOrElse(e.getClass.getName).take(60)) }
            }
            // evict CONSUMED memory-sink views between runs: every
            // streaming drain registers a graft_stream_N temp view
            // holding its full result rows, and nothing drops them —
            // at sf10, two sweep passes x 19 stream queries of
            // retained results filled the 8 GB driver old-gen until an
            // executor thread died of OOM and the next AQE stage
            // waited forever on it (observed: sweep hung at 100% old
            // gen after the second stream pass). The count() above has
            // fully materialized this query's result, so its sink is
            // dead weight from here on.
            def evictSinkViews(): Unit =
              spark.catalog.listTables().collect()
                .filter(t => t.isTemporary && t.name.startsWith("graft_stream_"))
                .foreach(t => spark.catalog.dropTempView(t.name))
            val first = once()
            evictSinkViews()
            val before = counters() // includes a ≥150 ms settle for run 1
            statePeak.set(0)
            val second = once()
            evictSinkViews()
            val delta = counters().zip(before).map { case (a, b) => a - b }
            val stRows = statePeak.get()
            val r = (first, second) match {
              case (Right((a, n)), Right((b, _))) => Right((math.min(a, b), n))
              case (Right(a), _)                  => Right(a)
              case (_, Right(b))                  => Right(b)
              case (Left(e), _)                   => Left(e)
            }
            r match {
              case Right((sec, rows)) =>
                println(f"[profile] $name%-28s $sec%8.2f s $rows%9d rows " +
                  f"${delta(0) / 1e6}%9.1f shufMB " +
                  f"${(delta(1) + delta(2)) / 1e6}%9.1f spillMB" +
                  (if (stRows > 0) f" $stRows%9d stateRows" else ""))
                name -> Right((sec, rows, delta, stRows))
              case Left(err) =>
                println(s"[profile] $name FAILED: $err"); name -> Left(err)
            }
        }
        def r2(v: Double): String =
          String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
        val ok = results.collect { case (n, Right(s)) => n -> s }
        val bad = results.collect { case (n, Left(_)) => n }
        def field(name: String,
            value: ((Double, Long, Array[Long], Long)) => String) =
          s""""$name":${ok.sortBy(_._1)
            .map { case (k, v) => "\"" + k + "\":" + value(v) }
            .mkString("{", ",", "}")}"""
        println(s"""{"metric":"profile_warm","value":${r2(ok.map(_._2._1).sum)},""" +
          s""""unit":"sec",${field("queries", v => r2(v._1))},""" +
          s"""${field("rows", v => v._2.toString)},""" +
          s"""${field("shuffle_mb", v => r2(v._3(0) / 1e6))},""" +
          s"""${field("spill_mb", v => r2((v._3(1) + v._3(2)) / 1e6))},""" +
          s"""${field("state_rows", v => v._4.toString)},""" +
          s""""failed":${bad.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
          s""""n":${ok.size},"sf":"$sfDir"}""")
      case "incclusters" =>
        // the O(delta) claim, measured: pre-build "yesterday's"
        // persisted artifacts (sig index, edge relation, converged
        // labeling — a real pipeline reads these, never rebuilds),
        // then time the DAILY path (delta mine + projected contraction
        // + compose) against the from-scratch closure. Rebuild runs
        // LAST so JVM/codegen warm-up biases AGAINST the incremental
        // number, and both paths' memoized outputs use distinct keys.
        time("session warm-up") {
          graft.util.Tables.documents(spark, sfDir).count()
        }
        time("base sig+edge index (once ever)") {
          graft.ops.Dedup.baseIndexEdges(spark, sfDir).count()
          graft.ops.Dedup.baseIndexBands(spark, sfDir).count()
        }
        time("base labels (yesterday's output)") {
          graft.ops.Dedup.baseClusterLabels(spark, sfDir).count()
        }
        time("incremental update (the daily job)") {
          graft.ops.Dedup.dedupClustersIncremental(spark, sfDir).count()
        }
        time("full rebuild (what it replaces)") {
          graft.ops.Dedup.dedupClusters(spark, sfDir).count()
        }

      case "incivf" =>
        // same shape as incclusters, for the vector index: pre-build
        // the frozen quantizer + persisted base postings (read, never
        // rebuilt, by a real pipeline), then time the daily path
        // (assign delta + union + answer) against a full retrain +
        // reassign + answer. Rebuild runs LAST so warm-up biases
        // against the incremental number.
        time("session warm-up") {
          graft.util.Tables.embeddings(spark, sfDir).count()
        }
        time("frozen quantizer + base postings (once ever)") {
          graft.ops.Similarity.baseIvfPostings(spark, sfDir).count()
        }
        // maintenance is timed apart from answering: the query path is
        // shared code over whichever postings exist, so the thing the
        // incremental path replaces is ONLY retrain + reassign.
        // Consumed as posting-list sizes (groupBy cent_id), NOT
        // count(): a bare count lets Catalyst prune the assignment
        // projection entirely — the base side degrades to a parquet
        // metadata count and the delta/full assignment never runs —
        // and the "measurement" would time nothing. List sizes are
        // also the natural output of an index update (the stats a
        // real maintainer would publish).
        def postingSizes(df: org.apache.spark.sql.DataFrame): Long =
          df.groupBy("cent_id").count()
            .agg(org.apache.spark.sql.functions.sum("count")).head().getLong(0)
        time("incremental index update (the daily job: assign delta + publish)") {
          graft.ops.Similarity.deltaIvfPostingsPath(spark, sfDir)
        }
        time("full retrain + reassign (what it replaces)") {
          postingSizes(graft.ops.Similarity.rebuildIvfPostings(spark, sfDir))
        }
        time("answer, batch shape (20 queries, probes cover ~all lists)") {
          graft.ops.Similarity.annIvfIncremental(spark, sfDir).count()
        }
        time("answer, point lookup (1 query, nprobe pruned lists)") {
          graft.ops.Similarity.annIvfIncrementalFor(spark, sfDir, 1).count()
        }

      case "trainsample" =>
        // decade evidence for VERDICT r15 #1: quantizer/codebook
        // training input is the bounded trainingSample — it stops
        // growing at the cap while the corpus keeps growing 10×.
        time("session warm-up") {
          graft.util.Tables.embeddings(spark, sfDir).count()
        }
        val emb = graft.ops.Similarity.embRelation(spark, sfDir)
        val corpus = emb.count()
        val n = graft.ops.Similarity.trainingSample(emb).count()
        println(s"[trainsample] corpus=$corpus training_rows=$n " +
          s"cap=${graft.ops.Similarity.TrainSampleN}")
        time("ivf quantizer train (sampled input)") {
          graft.ops.Similarity.ivfCentroids(spark, sfDir)
        }
        time("pq codebook train (sampled input)") {
          graft.ops.Similarity.pqCodebooks(spark, sfDir)
        }

      case "incdegreeconst" =>
        // constant-sized-delta CONTROL for graph_degree_incremental
        // (VERDICT r15 #6): the registered query's fixture delta is a
        // constant FRACTION of the corpus (l_orderkey % 10 == 7), so
        // its update cost grows with the decade by construction. A
        // real daily batch is constant-SIZED; this control pins the
        // claim by running the same update path at sf1/sf10 with the
        // delta fixed to the sf0.1 key range's %10==7 slice (fixture
        // copies shift keys, so that slice exists verbatim at every
        // decade and never grows). The delta is broadcast here — at
        // this size that is the plan a real maintainer runs, and the
        // base-edge probe then has NO exchange: one scan-only pass.
        import org.apache.spark.sql.functions._
        val maxOrig = spark.read
          .parquet("/root/testdata/sf0.1/lineitem.parquet")
          .agg(max(col("l_orderkey"))).head().getLong(0)
        val pred = col("l_orderkey") <= maxOrig &&
          pmod(col("l_orderkey"), lit(10)) === 7
        time("session warm-up") {
          graft.util.Tables.lineitem(spark, sfDir).count()
        }
        time("delta mine (const slice, once per batch)") {
          graft.ops.Graph.deltaGraphPairs(spark, sfDir, pred, "const").count()
        }
        println("[incdegreeconst] delta pairs = " +
          graft.ops.Graph.deltaGraphPairs(spark, sfDir, pred, "const").count())
        time("base artifacts (once ever)") {
          graft.ops.Graph.baseGraphDegrees(spark, sfDir, pred, "const").count()
        }
        for (round <- 1 to 3) {
          time(s"incremental update (const delta) round $round") {
            graft.ops.Graph.degreeIncrementalWith(
              spark, sfDir, pred, "const", bcastDelta = true).count()
          }
        }

      case "incdegdiag" =>
        // component attribution for the constant-delta control: which
        // stage of the update carries the decade growth (base-edge
        // scan, dup probe, or the vertex-table merge agg)
        import org.apache.spark.sql.functions._
        val maxOrig0 = spark.read
          .parquet("/root/testdata/sf0.1/lineitem.parquet")
          .agg(max(col("l_orderkey"))).head().getLong(0)
        val pred0 = col("l_orderkey") <= maxOrig0 &&
          pmod(col("l_orderkey"), lit(10)) === 7
        time("base artifacts (once ever)") {
          graft.ops.Graph.baseGraphDegrees(spark, sfDir, pred0, "const").count()
        }
        val dp = graft.ops.Graph.deltaGraphPairs(spark, sfDir, pred0, "const")
        time("delta pairs (memoized)") { dp.count() }
        for (r <- 1 to 2) {
          time(s"A base-edge scan count only r$r") {
            graft.ops.Graph.baseGraphEdges(spark, sfDir, pred0, "const").count()
          }
          time(s"B dup semi probe (bcast delta) r$r") {
            graft.ops.Graph.baseGraphEdges(spark, sfDir, pred0, "const")
              .join(broadcast(dp), Seq("p1", "p2"), "left_semi").count()
          }
          time(s"C vertex merge agg only r$r") {
            graft.ops.Graph.baseGraphDegrees(spark, sfDir, pred0, "const")
              .groupBy(col("v")).agg(sum(col("degree"))).count()
          }
          time(s"D full update r$r") {
            graft.ops.Graph.degreeIncrementalWith(
              spark, sfDir, pred0, "const", bcastDelta = true).count()
          }
        }
        // the REGISTERED fixture (10%-fraction delta, shuffle-hash):
        // its envelope spans the whole key range, so pruning must be
        // a no-op — this pins the no-regression claim
        time("registered base artifacts (once ever)") {
          graft.ops.Graph.baseGraphDegrees(spark, sfDir).count()
          graft.ops.Graph.deltaGraphPairs(spark, sfDir).count()
        }
        for (r <- 1 to 3) {
          time(s"registered update (10% fraction) r$r") {
            graft.ops.Graph.degreeIncremental(spark, sfDir).count()
          }
        }

      case "inctheta" =>
        // update-vs-rebuild evidence for sketch_theta_incremental:
        // pre-build yesterday's persisted base summary, then time the
        // daily path (delta sketch + fold + persist + pair algebra)
        // against the full-corpus summary rebuild. Rebuild runs LAST
        // (the incclusters discipline) and uses its own memo key.
        time("session warm-up") {
          graft.util.Tables.lineitem(spark, sfDir).count()
        }
        time("base sketch summary (once ever)") {
          graft.ops.Skew.thetaBaseSketchTable(spark, sfDir).count()
        }
        time("delta sketch (the batch's own sketch)") {
          graft.ops.Skew.thetaDeltaSketchTable(spark, sfDir).count()
        }
        time("incremental fold + persist (the daily job)") {
          graft.ops.Skew.thetaMergedSketch(spark, sfDir).count()
        }
        for (round <- 1 to 3) {
          time(s"pair algebra from merged summary round $round") {
            graft.ops.Skew.thetaIncremental(spark, sfDir).count()
          }
        }
        time("full rebuild (what it replaces)") {
          graft.ops.Skew.thetaSketchTable(spark, sfDir).count()
        }

      case "inctriangles" =>
        // update-vs-rebuild evidence for graph_triangles_incremental:
        // base artifacts once ever, then the daily path (delta mine +
        // dup filter + three class counts + summary), then the full
        // rebuild control LAST (it first-touch builds the full edge
        // index under its own memo key, so warm-up biases AGAINST
        // the incremental number).
        time("session warm-up") {
          graft.util.Tables.lineitem(spark, sfDir).count()
        }
        time("base edges+adjacency+summary (once ever)") {
          graft.ops.Graph.baseTriangleStats(spark, sfDir).count()
          graft.ops.Graph.baseGraphAdjacency(spark, sfDir).count()
          graft.ops.Graph.baseP1Vertices(spark, sfDir).count()
        }
        time("delta mine + dup filter (once per batch)") {
          graft.ops.Graph.freshDeltaEdges(spark, sfDir).count()
        }
        for (round <- 1 to 3) {
          time(s"incremental triangle update round $round") {
            graft.ops.Graph.trianglesIncremental(spark, sfDir).count()
          }
        }
        time("full rebuild (what it replaces)") {
          graft.ops.Graph.triangles(spark, sfDir).count()
        }

      case "inctriconst" =>
        // constant-sized-delta CONTROL for graph_triangles_incremental
        // (the incdegreeconst twin): same update path, delta pinned to
        // the sf0.1 key range's %10==7 slice, so the key envelope
        // prunes every base-artifact probe to the batch's footprint.
        import org.apache.spark.sql.functions._
        val maxOrig1 = spark.read
          .parquet("/root/testdata/sf0.1/lineitem.parquet")
          .agg(max(col("l_orderkey"))).head().getLong(0)
        val pred1 = col("l_orderkey") <= maxOrig1 &&
          pmod(col("l_orderkey"), lit(10)) === 7
        time("session warm-up") {
          graft.util.Tables.lineitem(spark, sfDir).count()
        }
        time("base edges+adjacency+summary (once ever)") {
          graft.ops.Graph.baseTriangleStats(spark, sfDir, pred1, "const").count()
          graft.ops.Graph.baseGraphAdjacency(spark, sfDir, pred1, "const").count()
          graft.ops.Graph.baseP1Vertices(spark, sfDir, pred1, "const").count()
        }
        time("delta mine + dup filter (once per batch)") {
          graft.ops.Graph.freshDeltaEdges(spark, sfDir, pred1, "const",
            bcastDelta = true).count()
        }
        for (round <- 1 to 3) {
          time(s"incremental update (const delta) round $round") {
            graft.ops.Graph.trianglesIncrementalParts(spark, sfDir,
              pred1, "const", bcastDelta = true).count()
          }
        }

      case "trainquality" =>
        // VERDICT r16 #2 follow-through: recall@3 at sf1 measures
        // 1.000 for EVERY variant — vacuously (the replicated fixture
        // is near-duplicate cliques: each query's exact top-3 is its
        // own per-copy duplicates, which any index finds in the
        // query's own cell; raw in bench_raw). The non-vacuous
        // question behind the task is whether the 2048-row training
        // cap DEGRADES the quantizer where it binds (sf1 = 10x the
        // cap), so measure the quantizer's own objective instead:
        // mean cosine distortion (1 - cos to the assigned centroid)
        // over the FULL corpus, shipped sample-trained centroids vs
        // an uncapped full-corpus Lloyd run replicated exactly (same
        // cosine assignment with lowest-index ties, same iteration
        // count, same 6-dp HALF_UP mean rounding, init = first IvfK
        // by vec_id of its own training set).
        import org.apache.spark.sql.functions.col
        val emb = graft.ops.Similarity.embRelation(spark, sfDir)
        val all = emb.select(col("vec_id"), col("v")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1)
        def cos(a: Array[Double], b: Array[Double]): Double = {
          var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) {
            dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
            i += 1
          }
          if (na == 0 || nb == 0) 0.0 else dp / math.sqrt(na * nb)
        }
        def assign(v: Array[Double],
            cents: Array[Array[Double]]): Int = {
          var best = 0; var bs = Double.MinValue; var c = 0
          while (c < cents.length) {
            val s0 = cos(v, cents(c)); if (s0 > bs) { bs = s0; best = c }
            c += 1
          }
          best
        }
        def distortion(cents: Array[Array[Double]]): Double =
          all.map { case (_, v) => 1.0 - cos(v, cents(assign(v, cents))) }
            .sum / all.length
        val k = graft.ops.Similarity.IvfK
        val iters = graft.ops.Similarity.IvfIters
        val dim = all.head._2.length
        var cents = all.take(k).map(_._2.clone())
        for (_ <- 1 to iters) {
          val sums = Array.fill(k)(new Array[Double](dim))
          val counts = new Array[Long](k)
          all.foreach { case (_, v) =>
            val b = assign(v, cents)
            counts(b) += 1
            var i = 0; while (i < dim) { sums(b)(i) += v(i); i += 1 }
          }
          cents = Array.tabulate(k) { c =>
            if (counts(c) == 0L) cents(c)
            else sums(c).map(x => BigDecimal(x / counts(c))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
        }
        val sampled = graft.ops.Similarity.ivfCentroids(spark, sfDir)
        val dSampled = distortion(sampled)
        val dFull = distortion(cents)
        println(f"[trainquality] corpus=${all.length} " +
          f"sampled-train distortion=$dSampled%.6f " +
          f"full-train distortion=$dFull%.6f " +
          f"ratio=${dSampled / dFull}%.4f")

      case "incscd2const" =>
        // constant-sized-delta CONTROL for rel_scd2_incremental
        // (VERDICT r16 #4): the registered delta (o_orderdate >=
        // 1999-01-01) is a constant ~40% FRACTION of every decade; a
        // real daily batch is constant-SIZED. Pin the delta to copy
        // 0's customers (custkeys <= the sf0.1 max — fixture copies
        // shift custkeys, so the slice never grows) and measure the
        // append-merge across decades: flat = the dimension is only
        // ever streamed (patch pass), never exchanged or re-derived.
        import org.apache.spark.sql.functions._
        val maxCust = spark.read
          .parquet("/root/testdata/sf0.1/orders.parquet")
          .agg(max(col("o_custkey"))).head().getLong(0)
        val predS = col("o_orderdate") >=
          lit("1999-01-01").cast("timestamp") && col("o_custkey") <= maxCust
        time("session warm-up") {
          graft.util.Tables.orders(spark, sfDir).count()
        }
        println("[incscd2const] delta orders = " +
          graft.util.Tables.orders(spark, sfDir).filter(predS).count())
        time("base dimension (yesterday's output)") {
          graft.ops.Relational3.baseScd2Table(spark, sfDir, predS,
            "const").count()
        }
        time("delta mine (once per batch)") {
          graft.ops.Relational3.deltaOrdersTable(spark, sfDir, predS,
            "const").count()
        }
        for (round <- 1 to 3) {
          time(s"append-merge (const delta) round $round") {
            graft.ops.Relational3.scd2IncrementalWith(spark, sfDir,
              predS, "const").count()
          }
        }
        time("full rebuild (what it replaces)") {
          graft.ops.Relational3.scd2(spark, sfDir).count()
        }

      case "incaggconst" =>
        // constant-sized-delta CONTROL for rel_agg_incremental: same
        // const slice as incscd2const; the broadcast-delta patch pass
        // must stream the persisted MV state with no exchange, so the
        // decade slope is the MV's own size (the output), never the
        // history's.
        import org.apache.spark.sql.functions._
        val maxCustA = spark.read
          .parquet("/root/testdata/sf0.1/orders.parquet")
          .agg(max(col("o_custkey"))).head().getLong(0)
        val predA = col("o_orderdate") >=
          lit("1999-01-01").cast("timestamp") && col("o_custkey") <= maxCustA
        time("session warm-up") {
          graft.util.Tables.orders(spark, sfDir).count()
        }
        time("base MV state (yesterday's output)") {
          graft.ops.Relational3.baseAggState(spark, sfDir, predA,
            "const").count()
        }
        time("delta mine (once per batch)") {
          graft.ops.Relational3.deltaAggState(spark, sfDir, predA,
            "const").count()
        }
        for (round <- 1 to 3) {
          time(s"state merge (const delta) round $round") {
            graft.ops.Relational3.aggIncrementalWith(spark, sfDir,
              predA, "const", bcastDelta = true).count()
          }
        }
        time("full rebuild (what it replaces)") {
          graft.util.Tables.orders(spark, sfDir)
            .groupBy(col("o_custkey"))
            .agg(count(lit(1)).as("n_orders"),
              sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
                .as("cents"),
              max(col("o_orderdate")).as("last_order")).count()
        }

      case "incclustersconst" =>
        // constant-sized-delta CONTROL for dedup_clusters_incremental:
        // delta pinned to copy 0's %10==7 docs (doc_ids shift per
        // fixture copy, the slice never grows). With the delta's
        // bands/candidates/edges broadcast, every base probe (band
        // index, signature index, labeling) is a scan-only pass —
        // the decade slope isolates the persisted artifacts' scan
        // cost, which is the honest floor of a scan-based index store
        // (a lake co-locates by bucketing; it still scans its bucket).
        import org.apache.spark.sql.functions._
        val maxDoc = spark.read
          .parquet("/root/testdata/sf0.1/documents.parquet")
          .agg(max(col("doc_id"))).head().getLong(0)
        val predD = pmod(col("doc_id"), lit(10)) === 7 &&
          col("doc_id") <= maxDoc
        time("session warm-up") {
          graft.util.Tables.documents(spark, sfDir).count()
        }
        println("[incclustersconst] delta docs = " +
          graft.util.Tables.documents(spark, sfDir).filter(predD).count())
        time("base sig+band+edge index (once ever)") {
          graft.ops.Dedup.baseIndexEdges(spark, sfDir, predD, "const").count()
          graft.ops.Dedup.baseIndexBands(spark, sfDir, predD, "const").count()
        }
        time("base labels (yesterday's output)") {
          graft.ops.Dedup.baseClusterLabels(spark, sfDir, predD,
            "const").count()
        }
        for (round <- 1 to 3) {
          time(s"incremental update (const delta) round $round") {
            // drop the memoized output so every round re-runs the
            // daily job; the round's time includes publishing it
            graft.util.ScratchIndex.dropKey(
              s"dedupclustinc_const_${graft.util.ScratchIndex.corpusTag(sfDir)}")
            graft.ops.Dedup.dedupClustersIncrementalWith(spark, sfDir,
              predD, "const", bcastDelta = true).count()
          }
        }

      case "incivfconst" =>
        // constant-sized-delta CONTROL for sim_ann_ivf_incremental:
        // delta pinned to copy 0's %10==7 vectors. The daily job is
        // assign-delta-through-frozen-quantizer + publish beside the
        // base lists; the only embedding scan is the delta's own, so
        // the decade slope should be flat up to the delta extraction
        // filter's pass over the vector files.
        import org.apache.spark.sql.functions._
        val maxVec = spark.read
          .parquet("/root/testdata/sf0.1/embeddings.parquet")
          .agg(max(col("vec_id"))).head().getLong(0)
        val predV = pmod(col("vec_id"), lit(10)) === 7 &&
          col("vec_id") <= maxVec
        time("session warm-up") {
          graft.util.Tables.embeddings(spark, sfDir).count()
        }
        println("[incivfconst] delta vectors = " +
          graft.util.Tables.embeddings(spark, sfDir).filter(predV).count())
        time("frozen quantizer + base postings (once ever)") {
          graft.ops.Similarity.baseIvfPostings(spark, sfDir).count()
          val _ = graft.ops.Similarity.baseIvfPostingsPath(spark, sfDir,
            predV, "const")
        }
        for (round <- 1 to 3) {
          time(s"delta publish (const delta) round $round") {
            graft.util.ScratchIndex.dropKey(
              s"ivfdelta_v2_const_${graft.util.ScratchIndex.corpusTag(sfDir)}")
            graft.ops.Similarity.deltaIvfPostingsPath(spark, sfDir,
              predV, "const")
          }
        }

      case "pairprof" =>
        // decomposition of the bounded all-pairs text queries
        // (dedup_jaccard / dedup_containment): scan+shingles vs the
        // nested-loop pair join vs the similarity kernel — the three
        // candidate cost centers, timed separately
        import org.apache.spark.sql.functions._
        val docs = graft.util.Tables.documents(spark, sfDir)
          .filter(col("doc_id") < 300)
          .select(col("doc_id"), graft.ops.Dedup.shingles(col("text")).as("sh"))
        for (round <- 1 to 2) {
          time(s"scan+shingles r$round") {
            docs.agg(sum(size(col("sh")))).first()
          }
          val a = docs.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
          val b = docs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
          val joined = a.join(b, col("a_id") < col("b_id"))
          time(s"pair join only r$round") {
            joined.select(col("a_id")).groupBy().count().first()
          }
          time(s"join+sizes r$round") {
            joined.select(size(col("a_sh")) + size(col("b_sh")))
              .groupBy().sum().first()
          }
          time(s"join+jaccard r$round") {
            joined.select(graft.functions.SetSimilarityFunctions
                .jaccard_sorted(col("a_sh"), col("b_sh")).as("j"))
              .groupBy().sum("j").first()
          }
          time(s"full query r$round") {
            graft.ops.Dedup.jaccardPairs(spark, sfDir).count()
          }
          // control: same join carrying ONE packed string per side
          // instead of the 22-element string array — isolates the
          // per-element array copy cost of the joined row
          val packed = graft.util.Tables.documents(spark, sfDir)
            .filter(col("doc_id") < 300)
            .select(col("doc_id"),
              concat_ws("",
                graft.ops.Dedup.shingles(col("text"))).as("shs"))
          val pa = packed.select(col("doc_id").as("a_id"), col("shs").as("a_s"))
          val pb = packed.select(col("doc_id").as("b_id"), col("shs").as("b_s"))
          time(s"join+packed-len r$round") {
            pa.join(pb, col("a_id") < col("b_id"))
              .select(length(col("a_s")) + length(col("b_s")))
              .groupBy().sum().first()
          }
        }
      case "pairloop" =>
        // run the payload-carrying pair join in a loop so an external
        // jstack can sample where the 2-3 s actually goes
        import org.apache.spark.sql.functions._
        val docs = graft.util.Tables.documents(spark, sfDir)
          .filter(col("doc_id") < 300)
          .select(col("doc_id"), graft.ops.Dedup.shingles(col("text")).as("sh"))
        val a = docs.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
        val b = docs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
        val joined = a.join(b, col("a_id") < col("b_id"))
        println(s"[profile] pid ${ProcessHandle.current().pid()}")
        for (round <- 1 to 30) {
          time(s"join+sizes loop r$round") {
            joined.select(size(col("a_sh")) + size(col("b_sh")))
              .groupBy().sum().first()
          }
        }
      case "graphsplit" =>
        // stage attribution for the graph-family first-touch cascade:
        // each layer memoizes to scratch, so sequential timings
        // isolate one layer each. (The optional bcastRowsCap 3rd arg
        // died with the bcastIfSmall gate in r18 — the planner picks
        // the same per-round broadcast joins unhinted.)
        time("session warm-up") {
          graft.util.Tables.lineitem(spark, sfDir)
            .groupBy("l_returnflag").count().count()
        }
        time("degree_hist (pays coOrderEdges)") {
          graft.SparkEntry.queries("graph_degree_hist")(spark, sfDir).count()
        }
        time("graph_triangles (adj+intersect)") {
          graft.SparkEntry.queries("graph_triangles")(spark, sfDir).count()
        }
        time("graph_pagerank (5 iters)") {
          graft.SparkEntry.queries("graph_pagerank")(spark, sfDir).count()
        }
        time("graph_kcore (peel)") {
          graft.SparkEntry.queries("graph_kcore")(spark, sfDir).count()
        }
        time("graph_bfs_hops") {
          graft.SparkEntry.queries("graph_bfs_hops")(spark, sfDir).count()
        }
        time("graph_label_prop") {
          graft.SparkEntry.queries("graph_label_prop")(spark, sfDir).count()
        }
        time("graph_common_neighbors (und adj)") {
          graft.SparkEntry.queries("graph_common_neighbors")(spark, sfDir).count()
        }
        time("graph_modularity") {
          graft.SparkEntry.queries("graph_modularity")(spark, sfDir).count()
        }
        time("graph_degree_incremental (base artifacts)") {
          graft.SparkEntry.queries("graph_degree_incremental")(spark, sfDir).count()
        }
        time("graph_triangles_incremental") {
          graft.SparkEntry.queries("graph_triangles_incremental")(spark, sfDir).count()
        }
      case "graphroundplans" =>
        // evidence capture for the iterative-loop join plans: the
        // loops live inside memoized artifact builds, so run each
        // build fresh (pid-scoped scratch => always first-touch in
        // this JVM) and print the FIRST-round physical plan each
        // loop deposited in LoopScope.roundPlans.
        for (q <- Seq("graph_pagerank", "graph_bfs_hops",
            "graph_label_prop", "graph_kcore")) {
          graft.SparkEntry.queries(q)(spark, sfDir).count(): Unit
        }
        graft.util.LoopScope.roundPlans.forEach { (k, v) =>
          println(s"========== round plan: $k ==========")
          println(v)
        }
      case "pqsplit" =>
        // stage attribution for sim_ann_pq's first touch: codebook
        // training (Lloyd rounds over the sample), corpus encode
        // (code table build), then the registered query (decode +
        // rank), each memoized so sequential timings isolate a layer.
        time("session warm-up") {
          graft.util.Tables.embeddings(spark, sfDir).count()
        }
        time("codebook train (Lloyd rounds)") {
          graft.ops.Similarity.pqCodebooks(spark, sfDir).length: Unit
        }
        time("corpus encode (code table)") {
          graft.ops.Similarity.pqCodeTable(spark, sfDir).count()
        }
        for (r <- 1 to 3) time(s"sim_ann_pq query round $r") {
          graft.SparkEntry.queries("sim_ann_pq")(spark, sfDir).count()
        }
      case "fscheck" =>
        val hconf = spark.sparkContext.hadoopConfiguration
        val fs = org.apache.hadoop.fs.FileSystem
          .get(new java.net.URI("file:///"), hconf)
        println(s"[profile] fs.file.impl -> ${fs.getClass.getName}")
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          new java.net.URI("file:///"), hconf)
        println(s"[profile] AbstractFileSystem -> " +
          s"${fc.getDefaultFileSystem.getClass.getName}")
        val tmp = graft.util.ScratchIndex.dir("fscheck").toString
        for (r <- 1 to 3) time(s"100-file write r$r") {
          spark.range(0, 100, 1, 100).write
            .mode("overwrite").parquet(s"$tmp/w$r")
        }
        // A/B: stock LocalFileSystem (chmod forks) for the same write
        hconf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
        hconf.set("fs.AbstractFileSystem.file.impl",
          "org.apache.hadoop.fs.local.LocalFs")
        org.apache.hadoop.fs.FileSystem.closeAll()
        for (r <- 1 to 3) time(s"stock 100-file write r$r") {
          spark.range(0, 100, 1, 100).write
            .mode("overwrite").parquet(s"$tmp/s$r")
        }
      case "streamprof" =>
        // per-batch duration breakdown for a streaming query: where a
        // stream query's ~1.5 s fixed cost lives (planning vs WAL vs
        // state commit vs addBatch), aggregated over every micro-batch
        // of the run(s). Dev diagnosis for the stream-family fixed
        // costs; uses the global listener bus so runToCompletion needs
        // no plumbing.
        val rounds = if (args.length > 3) args(3).toInt else 2
        val acc = new java.util.concurrent.ConcurrentHashMap[String, Long]()
        val batches = new java.util.concurrent.atomic.AtomicInteger(0)
        val listener = new org.apache.spark.sql.streaming
            .StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit = {
            batches.incrementAndGet(): Unit
            e.progress.durationMs.forEach { (k, v) =>
              acc.merge(k, v.toLong, Long.box(_) + Long.box(_)): Unit
            }
          }
        }
        spark.streams.addListener(listener)
        val name = args(2)
        import scala.jdk.CollectionConverters._
        for (round <- 1 to rounds) {
          acc.clear()
          batches.set(0)
          time(s"$name round $round") {
            graft.SparkEntry.queries(name)(spark, sfDir).count()
          }
          println(s"[streamprof] $name round $round: ${batches.get()} " +
            "micro-batches, summed durationMs:")
          acc.asScala.toSeq.sortBy(-_._2).foreach { case (k, v) =>
            println(f"[streamprof]   $k%-28s $v%6d ms")
          }
        }
        spark.streams.removeListener(listener)
      case "stateprobe" =>
        // dev probe: drain a per-user streaming agg keeping its
        // checkpoint, then introspect what the Spark 4 state data
        // source exposes (schemas + a few rows) for both formats
        import org.apache.spark.sql.streaming.OutputMode
        import org.apache.spark.sql.functions._
        val ck = graft.util.ScratchIndex.dir("stateprobe_ck").toString
        val agg = graft.streaming.EventStream.eventsStream(spark, sfDir)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        val q = agg.writeStream.outputMode(OutputMode.Complete())
          .option("checkpointLocation", ck)
          .format("memory").queryName("stateprobe").start()
        try q.processAllAvailable() finally q.stop()
        println("== state-metadata ==")
        val meta = spark.read.format("state-metadata").load(ck)
        meta.printSchema(); meta.show(false)
        println("== statestore ==")
        val st = spark.read.format("statestore").option("path", ck).load()
        st.printSchema(); st.show(5, false)
      case "plansr18" =>
        // r18 evidence dumps: the optimized kernels live inside
        // memoized artifact builds, so the registered queries' own
        // explains show only the scratch-parquet read. This mode
        // explains the BUILD relations — the r17 shape (inline
        // replica, unchanged definitions) and the r18 shape — so the
        // plan diff the round claims is checkable from one session.
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        def banner(s0: String): Unit = println(s"\n========== $s0 ==========")
        val li = graft.util.Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_partkey"))
        banner("edges BEFORE (self-join + distinct)")
        locally {
          val a = li.toDF("ok", "p1"); val b = li.toDF("ok", "p2")
          a.join(b, Seq("ok")).filter(col("p1") < col("p2"))
            .select(col("p1"), col("p2")).distinct().explain("formatted")
        }
        banner("edges AFTER (group collect_set + expand)")
        locally {
          li.toDF("ok", "p").groupBy(col("ok"))
            .agg(sort_array(collect_set(col("p"))).as("ps"))
            .select(explode(col("ps")).as("p1"), col("ps"))
            .select(col("p1"),
              explode(filter(col("ps"), x => x > col("p1"))).as("p2"))
            .distinct().explain("formatted")
        }
        // theta summary kernel: r17 ladder replica vs shipped kernel
        val ThetaK = 64; val ThetaM = 281474976710656L; val ThetaShards = 32L
        val dset = li.select(
          date_format(col("l_partkey").cast("string"), "yyyy-MM"))
        val dsetReal = graft.util.Tables.lineitem(spark, sfDir)
          .select(date_format(col("l_shipdate"), "yyyy-MM").as("seg"),
            conv(substring(md5(concat_ws(":", lit("th"),
              col("l_partkey"))), 1, 12), 16, 10).cast("long").as("h"))
        banner("theta summary BEFORE (distinct + two windows)")
        locally {
          val kk = lit(ThetaK + 1)
          val wShard = Window
            .partitionBy(col("seg"), pmod(col("h"), lit(ThetaShards)))
            .orderBy(col("h"))
          val wSeg = Window.partitionBy(col("seg")).orderBy(col("h"))
          val bottom = dsetReal.distinct()
            .withColumn("srn", row_number().over(wShard))
            .filter(col("srn") <= kk).drop("srn")
            .withColumn("rn", row_number().over(wSeg))
            .filter(col("rn") <= kk)
          val theta = bottom.groupBy(col("seg"))
            .agg(count(lit(1)).as("n_bot"),
              max(when(col("rn") === kk, col("h"))).as("kth1"))
            .select(col("seg"),
              when(col("n_bot") === kk, col("kth1"))
                .otherwise(lit(ThetaM)).as("theta"))
          bottom.join(broadcast(theta), "seg")
            .filter(col("h") < col("theta"))
            .select(col("seg"), col("h"), col("theta")).explain("formatted")
        }
        banner("theta summary AFTER (bottom-k typed aggregate)")
        locally {
          val kk = ThetaK + 1
          val bottomK = udaf(
            graft.functions.BottomK.BottomKDistinctLongs(kk),
            org.apache.spark.sql.Encoders.scalaLong)
          dsetReal.groupBy(col("seg"))
            .agg(bottomK(col("h")).as("bot"))
            .select(col("seg"),
              when(size(col("bot")) === kk, element_at(col("bot"), kk))
                .otherwise(lit(ThetaM)).as("theta"),
              explode(when(size(col("bot")) === kk,
                  slice(col("bot"), 1, ThetaK))
                .otherwise(col("bot"))).as("h"))
            .select(col("seg"), col("h"), col("theta")).explain("formatted")
        }
        dset.count(): Unit
      case "edgesab" =>
        // alternating same-session A/B of the co-order pair kernel:
        // old self-join+distinct vs grouped collect_set+expand, timed
        // with the noop sink (guide §1.4) so host-window drift shows
        // as correlated movement, not a verdict.
        import org.apache.spark.sql.functions._
        val li = graft.util.Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_partkey"))
        li.count() // warm the scan cache
        def oldShape = {
          val a = li.toDF("ok", "p1"); val b = li.toDF("ok", "p2")
          a.join(b, Seq("ok")).filter(col("p1") < col("p2"))
            .select(col("p1"), col("p2")).distinct()
        }
        def newShape = li.toDF("ok", "p")
          .groupBy(col("ok"))
          .agg(sort_array(collect_set(col("p"))).as("ps"))
          .select(explode(col("ps")).as("p1"), col("ps"))
          .select(col("p1"),
            explode(filter(col("ps"), x => x > col("p1"))).as("p2"))
          .distinct()
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        for (r <- 1 to 4) {
          time(s"old self-join r$r") { noop(oldShape) }
          time(s"new group-expand r$r") { noop(newShape) }
        }
        println("[edgesab] row parity: old=" + oldShape.count() +
          " new=" + newShape.count())
      case "dumpq" =>
        // equivalence-evidence dump: write the named queries' full
        // output as single-file sorted CSV under /tmp/graft_dumpq/<n>,
        // for byte-diffing a restructured query against its pre-change
        // self (the no-oracle queries' stand-in for the hash gate).
        for (name <- args.drop(2).toSeq) {
          val out = s"/tmp/graft_dumpq/$name"
          graft.SparkEntry.queries(name)(spark, sfDir)
            .coalesce(1)
            .write.mode("overwrite").option("header", "true").csv(out)
          println(s"[dumpq] $name -> $out")
        }
      case "explainc" =>
        // the plan the SWEEP actually executes: Profile times
        // fn(...).count(), and EliminateSorts may remove a terminal
        // gate sort under the count aggregate — so a query's sweep
        // cost can legitimately exclude its order-by. This mode shows
        // the as-counted plan so that attribution is checked, not
        // assumed.
        for (name <- args.drop(2).toSeq) {
          println(s"========== $name (as counted) ==========")
          graft.SparkEntry.queries(name)(spark, sfDir)
            .groupBy().count().explain("formatted")
        }
      case "explain" =>
        val names = if (args.length > 2) args.drop(2).toSeq
          else Seq("rel_topk", "rel_groupby_agg", "rel_join_multi_agg",
            "rel_filter", "sim_knn_brute", "events_tumbling_window")
        for (name <- names) {
          println(s"========== $name ==========")
          graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
        }
    }
    spark.stop()
  }
}
