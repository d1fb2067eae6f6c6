package graft

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.util.LoopScope

/** Pins the three claims GraftColumnBridge.truncateLineage makes:
  * data unchanged, logical plan collapsed to a leaf (the iterative-
  * loop OOM class from DeepComponentSpec cannot re-grow), and the
  * wrapped plan's hash partitioning preserved so a same-key
  * aggregation downstream plans NO new exchange. Also pins the
  * release contract of LoopScope, the loops' only route to it.
  */
class LineageTruncationSpec extends SparkTestBase {

  import spark.implicits._

  test("rows and schema survive, plan collapses to a leaf") {
    val src = spark.range(0, 1000)
      .select(col("id"), (col("id") % 7).as("k"))
      .persist()
    try {
      val t = GraftColumnBridge.truncateLineage(src)
      assert(t.schema === src.schema)
      assert(t.as[(Long, Long)].collect().sortBy(_._1)
        === src.as[(Long, Long)].collect().sortBy(_._1))
      // leaf: the analyzed plan of the wrapper has no children
      assert(GraftColumnBridge.logicalPlan(t).children.isEmpty)
    } finally { src.unpersist(): Unit }
  }

  test("self-join loop keeps the plan size constant per iteration") {
    var m = spark.range(0, 64)
      .select(col("id").as("node"), (col("id") / 2).cast("long").as("label"))
    val sizes = (1 to 6).map { _ =>
      val m2 = m.as("x")
        .join(m.as("y"), col("x.label") === col("y.node"), "left_outer")
        .select(col("x.node").as("node"),
          coalesce(col("y.label"), col("x.label")).as("label"))
        .persist()
      m2.count() // materialize the cache the wrapper will scan
      m = GraftColumnBridge.truncateLineage(m2)
      GraftColumnBridge.logicalPlan(m).collect { case p => p }.size
    }
    // without truncation node count doubles per iteration (2^k leaf
    // copies); with it every iteration's plan is the same single leaf
    assert(sizes.distinct.size === 1, s"plan sizes grew: $sizes")
    assert(sizes.head <= 2)
  }

  test("hash partitioning survives: same-key agg adds no exchange") {
    val parted = spark.range(0, 512)
      .select((col("id") % 13).as("k"), col("id").as("v"))
      .repartition(4, col("k"))
      .persist()
    parted.count()
    val agg = GraftColumnBridge.truncateLineage(parted)
      .groupBy(col("k")).agg(sum(col("v")).as("s"))
    agg.collect()
    val exchanges = agg.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    try assert(exchanges.isEmpty,
      s"expected no exchange over the preserved partitioning, got: " +
        exchanges.mkString(", "))
    finally { parted.unpersist(): Unit }
  }

  /** One pin and one round step, with the frames whose caches they
    * hold; the step's output is materialized through its wrapper.
    */
  private def pinAndStep(sc: LoopScope): Seq[DataFrame] = {
    val seed = sc.pin(spark.range(0, 100).toDF("id"))
    val round = seed.select((col("id") * 2).as("id"))
    assert(sc.next(round).count() === 100L)
    Seq(seed, round)
  }

  test("LoopScope unpins every frame when the body returns") {
    val held = LoopScope.scoped { sc =>
      val h = pinAndStep(sc)
      h.foreach(df => assert(df.storageLevel !== StorageLevel.NONE))
      h
    }
    held.foreach(df => assert(df.storageLevel === StorageLevel.NONE))
  }

  test("LoopScope unpins every frame when the body throws") {
    var held = Seq.empty[DataFrame]
    intercept[IllegalStateException] {
      LoopScope.scoped { sc =>
        held = pinAndStep(sc)
        throw new IllegalStateException("build failed mid-loop")
      }
    }
    assert(held.nonEmpty)
    held.foreach(df => assert(df.storageLevel === StorageLevel.NONE))
  }

  test("Graph.bfsWalk in a scope leaves the cache manager as it found it") {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val wasEmpty = cm.isEmpty
    // every frame the walk pins is materialized by its counts, so the
    // persisted RDDs stand for its cache entries
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val visited = LoopScope.scoped { sc =>
      val (v, _) = graft.ops.Graph.bfsWalk(sc, spark, sf)
      val n = v.count()
      assert(!cm.isEmpty)
      assert(persisted.size > before.size)
      n
    }
    assert(visited > 0L)
    assert(cm.isEmpty === wasEmpty)
    assert(persisted === before)
  }

  test("LoopScope unpersists the RDDs bfsWalk pins, on return and on throw") {
    def persisted = spark.sparkContext.getPersistentRDDs
    val before = persisted.keySet
    LoopScope.scoped { sc =>
      val (_, counts) = graft.ops.Graph.bfsWalk(sc, spark, sf)
      // the adjacency list and every counted frontier
      val pinned = persisted -- before
      assert(pinned.size === counts.size + 1)
      pinned.values.foreach(r =>
        assert(r.getStorageLevel === StorageLevel.MEMORY_AND_DISK))
    }
    assert(persisted.keySet === before)
    intercept[IllegalStateException] {
      LoopScope.scoped { sc =>
        graft.ops.Graph.bfsWalk(sc, spark, sf)
        assert(persisted.size > before.size)
        throw new IllegalStateException("build failed after the walk")
      }
    }
    assert(persisted.keySet === before)
  }
}
