package graft

import java.nio.file.Files
import graft.ops.Graph
import graft.util.{LoopScope, ScratchIndex}

/** The BFS walk's loop shape and its degenerate input: one Spark job
  * per counted frontier, and an empty graph that walks to nothing.
  */
class GraphBfsSpec extends SparkTestBase {

  test("bfsWalk starts at most one Spark job per frontier count") {
    // building the histogram memoizes the shared edge artifact, so the
    // count below holds only the walk's own jobs
    Graph.degreeHistogram(spark, sf)
    val (counts, jobs) = jobsStartedBy(
      LoopScope.scoped(sc => Graph.bfsWalk(sc, spark, sf)._2))
    assert(counts.size >= 2, s"walk stopped at the seeds: $counts")
    assert(jobs <= counts.size,
      s"$jobs jobs for ${counts.size} frontier counts ($counts)")
  }

  test("an empty lineitem walks and histograms to 0 rows") {
    val dir = Files.createTempDirectory("emptygraph").toFile
    try {
      spark.read.parquet(s"$sf/lineitem.parquet").limit(0)
        .write.parquet(s"$dir/lineitem.parquet")
      val d = dir.toString
      assert(SparkEntry.queries("graph_bfs_hops")(spark, d).count() === 0L)
      assert(SparkEntry.queries("graph_degree_hist")(spark, d).count() === 0L)
      // an edge-less graph closes no triangle: 0, as DuckDB's count(*)
      val tri = SparkEntry.queries("graph_triangles")(spark, d)
        .select("n_triangles").collect()
      assert(tri.map(_.get(0)).toSeq === Seq(0L))
      val counts = LoopScope.scoped(sc => Graph.bfsWalk(sc, spark, d)._2)
      assert(counts === Seq(0L))
    } finally ScratchIndex.deleteRecursively(dir)
  }
}
