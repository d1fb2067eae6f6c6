package graft

import graft.util.Sizing

/** Pins `Sizing.writeUnits`' contract: the floor keeps every current
  * fixture on its historical layout (behavior-identical at gate
  * scale), the byte-derived count engages past it, and the count is a
  * pure function of the table's on-disk footprint — never of cores,
  * session confs, or host state.
  */
class SizingSpec extends SparkTestBase {

  test("small tables sit on the floor — gate-scale layouts unchanged") {
    // driver testdata tables are all well under 64 MB × 8: every
    // write path that adopted Sizing must keep its historical 8-way
    // layout here, or past layout-sensitive measurements (and the
    // bucketed join's exchange-free plan assertions) silently drift
    for (t <- Seq("orders", "lineitem", "customer", "supplier"))
      assert(Sizing.writeUnits(spark, sf, t) === 8,
        s"$t should sit on the minUnits floor at ${sf}")
  }

  test("count grows one unit per targetBytes past the floor") {
    // shrink targetBytes instead of needing a big fixture: the same
    // arithmetic that sizes sf10's 1.2 GB lineitem at 64 MB units
    // sizes sf0.001's lineitem at tiny units. ceil semantics: bytes
    // strictly above k×target need k+1 units.
    val p = new org.apache.hadoop.fs.Path(s"$sf/lineitem.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val target = bytes / 20 // guarantees the floor is not binding
    val units = Sizing.writeUnits(spark, sf, "lineitem",
      targetBytes = target)
    val expect = ((bytes + target - 1) / target).toInt
    assert(units === expect && units >= 20,
      s"expected ceil($bytes / $target) = $expect, got $units")
  }

  test("deterministic: same data, same count, any session state") {
    val a = Sizing.writeUnits(spark, sf, "orders")
    graft.util.Confs.withConfs(spark)(
      "spark.sql.shuffle.partitions" -> "17") {
      assert(Sizing.writeUnits(spark, sf, "orders") === a)
    }
  }

  test("a missing table fails loudly, never a silent default") {
    intercept[java.io.FileNotFoundException] {
      Sizing.writeUnits(spark, sf, "no_such_table")
    }
  }

  test("Bench flags a shifted window on io (3×) or CPU (1.2×) divergence") {
    // r13: io fell from 427 to 36.7 MB/s mid-run
    assert(Bench.diverged(427.0, 36.7, 3.0))
    // r18: cpu_par_x fell from 27.2 to 21.0 unflagged; either order trips
    assert(Bench.diverged(27.2, 21.0, 1.2) && Bench.diverged(21.0, 27.2, 1.2))
    // the healthy cpu_par_x band on that host
    assert(!Bench.diverged(24.0, 27.0, 1.2))
  }
}
