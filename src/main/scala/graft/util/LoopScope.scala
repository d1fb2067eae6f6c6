package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Owner of the caches an iterative build holds: the graph loops
  * (bfs, pagerank, label propagation, k-core) and the dedup component
  * contraction persist their loop invariants and every round's output,
  * and those caches must outlive the loop — the build's result is a
  * lazy plan over them — but not the `ScratchIndex.materialize` write
  * that executes it. A loop pins DataFrames ([[pin]], [[next]]) or,
  * when it runs as a co-partitioned RDD loop like the BFS walk, RDDs
  * ([[pinRdd]]). [[LoopScope.scoped]] releases everything pinned in its
  * body in a `finally`, so the scope closes around the materialize
  * call, never inside its build thunk, and a build that throws leaks
  * nothing.
  */
final class LoopScope private () {
  private var pinned: List[DataFrame] = Nil
  private var pinnedRdds: List[RDD[_]] = Nil

  /** Persist `df` and hold it until the scope ends. */
  def pin(df: DataFrame): DataFrame = {
    pinned ::= df.persist()
    df
  }

  /** Persist `rdd` at MEMORY_AND_DISK (a DataFrame pin's level) and
    * hold it until the scope ends; its partitioner is kept, so a
    * pinned co-partitioned side stays narrow in every later join.
    */
  def pinRdd[T](rdd: RDD[T]): RDD[T] = {
    pinnedRdds ::= rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd
  }

  /** One round's output: pin it and return it lineage-truncated — a
    * loop that re-joins its own iterate grows the logical plan every
    * round even when the data is cached, so each round starts from a
    * leaf over the previous round's cache.
    */
  def next(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.truncateLineage(pin(df))
}

object LoopScope {

  def scoped[A](body: LoopScope => A): A = {
    val sc = new LoopScope
    try body(sc) finally {
      sc.pinned.foreach(_.unpersist())
      sc.pinnedRdds.foreach(_.unpersist())
    }
  }
}
