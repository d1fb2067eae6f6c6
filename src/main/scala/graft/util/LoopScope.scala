package graft.util

import org.apache.spark.sql.DataFrame

/** Owner of the frames an iterative build caches: the graph loops
  * (bfs, pagerank, label propagation, k-core) and the dedup component
  * contraction persist their loop invariants and every round's output,
  * and those caches must outlive the loop — the build's result is a
  * lazy plan over them — but not the `ScratchIndex.materialize` write
  * that executes it. [[LoopScope.scoped]] releases everything pinned in
  * its body in a `finally`, so the scope closes around the materialize
  * call, never inside its build thunk, and a build that throws leaks
  * nothing.
  */
final class LoopScope private () {
  private var pinned: List[DataFrame] = Nil

  /** Persist `df` and hold it until the scope ends. */
  def pin(df: DataFrame): DataFrame = {
    pinned ::= df.persist()
    df
  }

  /** One round's output: pin it, record the first round's executed
    * plan under `key` (see [[LoopScope.roundPlans]]) and return it
    * lineage-truncated — a loop that re-joins its own iterate grows
    * the logical plan every round even when the data is cached, so
    * each round starts from a leaf over the previous round's cache.
    */
  def next(key: String, df: DataFrame): DataFrame = {
    pin(df)
    LoopScope.recordRoundPlan(key, df)
    org.apache.spark.sql.GraftColumnBridge.truncateLineage(df)
  }
}

object LoopScope {

  def scoped[A](body: LoopScope => A): A = {
    val sc = new LoopScope
    try body(sc) finally sc.pinned.foreach(_.unpersist())
  }

  /** Physical plan of the FIRST executed round of each iterative
    * build, keyed by loop — evidence hook: the loop plans live inside
    * memoized artifact builds and never appear in the registered
    * query's explain, so the first round's planned physical tree is
    * deposited here for plans/ capture (tools.Profile
    * `graphroundplans`; debug surface only, never read by query
    * paths).
    */
  private[graft] val roundPlans =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def recordRoundPlan(key: String, df: DataFrame): Unit =
    // containsKey gate BEFORE stringifying: putIfAbsent evaluates its
    // value argument eagerly, so the naive form rebuilt (and then
    // discarded) a multi-thousand-line executedPlan string on EVERY
    // loop round — evidence tooling taxing the measured path. With
    // the gate, only the first round of each loop pays one stringify.
    if (!roundPlans.containsKey(key))
      roundPlans.putIfAbsent(
        key, df.queryExecution.executedPlan.toString): Unit
}
