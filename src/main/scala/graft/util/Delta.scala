package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, pmod}

/** An incremental path's split of a table into yesterday's BASE (`pred`
  * false; its derived artifacts are persisted once per corpus) and
  * today's BATCH (`pred` true; folded into them by the update). `tag`
  * names the split inside every scratch key ([[key]]). `broadcast`
  * says the batch is broadcast-sized, so the update broadcasts every
  * batch-derived relation and no probe exchanges a persisted artifact;
  * otherwise each path keeps its own shape for a corpus-fraction batch.
  */
final case class Delta(pred: Column, tag: String, broadcast: Boolean) {

  def base(df: DataFrame): DataFrame = df.filter(!pred)

  def batch(df: DataFrame): DataFrame = df.filter(pred)

  /** `<prefix>_<tag>_<corpus>`, owned by ONE predicate per JVM: asking
    * for it under another predicate throws [[Delta.AliasedKey]] rather
    * than reading artifacts built from a different split.
    */
  def key(prefix: String, d: String): String = {
    val k = s"${prefix}_${tag}_${ScratchIndex.corpusTag(d)}"
    val p = pred.toString
    val owner = Delta.owners.putIfAbsent(k, p)
    if (owner != null && owner != p) throw new Delta.AliasedKey(k, owner, p)
    k
  }
}

object Delta {

  /** Issued key → its predicate's string form. */
  private val owners = new ConcurrentHashMap[String, String]()

  final class AliasedKey(key: String, owner: String, pred: String)
    extends IllegalArgumentException(s"scratch key $key belongs to " +
      s"predicate $owner, not $pred: give the new predicate its own tag")

  /** Lineitem of orders with `l_orderkey % 10 == 7`: graph and theta. */
  val Lineitem = Delta(pmod(col("l_orderkey"), lit(10)) === 7, "v1", false)

  /** `doc_id % 10 == 7`: LSH index, clusters (so both maintain the SAME
    * base), novelty and contamination.
    */
  val Documents = Delta(pmod(col("doc_id"), lit(10)) === 7, "v1", false)

  /** `vec_id % 10 == 7`: the IVF index. */
  val Embeddings = Delta(pmod(col("vec_id"), lit(10)) === 7, "v1", false)

  /** Orders from 1999-01-01 on: SCD2 and aggregate state.
    *
    * APPEND CONTRACT: the split must be a TIME SUFFIX per customer
    * (every batch order dated at or after every base order of its
    * customer), which is what an ingest batch is. Under it the SCD2
    * merge's seed status is exact: a customer's last base ORDER
    * carries the same status as their last base CHANGE row (status is
    * constant between change rows), which is the persisted current
    * row's status. A mid-history backfill violates the contract and
    * needs the rewrite-affected-customers form instead (git history
    * has it).
    */
  val Orders = Delta(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"),
    "v1", false)
}
