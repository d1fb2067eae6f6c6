package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bottom-k DISTINCT long values per group, as one typed aggregate.
  *
  * This is the KMV/theta-sketch retention kernel (ops/Skew.scala's
  * portable sketches): keep the k smallest distinct hash values of a
  * segment. The relational formulation — distinct() over the whole
  * (seg, h) projection, then two row_number windows — shuffles every
  * distinct pair of the corpus and sorts it twice; this aggregate
  * keeps a bounded sorted buffer per group, so map-side PARTIAL
  * aggregation reduces each scan task's output to ≤ k rows per
  * segment and the exchange carries O(k · |segments| · tasks) bytes
  * no matter the corpus size (guide §2.3: aggregate before you
  * shuffle — the groupBy path does partial aggregation, the
  * distinct+window path cannot).
  *
  * The buffer is a sorted distinct long array maintained in place:
  * it is Java-serialized only at exchange boundaries, never per row. k is tiny (65 for the theta
  * summaries), so binary-search insertion is effectively free next
  * to the md5 the input column already pays.
  *
  * Determinism: the bottom-k distinct set is a pure function of the
  * input SET — order- and partitioning-independent — so results are
  * stable under any parallelism, and merge(reduce) associativity is
  * exactly the theta-union associativity the incremental fold
  * (thetaMergeSummaries) already relies on.
  */
object BottomK {

  /** Sorted distinct bottom-`cap` buffer. */
  final class LongBottomSet(val cap: Int) extends Serializable {
    require(cap > 0, s"LongBottomSet cap must be positive, got $cap")
    var arr: Array[Long] = new Array[Long](cap)
    var n: Int = 0

    def add(v: Long): Unit = {
      if (n == cap && v >= arr(n - 1)) return // not in the bottom set
      val idx = java.util.Arrays.binarySearch(arr, 0, n, v)
      if (idx >= 0) return // already present (distinct semantics)
      val ins = -idx - 1
      if (n < cap) {
        System.arraycopy(arr, ins, arr, ins + 1, n - ins)
        arr(ins) = v
        n += 1
      } else {
        // full: the current max falls out, everything from the
        // insertion point shifts right by one
        System.arraycopy(arr, ins, arr, ins + 1, n - 1 - ins)
        arr(ins) = v
      }
    }

    def mergeFrom(o: LongBottomSet): Unit = {
      var i = 0
      while (i < o.n) { add(o.arr(i)); i += 1 }
    }

    def result: Array[Long] = java.util.Arrays.copyOf(arr, n)
  }

  /** h column (long) → ascending array of the ≤ k smallest distinct
    * values in the group.
    */
  final case class BottomKDistinctLongs(k: Int)
      extends Aggregator[Long, LongBottomSet, Array[Long]] {
    def zero: LongBottomSet = new LongBottomSet(k)
    def reduce(b: LongBottomSet, v: Long): LongBottomSet = { b.add(v); b }
    def merge(x: LongBottomSet, y: LongBottomSet): LongBottomSet = {
      x.mergeFrom(y); x
    }
    def finish(b: LongBottomSet): Array[Long] = b.result
    def bufferEncoder: Encoder[LongBottomSet] =
      Encoders.javaSerialization(classOf[LongBottomSet])
    def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }
}
