package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.GraftColumnBridge

/** Whole-operator extension — the last rung of the custom-operator
  * ladder (compose built-ins → Expression → Rule → LogicalPlan +
  * Strategy + SparkPlan): grouped top-k as ONE physical operator.
  *
  * Spark expresses "top k per key" as window(row_number) + filter —
  * a full sort of every partition — or via this repo's
  * TypedImperativeAggregate (rows materialize into aggregation
  * buffers). `GroupedTopKExec` instead keeps a bounded k-element heap
  * per key and streams rows through it: memory O(keys·k), no sort of
  * the input, and the engine-inserted Exchange (from
  * requiredChildDistribution) is the ONLY data movement. At 100 TB:
  * shuffle(key) then one streaming pass.
  *
  * Ordering contract: rows rank by `orderCol` DESC with `tieCol` ASC
  * as the total tie-break, matching the oracle's
  * row_number() OVER (PARTITION BY keys ORDER BY ord DESC, tie).
  */
case class GroupedTopK(
    groupCols: Seq[Expression], orderCol: Expression, tieCol: Expression,
    k: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): GroupedTopK =
    copy(child = c)
}

object GroupedTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupedTopK(groupCols, orderCol, tieCol, k, child) =>
      GroupedTopKExec(groupCols, orderCol, tieCol, k,
        planLater(child)) :: Nil
    case _ => Nil
  }
}

case class GroupedTopKExec(
    groupCols: Seq[Expression], orderCol: Expression, tieCol: Expression,
    k: Int, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  /** All rows of a key must co-locate: the planner inserts the
    * (single) hash Exchange to satisfy this.
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupCols) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val gCols = groupCols
    val oCol = orderCol
    val tCol = tieCol
    val kk = k
    child.execute().mapPartitions { rows =>
      val keyProj = UnsafeProjection.create(gCols, schema)
      val ordEval = org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(oCol, schema)
      val tieEval = org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(tCol, schema)
      // per-key bounded heap: worst element on top so offer/evict is
      // O(log k); entry = (ord DESC, tie ASC, row copy)
      val heapOrd = Ordering.by[(Double, Long, UnsafeRow), (Double, Long)] {
        case (o, t, _) => (-o, t)
      } // reversed below so the WORST candidate is the head
      val heaps = new java.util.HashMap[
        UnsafeRow, scala.collection.mutable.PriorityQueue[
          (Double, Long, UnsafeRow)]]()
      rows.foreach { row =>
        // a null order/tie value cannot rank — skip the row (SQL
        // top-k semantics: NULLs sort last and k real rows beat them)
        // instead of NPE-ing the task or silently ranking it as 0
        val oRaw = ordEval.eval(row)
        val tRaw = tieEval.eval(row)
        if (oRaw != null && tRaw != null) {
          val key = keyProj(row)
          var h = heaps.get(key)
          if (h == null) {
            h = scala.collection.mutable.PriorityQueue
              .empty[(Double, Long, UnsafeRow)](heapOrd)
            heaps.put(key.copy(), h)
          }
          // any numeric order/tie type (ALS emits Float scores, ids
          // are often Int) — widen through Number, not D/L casts
          val o = oRaw.asInstanceOf[Number].doubleValue()
          val t = tRaw.asInstanceOf[Number].longValue()
          if (h.size < kk) {
            h.enqueue((o, t, row.asInstanceOf[UnsafeRow].copy()))
          } else {
            val worst = h.head
            // keep if strictly better than the current worst
            if (o > worst._1 || (o == worst._1 && t < worst._2)) {
              h.dequeue()
              h.enqueue((o, t, row.asInstanceOf[UnsafeRow].copy()))
            }
          }
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().asScala.iterator.flatMap { h =>
        val drained: Seq[(Double, Long, UnsafeRow)] = h.dequeueAll
        drained.reverseIterator // best-first within the key
          .map(e => e._3.asInstanceOf[InternalRow])
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): GroupedTopKExec =
    copy(child = c)
}

object GroupedTopKApi {
  /** Register the strategy (idempotent) and build the operator over a
    * DataFrame: top `k` rows per `groupCols` by `orderCol` DESC,
    * `tieCol` ASC.
    */
  def topKPerKey(s: SparkSession, df: DataFrame, groupCols: Seq[String],
      orderCol: String, tieCol: String, k: Int): DataFrame = {
    GraftStrategies.ensure(s)
    val plan = GraftColumnBridge.logicalPlan(df)
    val resolve = plan.output.map(a => a.name -> a).toMap
    GraftColumnBridge.ofRows(s, GroupedTopK(
      groupCols.map(resolve(_)), resolve(orderCol), resolve(tieCol), k, plan))
  }
}
