package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftInternal
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Whole-operator custom plan: top-k rows per key with rank, executed
  * as one pass of bounded per-key heaps — no per-partition full sort,
  * no window. The reference pattern Spark lacks natively: rank ≤ k via
  * `row_number().over(window)` sorts every group; at 100 TB the heap
  * form keeps O(keys·k) state per partition and shuffles once on the
  * key (ClusteredDistribution — Catalyst inserts the exchange).
  *
  * Registered via `spark.experimental.extraStrategies` (public API);
  * the logical node resolves like any UnaryNode, so column pruning
  * still reaches the scan below it.
  */
case class TopKPerKeyPlan(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan,
    // constructor param (not a val) so plan copies keep the exprId stable
    rankAttr: AttributeReference = AttributeReference("rk", LongType, nullable = false)())
  extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr :: Nil)
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerKeyPlan = copy(child = c)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, order, k, child, rankAttr) =>
      TopKPerKeyExec(keys, order, k, rankAttr, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr :: Nil)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  /** Cap on distinct keys held as in-memory heaps per partition.
    * Heap state is O(keys·k); past the cap the operator degrades to a
    * spill-capable external sort (Spark-managed memory) instead of
    * OOMing on high-cardinality keys — same results, bounded heap. */
  private def maxKeysInMemory: Int =
    conf.getConfString("graft.topk.maxKeysInMemory", (1 << 20).toString).toInt

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val ks = keys
    val so = order
    val kk = k
    val rank = rankAttr
    val maxKeys = maxKeysInMemory
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(ks, childOutput)
      val ord = org.apache.spark.sql.catalyst.expressions.RowOrdering
        .create(so, childOutput)
      // per key: bounded heap of the k best rows (worst-of-the-best on
      // top). A row rejected by a full heap is beaten by k better rows
      // already seen, so it can never enter the true top-k — discarding
      // it is safe even if we later degrade to the sort path.
      val heaps = new java.util.HashMap[InternalRow, java.util.PriorityQueue[InternalRow]]()
      val reverseOrd = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int = ord.compare(b, a)
      }
      var overflowRow: InternalRow = null
      while (overflowRow == null && iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row).copy()
        var heap = heaps.get(key)
        if (heap == null) {
          if (heaps.size() >= maxKeys) {
            overflowRow = row.copy() // degrade; this row joins the sort
          } else {
            heap = new java.util.PriorityQueue[InternalRow](kk + 1, reverseOrd)
            heaps.put(key, heap)
          }
        }
        if (heap != null) {
          if (heap.size() < kk) {
            heap.add(row.copy())
          } else if (ord.compare(row, heap.peek()) < 0) {
            heap.poll()
            heap.add(row.copy())
          }
        }
      }
      val outProj = UnsafeProjection.create(childOutput :+ rank, childOutput :+ rank)
      val joined = new JoinedRow
      val rankRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      import scala.jdk.CollectionConverters._
      if (overflowRow == null) {
        heaps.values().asScala.iterator.flatMap { heap =>
          val arr = heap.toArray(new Array[InternalRow](heap.size()))
          java.util.Arrays.sort(arr, ord)
          arr.iterator.zipWithIndex.map { case (r, i) =>
            rankRow.update(0, (i + 1).toLong)
            outProj(joined(r, rankRow))
          }
        }
      } else {
        // Sort-based fallback: surviving heap rows (top-k-so-far per
        // seen key) plus every not-yet-consumed row go through Spark's
        // spillable ExternalSorter ordered by (key, order); the sorted
        // stream is then a single rank-and-emit pass with O(1) state.
        val keySortOrders = ks.map(kE =>
          SortOrder(kE, org.apache.spark.sql.catalyst.expressions.Ascending))
        val fullOrd = org.apache.spark.sql.catalyst.expressions.RowOrdering
          .create(keySortOrders ++ so, childOutput)
        val pending =
          heaps.values().asScala.iterator.flatMap(_.iterator().asScala) ++
          Iterator.single(overflowRow) ++ iter.map(_.copy())
        val sorted = org.apache.spark.sql.GraftInternal
          .externalSortRows(pending, fullOrd)
        var curKey: InternalRow = null
        var curRank = 0L
        sorted.flatMap { r =>
          val key = keyProj(r)
          if (curKey == null || !curKey.equals(key)) {
            curKey = key.copy(); curRank = 0L
          }
          curRank += 1
          if (curRank <= kk) {
            rankRow.update(0, curRank)
            Iterator.single(outProj(joined(r, rankRow)))
          } else Iterator.empty
        }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): TopKPerKeyExec = copy(child = c)
}

object TopKPerKey {
  /** DataFrame-facing API: append a `rk` rank column with only the
    * top-k rows per key retained. `orderSpec` is (columnName, asc). */
  def topKPerKey(df: DataFrame, keyNames: Seq[String],
                 orderSpec: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    }
    val child = GraftInternal.logicalPlan(df)
    def attr(name: String): Attribute = child.output.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"column $name not in ${child.output.map(_.name)}"))
    val keys = keyNames.map(attr)
    val order = orderSpec.map { case (name, asc) =>
      SortOrder(attr(name),
        if (asc) org.apache.spark.sql.catalyst.expressions.Ascending
        else org.apache.spark.sql.catalyst.expressions.Descending)
    }
    GraftInternal.ofRows(spark, TopKPerKeyPlan(keys, order, k, child))
  }
}
