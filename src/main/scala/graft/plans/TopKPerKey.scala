package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BaseOrdering, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.bridge.{ofRows, resolveOn, sortOrderOn}

/** Whole-operator custom plan (SURVEY §7.3 tier (c)): top-k rows per
  * key — the physical shape behind the reference's per-channel video
  * quota (O3, data_pipeline.py:561,575-598).
  *
  * Spark's stock plan for this is Window(row_number) + Filter, which
  * SORTS every partition fully (O(n log n) per partition, full
  * materialization) before numbering. For k ≪ group size a bounded
  * heap per key does the same job in O(n log k) with k·|keys| resident
  * rows — the difference between a sort-spill and a scan at 100 TB.
  *
  * Logical node → [[TopKPerKeyStrategy]] → [[TopKPerKeyExec]]; Catalyst
  * inserts the hash exchange via requiredChildDistribution, so the
  * operator composes with AQE like any built-in.
  */
case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan
) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Physical top-k-per-key. Runs in TWO phases like an aggregate:
  * a `partial = true` instance applies the bounded heaps map-side
  * (no distribution requirement — each task emits at most k rows per
  * key it saw), then the `partial = false` instance above the
  * key-clustered exchange merges them. Top-k is a semigroup
  * (topK(topK(A) ∪ topK(B)) = topK(A ∪ B)), so the split is lossless;
  * the exchange carries at most tasks·k rows per key instead of the
  * full scored stream — the difference between shuffling heap output
  * and shuffling the corpus when keys are few (8 ANN probes) and the
  * scored relation is corpus-sized.
  */
case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan
) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    (if (partial) org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
     else ClusteredDistribution(keys)) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val childOutput = child.output
    // Partial-phase key budget (§5 — bound per-task state): at high key
    // cardinality the map-side pass would otherwise buffer k rows for
    // EVERY distinct key the task sees, with no spill path. Past the
    // budget the least-recently-seen key's heap is EVICTED TO OUTPUT —
    // partial output may be lossy upward (extra rows per key), the
    // final instance above the exchange re-merges, so results are
    // unchanged while task memory stays ≤ budget·(k+1) rows. The final
    // instance never evicts: its per-partition key set IS the result.
    val keyBudget =
      if (partial)
        conf.getConfString("spark.graft.topk.partialKeyBudget", "65536").toInt
      else Int.MaxValue
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val rowOrd: BaseOrdering = RowOrdering.create(sortOrder, childOutput)
      // max-heap on the sort order: the root is the WORST retained row,
      // evicted when a better one arrives
      val heapOrd: Ordering[InternalRow] = rowOrd.reverse
      // access-order map = LRU: hot keys stay resident, one-off keys
      // age out first, so eviction churn on skewed streams is minimal
      val heaps = new java.util.LinkedHashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]](
        16, 0.75f, true)

      def drainHeap(heap: java.util.PriorityQueue[InternalRow]): Array[InternalRow] = {
        val arr = new Array[InternalRow](heap.size())
        var i = arr.length - 1
        while (i >= 0) { arr(i) = heap.poll(); i -= 1 } // heap drains worst-first
        arr
      }

      new Iterator[InternalRow] {
        private var pending: Array[InternalRow] = null
        private var pi = 0
        private var drained: java.util.Iterator[java.util.PriorityQueue[InternalRow]] = null

        private def fill(): Unit = {
          while ((pending == null || pi >= pending.length) && iter.hasNext) {
            val row = iter.next()
            val key = keyProj(row)
            var heap = heaps.get(key)
            if (heap == null) {
              heap = new java.util.PriorityQueue[InternalRow](limit + 1, heapOrd)
              heaps.put(key.copy(), heap)
              if (heaps.size() > keyBudget) {
                val eldest = heaps.entrySet().iterator()
                val e = eldest.next()
                pending = drainHeap(e.getValue)
                pi = 0
                eldest.remove()
              }
            }
            if (heap.size() < limit) {
              heap.add(row.copy())
            } else if (rowOrd.compare(row, heap.peek()) < 0) {
              heap.poll()
              heap.add(row.copy())
            }
          }
          if ((pending == null || pi >= pending.length) && !iter.hasNext && drained == null)
            drained = heaps.values().iterator()
          while ((pending == null || pi >= pending.length) &&
            drained != null && drained.hasNext) {
            pending = drainHeap(drained.next())
            pi = 0
          }
        }

        override def hasNext: Boolean = {
          if (pending != null && pi < pending.length) true
          else { fill(); pending != null && pi < pending.length }
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("topk exhausted")
          val r = pending(pi)
          pi += 1
          r
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {

  /** Column-level API: top `k` rows per `keys`, best-first by `order`. */
  def topKPerKey(df: DataFrame, keyCols: Seq[Column], orderCols: Seq[Column], k: Int): DataFrame = {
    val spark = df.sparkSession
    graft.GraftExtensions.install(spark)
    val plan = df.queryExecution.analyzed
    ofRows(spark, TopKPerKey(
      keyCols.map(resolveOn(spark, plan, _)),
      orderCols.map(sortOrderOn(spark, plan, _)), k, plan))
  }
}
