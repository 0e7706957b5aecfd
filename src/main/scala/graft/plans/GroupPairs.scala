package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BoundReference, Expression, JoinedRow, NamedExpression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.bridge.{maxMetric, ofRows, resolveOn}
import org.apache.spark.unsafe.Platform

/** Whole-operator custom plan (SURVEY §7.3 tier (c)): the a < b pairs
  * inside each key group — the candidate step of every keyed self pair
  * join (posting pairs, LSH bands, prefix postings, Ann lists and
  * buckets, Hamming bands and prints). A face's pair test is an
  * ordinary filter above it.
  *
  * Output: (a, b, payload of a, payload of b) per pair of rows sharing
  * the key with ids a < b, in groups of at most `maxDf` rows (larger
  * groups are skipped: a hot key explodes quadratically and carries no
  * pair signal). This is the self equi-join on the keys plus a < b,
  * multiplicities included: a key holding a null pairs nothing; a null
  * id pairs nothing but counts toward its group's size; an id listed
  * twice pairs twice with every larger id, never with itself.
  *
  * One exchange: Catalyst inserts the key-clustered exchange and a
  * (keys, id) sort via requiredChildDistribution/Ordering. The exec
  * buffers only the current group — its (id, payload) rows packed in
  * one byte arena — and emits pairs lazily through the iterator, so a
  * hot uncapped group streams. Keys compare by their binary form
  * (integral, string and struct-of-those keys), ids by Spark's ordering.
  */
case class GroupPairsNode(
    keys: Seq[Expression],
    idExpr: Expression,
    payload: Seq[Expression],
    maxDf: Long,
    outAttrs: Seq[AttributeReference],
    child: LogicalPlan
) extends UnaryNode {
  override def output: Seq[Attribute] = outAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupPairsNode =
    copy(child = newChild)
}

case class GroupPairsExec(
    keys: Seq[Expression],
    idExpr: Expression,
    payload: Seq[Expression],
    maxDf: Long,
    outAttrs: Seq[Attribute],
    child: SparkPlan
) extends UnaryExecNode {

  override def output: Seq[Attribute] = outAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)
  // output columns are all produced here; the child's partitioning
  // (by the keys, dropped columns) is meaningless downstream
  override def outputPartitioning: Partitioning = UnknownPartitioning(0)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((keys :+ idExpr).map(SortOrder(_, Ascending)))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "groups" -> SQLMetrics.createMetric(sparkContext, "groups read"),
    "pairs" -> SQLMetrics.createMetric(sparkContext, "pairs emitted"),
    "skipped" -> SQLMetrics.createMetric(sparkContext, "groups skipped past maxDf"),
    "largest" -> maxMetric(sparkContext, "largest group"))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val rowExprs = idExpr +: payload
    val cap = maxDf
    val w = rowExprs.size
    // (a, b, payload of a, payload of b) over the joined buffer rows
    val refs = rowExprs.zipWithIndex.map { case (e, i) => BoundReference(i, e.dataType, e.nullable) }
    val outExprs = Seq(refs.head, refs.head.copy(ordinal = w)) ++ refs.tail ++
      refs.tail.map(r => r.copy(ordinal = r.ordinal + w))
    val idType = idExpr.dataType
    val (mGroups, mPairs, mSkipped, mLargest) =
      (longMetric("groups"), longMetric("pairs"), longMetric("skipped"), longMetric("largest"))
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val rowProj = UnsafeProjection.create(rowExprs, childOutput)
      val pairProj = UnsafeProjection.create(outExprs)
      val idOrd = RowOrdering.createNaturalAscendingOrdering(Seq(idType))
      val (left, right, prev) = (new UnsafeRow(w), new UnsafeRow(w), new UnsafeRow(w))
      val joined = new JoinedRow(left, right)

      new Iterator[InternalRow] {
        // the current group's buffered rows, ids ascending (the child
        // ordering): row r is arena[offs(r), offs(r + 1)); fresh(r) when
        // its id differs from row r − 1's
        private var arena = new Array[Byte](4096)
        private var offs = new Array[Int](17)
        private var fresh = new Array[Boolean](16)
        private var d = 0
        // pair cursor over the current group
        private var i = 0
        private var j = 0
        // first row of the NEXT group, staged when the key changes
        private var nextKey: UnsafeRow = null
        private var nextRow: UnsafeRow = null
        // per-partition counts, added to the metrics once
        private var groups, pairs, skipped, largest = 0L
        TaskContext.get().addTaskCompletionListener[Unit] { _ =>
          mGroups += groups; mPairs += pairs; mSkipped += skipped
          mLargest.set(largest)
        }

        private def point(r: UnsafeRow, k: Int): Unit =
          r.pointTo(arena, Platform.BYTE_ARRAY_OFFSET + offs(k), offs(k + 1) - offs(k))

        private def append(row: UnsafeRow): Unit =
          if (!row.isNullAt(0)) { // a null id pairs with nothing
            if (d == fresh.length) {
              fresh = java.util.Arrays.copyOf(fresh, d * 2)
              offs = java.util.Arrays.copyOf(offs, d * 2 + 1)
            }
            val end = offs(d).toLong + row.getSizeInBytes
            require(end <= Int.MaxValue - 15, "group pairs: one group buffers over 2 GiB; set maxDf")
            if (end > arena.length) arena = java.util.Arrays.copyOf(arena,
              math.min(math.max(end, 2L * arena.length), Int.MaxValue - 15L).toInt)
            row.writeToMemory(arena, Platform.BYTE_ARRAY_OFFSET + offs(d))
            offs(d + 1) = end.toInt
            fresh(d) = d == 0 || { point(prev, d - 1); idOrd.compare(prev, row) != 0 }
            d += 1
          }

        private def stage(raw: InternalRow): Unit = {
          nextKey = keyProj(raw).copy()
          nextRow = rowProj(raw).copy()
        }

        /** Move the cursor to the next pair of distinct ids at or after
          * (i, j); false once the group is exhausted.
          */
        private def settle(): Boolean = {
          while (i < d - 1) {
            if (j <= i) { j = i + 1; while (j < d && !fresh(j)) j += 1 }
            if (j < d) return true
            i += 1
            j = 0
          }
          false
        }

        /** Read groups until one holds a pair; false at end of input. */
        private def readGroup(): Boolean = {
          if (nextKey == null && iter.hasNext) stage(iter.next())
          while (nextKey != null) {
            val key = nextKey
            nextKey = null
            d = 0
            append(nextRow)
            var n = 1L
            while (nextKey == null && iter.hasNext) {
              val raw = iter.next()
              if (keyProj(raw) != key) stage(raw)
              else { n += 1; if (n <= cap) append(rowProj(raw)) }
            }
            groups += 1
            largest = math.max(largest, n)
            if (n > cap) skipped += 1
            if (n > cap || key.anyNull()) d = 0
            i = 0
            j = 0
            if (settle()) return true
          }
          d = 0
          false
        }

        override def hasNext: Boolean = settle() || readGroup()

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("group pairs exhausted")
          point(left, i)
          point(right, j)
          j += 1
          pairs += 1
          pairProj(joined)
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupPairsExec =
    copy(child = newChild)
}

object GroupPairsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupPairsNode(keys, id, payload, maxDf, outAttrs, child) =>
      GroupPairsExec(keys, id, payload, maxDf, outAttrs, planLater(child)) :: Nil
    case _ => Nil
  }
}

object GroupPairs {

  /** Column-level API: the (a < b) id pairs inside each `keys` group of
    * at most `maxDf` rows, as (a, b, p_a..., p_b...) for the named
    * `payload` columns p — see [[GroupPairsNode]] for the null and
    * duplicate-id semantics.
    */
  def pairs(
      df: DataFrame,
      keys: Seq[Column],
      id: Column,
      payload: Seq[Column],
      maxDf: Long): DataFrame = {
    val spark = df.sparkSession
    graft.GraftExtensions.install(spark)
    val plan = df.queryExecution.analyzed
    val keyEs = keys.map(resolveOn(spark, plan, _))
    val idE = resolveOn(spark, plan, id)
    val payEs = payload.map(resolveOn(spark, plan, _))
    def side(s: String) = payEs.map {
      case e: NamedExpression => AttributeReference(s"${e.name}_$s", e.dataType, e.nullable)()
      case e => throw new IllegalArgumentException(s"group pairs: name the payload column $e")
    }
    val outAttrs = Seq("a", "b").map(AttributeReference(_, idE.dataType, nullable = false)()) ++
      side("a") ++ side("b")
    ofRows(spark, GroupPairsNode(keyEs, idE, payEs, maxDf, outAttrs, plan))
  }
}
