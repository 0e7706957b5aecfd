package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, JoinedRow, SortOrder, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Whole-operator custom plan (SURVEY §7.3 tier (c)): the global
  * exclusive running sum
  * `coalesce(sum(value) OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED
  * PRECEDING AND 1 PRECEDING), 0)` without the single reducer AND
  * without leaving Tungsten. Row numbering is the running sum of 1;
  * sequence packing, the DSIR budget draw and the CCNet token-mass
  * buckets are running sums of token counts.
  *
  * Spark's stock plan moves the ENTIRE relation into one partition
  * ("No Partition Defined for Window operation"). A running sum only
  * needs a total order plus per-partition offsets. Catalyst inserts
  * the range exchange (requiredChildDistribution =
  * OrderedDistribution) and the per-partition sorts
  * (requiredChildOrdering), so the operator composes with AQE like
  * any built-in. Then one job sums `value` over every partition but
  * the last, and the output pass adds each partition's offset while
  * mapping over the SAME child RDD: the range exchange's shuffle files
  * are written once and read by both passes, so both see one set of
  * range boundaries and no cache is needed for consistency. The
  * output pass appends the sum via a reused `SpecificInternalRow` +
  * `UnsafeProjection`, no encoder round-trip.
  *
  * `value` is a long expression over the child; a null value adds 0.
  * The order must be total (include a unique key): range boundaries
  * may split ties across partitions otherwise.
  */
case class RunningSumNode(
    order: Seq[SortOrder],
    value: Expression,
    out: AttributeReference,
    child: LogicalPlan
) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ out
  // out is PRODUCED here, not consumed — without this it lands in
  // `references` (it is a case-class Expression field) and
  // CheckAnalysis reports it missing from the child's output
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): RunningSumNode =
    copy(child = newChild)
}

case class RunningSumExec(
    order: Seq[SortOrder],
    value: Expression,
    out: Attribute,
    child: SparkPlan
) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(order)

  override protected def doExecute(): RDD[InternalRow] = {
    val childRdd = child.execute()
    val n = childRdd.getNumPartitions
    val v = value
    val in = child.output
    // Job 1 (all but the last partition — its offset is never needed):
    // per-partition sums of `value`
    val sums: Array[Long] =
      if (n <= 1) Array.empty
      else sparkContext.runJob(
        childRdd,
        (it: Iterator[InternalRow]) => {
          val read = RunningSumExec.reader(v, in)
          var s = 0L
          while (it.hasNext) s += read(it.next())
          s
        },
        0 until n - 1)
    val offsets = sums.scanLeft(0L)(_ + _)
    val types = output.map(_.dataType).toArray
    childRdd.mapPartitionsWithIndex { (pid, iter) =>
      val read = RunningSumExec.reader(v, in)
      val proj = UnsafeProjection.create(types)
      val joined = new JoinedRow
      val sumRow = new SpecificInternalRow(Seq(LongType))
      var acc = offsets(pid)
      iter.map { row =>
        sumRow.setLong(0, acc)
        acc += read(row)
        proj(joined(row, sumRow))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): RunningSumExec =
    copy(child = newChild)
}

object RunningSumExec {
  /** `value` over a row of `input`, null read as 0 (built per task). */
  private def reader(value: Expression, input: Seq[Attribute]): InternalRow => Long = {
    val proj = UnsafeProjection.create(Seq(value), input)
    row => {
      val r = proj(row)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
  }
}

object RunningSumStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RunningSumNode(order, value, out, child) =>
      RunningSumExec(order, value, out, planLater(child)) :: Nil
    case _ => Nil
  }
}
