package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, JoinedRow, SortOrder, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Whole-operator custom plan (SURVEY §7.3 tier (c)): global row
  * numbering — `row_number() OVER (ORDER BY ...)` — without the
  * single reducer AND without leaving Tungsten.
  *
  * Spark's stock plan moves the ENTIRE relation into one partition
  * ("No Partition Defined for Window operation"); graft's r14 interim
  * (ops/GlobalSeq) fixed the one-reducer hazard with a range exchange
  * + `RDD.zipWithIndex`, but that detours through external `Row`s —
  * one InternalRow→Row→InternalRow conversion per corpus row and a
  * broken codegen seam. This operator keeps the same two-job shape
  * (per-partition counts, then offset-added numbering over the SAME
  * child RDD, so the range exchange's shuffle files are written once
  * and reused) while staying in `InternalRow` end to end: the
  * numbering pass appends the sequence via a reused
  * `SpecificInternalRow` + `UnsafeProjection`, no encoder round-trip.
  *
  * Catalyst inserts the range exchange (requiredChildDistribution =
  * OrderedDistribution) and the per-partition sorts
  * (requiredChildOrdering), so the operator composes with AQE like
  * any built-in.
  */
case class GlobalSeqNode(
    order: Seq[SortOrder],
    seqAttr: AttributeReference,
    child: LogicalPlan
) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ seqAttr
  // seqAttr is PRODUCED here, not consumed — without this it lands in
  // `references` (it is a case-class Expression field) and
  // CheckAnalysis reports it missing from the child's output
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(seqAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GlobalSeqNode =
    copy(child = newChild)
}

case class GlobalSeqExec(
    order: Seq[SortOrder],
    seqAttr: Attribute,
    child: SparkPlan
) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ seqAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(seqAttr)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(order)

  override protected def doExecute(): RDD[InternalRow] = {
    val childRdd = child.execute()
    val n = childRdd.getNumPartitions
    // Job 1 (all but the last partition — its offset is never needed):
    // per-partition row counts. Runs on the SAME RDD the numbering
    // pass maps over, so the sorted shuffle output is computed once.
    val counts: Array[Long] =
      if (n <= 1) Array.empty
      else sparkContext.runJob(
        childRdd,
        (it: Iterator[InternalRow]) => {
          var c = 0L
          while (it.hasNext) { it.next(); c += 1 }
          c
        },
        0 until n - 1)
    val offsets = counts.scanLeft(0L)(_ + _)
    val types = output.map(_.dataType).toArray
    childRdd.mapPartitionsWithIndex { (pid, iter) =>
      val proj = UnsafeProjection.create(types)
      val joined = new JoinedRow
      val seqRow = new SpecificInternalRow(Seq(LongType))
      var i = offsets(pid)
      iter.map { row =>
        i += 1L
        seqRow.setLong(0, i)
        proj(joined(row, seqRow))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GlobalSeqExec =
    copy(child = newChild)
}

object GlobalSeqStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GlobalSeqNode(order, attr, child) =>
      GlobalSeqExec(order, attr, planLater(child)) :: Nil
    case _ => Nil
  }
}
