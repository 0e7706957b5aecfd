package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.bridge.{toColumn, toExpr}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Morton (Z-order) interleave of two integer keys as a NATIVE codegen
  * expression: bit i of x lands at z-bit 2i, bit i of y at 2i+1, so
  * sorting by z clusters BOTH dimensions at once — rows close in z are
  * close in x AND y. That is the property a single-column sort cannot
  * give: parquet min/max row-group stats then prune scans for
  * predicates on EITHER (or both) dimension(s) of a
  * range-partitioned-by-z layout (Layout.zorderWrite; LayoutSpec
  * measures the two-dimensional clustering).
  *
  * Inputs are masked to their low 31 bits (callers with signed or
  * wider domains shift/bucket first — interleaving is only monotone
  * per dimension on the masked domain), so z occupies 62 bits and
  * stays a non-negative long. The spread uses the classic
  * shift-or-mask ladder (5 steps per dimension, branch-free, fully
  * inside WholeStageCodegen); the identical arithmetic replays in
  * DuckDB on BIGINT for the oracle (q_layout_zorder).
  */
case class ZOrderExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "z_order"

  private def ok(dt: DataType): Boolean =
    dt == LongType || dt == IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"z_order needs two int/long inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")

  private def toLong(v: Any): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    ZOrderExpr.interleave(toLong(l), toLong(r))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.ZOrderExpr.interleave((long) $a, (long) $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZOrderExpr {
  /** Spread the low 31 bits of v to even bit positions. */
  def spread(v: Long): Long = {
    var x = v & 0x7FFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** z = interleave(x, y): x on even bits, y on odd bits. */
  def interleave(x: Long, y: Long): Long =
    spread(x) | (spread(y) << 1)

  def zorder(x: Column, y: Column): Column =
    toColumn(ZOrderExpr(toExpr(x), toExpr(y)))
}
