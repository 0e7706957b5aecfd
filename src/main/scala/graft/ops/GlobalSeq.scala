package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.bridge.{ofRows, resolveOn, sortOrderOn}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Distributed global running sums — `sum(v) OVER (ORDER BY ...)` and
  * `row_number() OVER (ORDER BY ...)` without the single reducer.
  *
  * A global window (`Window.orderBy` with no partitionBy) moves the
  * ENTIRE relation into one partition (Spark itself warns "No
  * Partition Defined for Window operation") — at the 100 TB design
  * point that is one task sorting the corpus. But a global running
  * sum only needs a total order plus per-partition offsets, which is
  * what the native [[graft.plans.RunningSumExec]] computes: Catalyst
  * inserts a range exchange (sampled boundaries, all partitions sort
  * in parallel) and per-partition sorts via the operator's required
  * distribution/ordering, then one summing job + one offset-added pass
  * run over the SAME child RDD — the exchange's shuffle files are
  * written once and reused, and the pass appends the sum in
  * `InternalRow` space (no Row round-trip; the r14 formulation's
  * `rdd.zipWithIndex` + `createDataFrame` paid an encoder conversion
  * per corpus row and broke codegen at the seam).
  *
  * Output is EXACTLY the window result over the same order provided
  * the order keys are a total order (callers append a unique id —
  * range boundaries may split ties across partitions otherwise).
  */
object GlobalSeq {

  /** `df` plus a long `name` column holding the sum of the integral
    * `value` over every row before this one in `order` (which must be
    * a total order — include a unique key): `coalesce(sum(value) OVER
    * (ORDER BY order ROWS BETWEEN UNBOUNDED PRECEDING AND 1
    * PRECEDING), 0)`. A null `value` adds 0; narrower integral types
    * widen to long.
    */
  def withRunningSum(
      df: DataFrame,
      order: Seq[Column],
      value: Column,
      name: String): DataFrame = {
    val spark = df.sparkSession
    graft.GraftExtensions.install(spark)
    val plan = df.queryExecution.analyzed
    val sortOrders = order.map(sortOrderOn(spark, plan, _))
    val v = resolveOn(spark, plan, value) match {
      case e if e.dataType == LongType => e
      case e if Seq(ByteType, ShortType, IntegerType).contains(e.dataType) =>
        Cast(e, LongType)
      case e => throw new IllegalArgumentException(
        s"running-sum value must be integral, got ${e.dataType.simpleString}")
    }
    val out = AttributeReference(name, LongType, nullable = false)()
    ofRows(spark, graft.plans.RunningSumNode(sortOrders, v, out, plan))
  }

  /** `df` plus a 1-based long `seqName` column numbering rows in
    * `order` (which must be a total order — include a unique key):
    * the running sum of 1, plus one.
    */
  def withGlobalSeq(
      df: DataFrame,
      order: Seq[Column],
      seqName: String): DataFrame =
    withRunningSum(df, order, lit(1L), seqName)
      .withColumn(seqName, col(seqName) + 1L)

  /** SQL `ntile(k)` tile of 1-based rank `r` among `n` rows — the
    * arithmetic form, so a tile column derives from [[withGlobalSeq]]
    * output without any window: the first n%k tiles hold ceil(n/k)
    * rows, the rest floor(n/k).
    */
  def ntileOf(r: Long, n: Long, k: Int): Long = {
    require(r >= 1 && r <= n, s"rank $r out of [1, $n]")
    val big = n % k
    val small = n / k
    val bigSize = small + 1
    if (r <= big * bigSize) (r - 1) / bigSize + 1
    else big + (r - 1 - big * bigSize) / small + 1
  }

  /** [[ntileOf]] as a column expression over a seq column. Integer
    * division via floor — Column `/` is DOUBLE division; exact for
    * seq < 2^53, i.e. any real corpus.
    */
  def ntileCol(seq: Column, n: Long, k: Int): Column = {
    import org.apache.spark.sql.functions.{floor, when}
    def idiv(a: Column, b: Long): Column = floor(a / b).cast("long")
    val big = n % k
    val small = n / k
    val bigSize = small + 1
    if (small == 0L) seq // n < k: every row its own tile
    else when(seq <= big * bigSize, idiv(seq - 1L, bigSize) + 1L)
      .otherwise(lit(big) + idiv(seq - 1L - big * bigSize, small) + 1L)
  }
}
