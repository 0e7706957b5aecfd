package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.graft.bridge.{ofRows, sortOrderOn}
import org.apache.spark.sql.types.LongType

/** Distributed global row numbering — `row_number() OVER (ORDER BY
  * ...)` without the single reducer.
  *
  * A global window (`Window.orderBy` with no partitionBy) moves the
  * ENTIRE relation into one partition (Spark itself warns "No
  * Partition Defined for Window operation") — at the 100 TB design
  * point that is one task sorting the corpus. But a global SEQUENCE
  * only needs a total order plus per-partition offsets, which is what
  * the native [[graft.plans.GlobalSeqExec]] computes: Catalyst inserts
  * a range exchange (sampled boundaries, all partitions sort in
  * parallel) and per-partition sorts via the operator's required
  * distribution/ordering, then one counting job + one numbering pass
  * run over the SAME child RDD — the exchange's shuffle files are
  * written once and reused, and the numbering appends the sequence in
  * `InternalRow` space (no Row round-trip; the r14 formulation's
  * `rdd.zipWithIndex` + `createDataFrame` paid an encoder conversion
  * per corpus row and broke codegen at the seam).
  *
  * Output is EXACTLY `row_number` over the same order provided the
  * order keys are a total order (callers append a unique id — range
  * boundaries may split ties across partitions otherwise).
  */
object GlobalSeq {

  /** `df` plus a 1-based long `seqName` column numbering rows in
    * `order` (which must be a total order — include a unique key).
    */
  def withGlobalSeq(
      df: DataFrame,
      order: Seq[Column],
      seqName: String): DataFrame = {
    val spark = df.sparkSession
    graft.GraftExtensions.install(spark)
    val plan = df.queryExecution.analyzed
    val sortOrders = order.map(sortOrderOn(spark, plan, _))
    val seqAttr = AttributeReference(seqName, LongType, nullable = false)()
    ofRows(spark, graft.plans.GlobalSeqNode(sortOrders, seqAttr, plan))
  }

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
    import org.apache.spark.sql.functions._
    def idiv(a: Column, b: Long): Column = floor(a / b).cast("long")
    val big = n % k
    val small = n / k
    val bigSize = small + 1
    if (small == 0L) seq // n < k: every row its own tile
    else when(seq <= big * bigSize, idiv(seq - 1L, bigSize) + 1L)
      .otherwise(lit(big) + idiv(seq - 1L - big * bigSize, small) + 1L)
  }
}
