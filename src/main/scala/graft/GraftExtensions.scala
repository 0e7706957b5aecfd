package graft

import graft.plans._
import org.apache.spark.sql.{AnalysisException, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.IntegerType

/** Everything the engine adds to a Spark session: the native SQL
  * [[GraftExtensions.functions]] and the planner
  * [[GraftExtensions.strategies]] that turn the custom logical nodes
  * into their execs. This file is the only place either list is
  * named or installed; there are two ways in:
  *
  *  - `--conf spark.sql.extensions=graft.GraftExtensions` (or
  *    `.withExtensions(new GraftExtensions)`) injects both lists when
  *    the session is built;
  *  - [[GraftExtensions.install]] adds both lists to a session built
  *    without the extension. Every entry point that plans a custom
  *    exec (`TopKPerKey.topKPerKey`, `GroupPairs.pairs`,
  *    `GlobalSeq.withRunningSum`) calls it first, so any session —
  *    `Graft.session`, a caller's own, a test's — plans them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}

object GraftExtensions {

  private def fn(name: String)(builder: FunctionBuilder)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name), builder)

  /** Every native function callable from SQL, by name. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("array_dot")(e => ArrayDotProduct(e(0), e(1))),
    fn("wada_snr")(e => WadaSnrExpr(e.head)),
    fn("bottom_k_ids")(e => BottomKIds(e(0), e(1), e(2))),
    fn("count_min")(e => CountMinAgg(e(0), e(1), e(2))),
    fn("z_order")(e => ZOrderExpr(e(0), e(1))),
    fn("script_counts")(e => ScriptCountsExpr(e.head)),
    fn("fold_diacritics")(e => FoldDiacriticsExpr(e.head)),
    fn("sorted_intersect_count")(e => SortedIntersectCount(e(0), e(1))),
    fn("fnv64")(e => FnvHashExpr(e.head)),
    fn("gram_hashes")(e => GramHashesExpr(e(0), literalN("gram_hashes", e(1)), distinctSorted = false)),
    fn("shingle_hashes")(e => GramHashesExpr(e(0), literalN("shingle_hashes", e(1)), distinctSorted = true)))

  /** The gram width `n` of `gram_hashes`/`shingle_hashes`: the
    * expressions take it as a plain Int, so only a foldable INT >= 1 is
    * accepted. (`minhash_sig` is not registered for the same reason:
    * its seed arrays are no SQL literal.)
    */
  private def literalN(name: String, n: Expression): Int = {
    if (!n.foldable || n.dataType != IntegerType)
      throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
        "funcName" -> s"`$name`", "paramName" -> "`n`", "paramType" -> "\"INT\""))
    n.eval() match {
      case v: Int if v >= 1 => v
      case v => throw new IllegalArgumentException(s"$name: n must be >= 1, got $v")
    }
  }

  /** Every custom planner strategy, one per custom logical node. */
  val strategies: Seq[SparkStrategy] =
    Seq(TopKPerKeyStrategy, GroupPairsStrategy, RunningSumStrategy)

  /** Add [[functions]] and [[strategies]] to `spark`. A no-op once the
    * session's planner has every strategy — through the extension or
    * an earlier call — so repeated calls register nothing twice.
    */
  def install(spark: SparkSession): Unit = {
    val planned = spark.sessionState.planner.strategies
    if (!strategies.forall(planned.contains)) synchronized {
      val registry = spark.sessionState.functionRegistry
      functions.foreach { case (id, info, builder) =>
        registry.registerFunction(id, info, builder)
      }
      val extra = spark.experimental.extraStrategies
      spark.experimental.extraStrategies = extra ++ strategies.filterNot(extra.contains)
    }
  }
}
