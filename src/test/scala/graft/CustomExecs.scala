package graft

import graft.ops.GlobalSeq
import graft.plans.{GroupPairs, GroupPairsExec, RunningSumExec, TopKPerKey, TopKPerKeyExec}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The three column-level entry points that plan a custom exec, run
  * on a tiny frame of one session.
  */
object CustomExecs {

  /** For each entry point, whether its physical plan holds its exec. */
  def planned(s: SparkSession): Map[String, Boolean] = {
    val df = s.range(4).selectExpr("id", "id % 2 AS k", "2L AS n")
    Map(
      "TopKPerKeyExec" -> TopKPerKey
        .topKPerKey(df, Seq(col("k")), Seq(col("id").desc), 1)
        .queryExecution.sparkPlan.exists(_.isInstanceOf[TopKPerKeyExec]),
      "GroupPairsExec" -> GroupPairs
        .pairs(df, Seq(col("k")), col("id"), Seq(col("n")), 10L)
        .queryExecution.sparkPlan.exists(_.isInstanceOf[GroupPairsExec]),
      "RunningSumExec" -> GlobalSeq
        .withRunningSum(df, Seq(col("id")), col("n"), "sum")
        .queryExecution.sparkPlan.exists(_.isInstanceOf[RunningSumExec]))
  }
}
