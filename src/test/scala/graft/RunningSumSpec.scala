package graft

import graft.ops.GlobalSeq
import graft.plans.RunningSumExec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The native running sum: `withRunningSum` equals the exclusive
  * window sum over the same total order on scrambled, empty and
  * one-row inputs, and its partition iterator stays exhausted.
  */
class RunningSumSpec extends SparkTestBase {
  import spark.implicits._

  private val order = Seq(col("k").asc, col("id").asc)

  /** (id, running sum) from the exec and from the window oracle. */
  private def both(df: DataFrame): (Map[Long, Long], Map[Long, Long]) = {
    val got = GlobalSeq.withRunningSum(df, order, col("v"), "s")
      .select("id", "s").as[(Long, Long)].collect().toMap
    val before = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ref = df
      .withColumn("s", coalesce(sum(col("v")).over(before), lit(0L)))
      .select("id", "s").as[(Long, Long)].collect().toMap
    (got, ref)
  }

  test("equals the exclusive window sum on 10k scrambled rows with " +
    "skewed values and nulls") {
    val df = spark.range(0L, 10000L)
      .select(col("id"),
        pmod(hash(col("id")), lit(997L)).as("k"),
        // a few huge values, many small, every 13th null
        when(col("id") % 13 === 0L, lit(null).cast("long"))
          .when(col("id") % 101 === 0L, col("id") * 1000003L)
          .otherwise(pmod(hash(col("id"), lit(7)), lit(5L))).as("v"))
      .repartition(17)
    val (got, ref) = both(df)
    assert(got.size == 10000)
    assert(got == ref)
    val total = df.agg(sum(col("v"))).as[Long].head()
    assert(got.values.max <= total && got.values.min == 0L)
  }

  test("equals the exclusive window sum on an empty input") {
    val (got, ref) = both(Seq.empty[(Long, Long, Long)].toDF("id", "k", "v"))
    assert(got.isEmpty && ref.isEmpty)
  }

  test("equals the exclusive window sum on a one-row input") {
    val (got, ref) = both(Seq((5L, 1L, 42L)).toDF("id", "k", "v"))
    assert(got == Map(5L -> 0L) && got == ref)
  }

  test("int values widen to long; non-integral values are rejected") {
    val df = Seq((1L, 0L, 3), (2L, 0L, 4)).toDF("id", "k", "v")
    val (got, ref) = both(df)
    assert(got == Map(1L -> 0L, 2L -> 3L) && got == ref)
    intercept[IllegalArgumentException] {
      GlobalSeq.withRunningSum(df, order, col("v").cast("double"), "s")
    }
  }

  test("partition iterator stays exhausted (repeated hasNext, next throws)") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.LongType
    // one partition already in the exec's required order, so the test
    // drives the exec's own partition iterator
    val child = Seq((1L, 0L, 2L), (2L, 0L, 3L)).toDF("id", "k", "v")
      .repartition(1).sortWithinPartitions("k", "id")
      .queryExecution.executedPlan
    val Seq(id, k, v) = child.output
    val out = AttributeReference("s", LongType, nullable = false)()
    val exec = RunningSumExec(
      Seq(k, id).map(org.apache.spark.sql.catalyst.expressions.SortOrder(
        _, org.apache.spark.sql.catalyst.expressions.Ascending)),
      v, out, child)
    val probes = exec.execute()
      .mapPartitions { it =>
        var sums = Vector.empty[Long]
        while (it.hasNext) sums :+= it.next().getLong(3)
        val again = Seq.fill(3)(it.hasNext)
        val nextThrows =
          try { it.next(); false }
          catch { case _: NoSuchElementException => true }
        Iterator((sums, again, nextThrows))
      }
      .collect().toSeq
    assert(probes == Seq((Vector(0L, 2L), Seq(false, false, false), true)))
  }
}
