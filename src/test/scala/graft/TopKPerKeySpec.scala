package graft

import graft.plans.TopKPerKey
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Custom LogicalPlan + Strategy + physical operator: result parity
  * with the stock Window(row_number)+Filter plan, and the plan shape
  * that justifies it (no per-partition sort).
  */
class TopKPerKeySpec extends SparkTestBase {

  private lazy val orders =
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

  test("topKPerKey matches window row_number + filter exactly") {
    val got = TopKPerKey
      .topKPerKey(
        orders,
        keyCols = Seq(col("o_custkey")),
        orderCols = Seq(col("o_orderdate").asc, col("o_orderkey").asc),
        k = 3
      )
      .select("o_custkey", "o_orderkey")
      .orderBy("o_custkey", "o_orderkey")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSeq

    val w = Window
      .partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val expected = orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey")
      .orderBy("o_custkey", "o_orderkey")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSeq

    assert(got == expected)
  }

  test("physical plan uses TopKPerKeyExec with no Window or Sort") {
    val df = TopKPerKey.topKPerKey(
      orders,
      Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc),
      k = 2
    )
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Sort "), plan)
  }

  test("exec runs two-phase: partial heaps below the exchange, final " +
    "above — the shuffle carries heap output, not the full stream") {
    val df = TopKPerKey.topKPerKey(
      orders,
      Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc),
      k = 2
    )
    val plan = df.queryExecution.executedPlan.toString
    // both instances present, with the keyed exchange between them
    val first = plan.indexOf("TopKPerKey")
    val second = plan.indexOf("TopKPerKey", first + 1)
    assert(second > first, s"expected partial+final TopKPerKeyExec:\n$plan")
    val between = plan.substring(first, second)
    assert(between.contains("Exchange") || plan.contains("ShuffleQueryStage"),
      s"expected the key exchange between final and partial:\n$plan")
    // parity with the stock formulation is already pinned above; here
    // assert the row COUNT a partial-only pass would inflate
    val w = Window
      .partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val expected = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2).count()
    assert(df.count() == expected)
  }

  test("descending order picks the highest-price orders") {
    val got = TopKPerKey
      .topKPerKey(
        orders.filter(col("o_custkey") === 1L),
        Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc),
        k = 2
      )
      .select("o_totalprice")
      .collect()
      .map(_.getDouble(0))
      .toSeq
    val all = orders
      .filter(col("o_custkey") === 1L)
      .select("o_totalprice")
      .collect()
      .map(_.getDouble(0))
      .sorted(Ordering[Double].reverse)
    assert(got.sorted(Ordering[Double].reverse) == all.take(2).toSeq)
  }

  test("k larger than any group returns everything") {
    val n = orders.count()
    val got = TopKPerKey.topKPerKey(
      orders, Seq(col("o_custkey")), Seq(col("o_orderkey").asc), k = 1000000)
    assert(got.count() == n)
  }

  test("partial-phase key budget: a tiny budget evicts heaps to output " +
    "(lossy upward) yet the final result is unchanged — task memory is " +
    "bounded at high key cardinality") {
    val w = Window
      .partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val expected = orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select("o_custkey", "o_orderkey")
      .orderBy("o_custkey", "o_orderkey")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSeq
    val key = "spark.graft.topk.partialKeyBudget"
    spark.conf.set(key, "2") // orders has ~1.5k custkeys per task — constant churn
    try {
      val got = TopKPerKey
        .topKPerKey(
          orders,
          Seq(col("o_custkey")),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc),
          k = 2)
        .select("o_custkey", "o_orderkey")
        .orderBy("o_custkey", "o_orderkey")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSeq
      assert(got == expected)
    } finally spark.conf.unset(key)
  }

  test("iterators stay exhausted once drained, partial and final phase " +
    "(repeated hasNext, next throws)") {
    import graft.plans.TopKPerKeyExec
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.execution.SparkPlan
    import spark.implicits._
    // key 1 holds three rows (one past k), key 2 two
    val child = Seq((1L, 5L), (1L, 3L), (2L, 7L), (1L, 4L), (2L, 1L)).toDF("k", "v")
      .coalesce(1).queryExecution.executedPlan
    val Seq(k, v) = child.output
    def phase(partial: Boolean, input: SparkPlan): TopKPerKeyExec =
      TopKPerKeyExec(Seq(k), Seq(SortOrder(v, Ascending)), 2, partial, input)
    // drives one exec's own partition iterator past its end
    def probe(exec: SparkPlan): Seq[(Int, Seq[Boolean], Boolean)] =
      exec.execute().mapPartitions { it =>
        var emitted = 0
        while (it.hasNext) { it.next(); emitted += 1 }
        val again = Seq.fill(3)(it.hasNext)
        val nextThrows =
          try { it.next(); false }
          catch { case _: NoSuchElementException => true }
        Iterator((emitted, again, nextThrows))
      }.collect().toSeq
    val partial = phase(partial = true, child)
    assert(probe(partial) == Seq((4, Seq(false, false, false), true)))
    assert(probe(phase(partial = false, partial)) == Seq((4, Seq(false, false, false), true)))
    // a key budget of 1 makes the partial phase evict heaps to output
    // from inside its fill loop: the iterator still ends for good
    val key = "spark.graft.topk.partialKeyBudget"
    spark.conf.set(key, "1")
    try {
      val Seq((emitted, again, nextThrows)) = probe(phase(partial = true, child))
      assert(emitted >= 4 && again == Seq(false, false, false) && nextThrows)
    } finally spark.conf.unset(key)
  }
}
