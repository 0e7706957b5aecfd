package graft

import graft.plans.GroupPairs
import org.apache.spark.sql.functions._

/** The streaming group-pairs exec: result parity with a self-join
  * reference (multi-column keys and payloads, null keys and ids, ids
  * listed twice, copied string and struct values), the plan shape (no
  * collect_list ObjectHashAggregate, no d² array), the maxDf skip
  * boundary, its metrics, and the hot-shingle streaming contract the
  * round-15 array form could not honor (it threw past d ≈ 92k postings).
  */
class PostingPairsSpec extends SparkTestBase {

  import spark.implicits._

  test("pairs match a self-join reference, a < b, counts intact") {
    val postings = Seq(
      // shingle 10: docs 1,2,3 (sizes 5,7,9)
      (10L, 1L, 5L), (10L, 2L, 7L), (10L, 3L, 9L),
      // shingle 20: docs 2,3
      (20L, 2L, 7L), (20L, 3L, 9L),
      // shingle 30: singleton — no pairs
      (30L, 1L, 5L),
      // shingle 40: arrives unsorted — exec must sort
      (40L, 9L, 2L), (40L, 4L, 4L)
    ).toDF("shingle", "id", "n")
    val got = GroupPairs
      .pairs(postings, Seq(col("shingle")), col("id"), Seq(col("n")), Long.MaxValue)
      .groupBy("a", "b", "n_a", "n_b").agg(count(lit(1)).as("c"))
      .orderBy("a", "b")
      .collect().map(_.toSeq).toSeq
    val x = postings.select(col("shingle"), col("id").as("a"), col("n").as("n_a"))
    val y = postings.select(col("shingle"), col("id").as("b"), col("n").as("n_b"))
    val expected = x.join(y, Seq("shingle")).filter(col("a") < col("b"))
      .groupBy("a", "b", "n_a", "n_b").agg(count(lit(1)).as("c"))
      .orderBy("a", "b")
      .collect().map(_.toSeq).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("maxDf boundary: groups of exactly maxDf kept, maxDf+1 skipped") {
    val postings = Seq(
      (1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 1L), // df 3
      (2L, 1L, 1L), (2L, 2L, 1L) // df 2
    ).toDF("shingle", "id", "n")
    def pairCount(maxDf: Long): Long = GroupPairs
      .pairs(postings, Seq(col("shingle")), col("id"), Seq(col("n")), maxDf)
      .count()
    assert(pairCount(3L) == 4L) // C(3,2) + C(2,2)
    assert(pairCount(2L) == 1L) // df-3 group skipped
    assert(pairCount(Long.MaxValue) == 4L)
  }

  test("iterator stays exhausted when the input ends inside a skipped " +
    "group (repeated hasNext, next throws)") {
    import graft.plans.GroupPairsExec
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.LongType
    val maxDf = 3L
    // shingle 1 emits one pair; the LAST group holds maxDf + 1 postings
    val postings = (Seq((1L, 1L, 1L), (1L, 2L, 1L)) ++
      (1L to maxDf + 1).map(id => (2L, id, 1L))).toDF("shingle", "id", "n")
    // one partition already in the exec's required (shingle, id) order,
    // so the test drives the exec's own partition iterator
    val child = postings.repartition(1).sortWithinPartitions("shingle", "id")
      .queryExecution.executedPlan
    val Seq(sh, id, n) = child.output
    val out = Seq("a", "b", "n_a", "n_b")
      .map(c => AttributeReference(c, LongType, nullable = false)())
    val probes = GroupPairsExec(Seq(sh), id, Seq(n), maxDf, out, child).execute()
      .mapPartitions { it =>
        var emitted = 0
        while (it.hasNext) { it.next(); emitted += 1 }
        val again = Seq.fill(3)(it.hasNext)
        val nextThrows =
          try { it.next(); false }
          catch { case _: NoSuchElementException => true }
        Iterator((emitted, again, nextThrows))
      }
      .collect().toSeq
    assert(probes == Seq((1, Seq(false, false, false), true)))
  }

  test("string ids: binary order, values copied out of reused rows") {
    val postings = Seq(
      ("s", "docB", 2L), ("s", "docA", 3L), ("s", "docC", 1L)
    ).toDF("shingle", "id", "n")
    val got = GroupPairs
      .pairs(postings, Seq(col("shingle")), col("id"), Seq(col("n")), Long.MaxValue)
      .orderBy("a", "b")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(
      ("docA", "docB", 3L, 2L),
      ("docA", "docC", 3L, 1L),
      ("docB", "docC", 2L, 1L)))
  }

  test("int ids typecheck (the r15 expression rejected them)") {
    val postings = Seq((1L, 2, 1L), (1L, 7, 1L)).toDF("shingle", "id", "n")
    val got = GroupPairs
      .pairs(postings, Seq(col("shingle")), col("id"), Seq(col("n")), Long.MaxValue)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(got == Seq((2, 7)))
  }

  test("plan: PostingPairsExec above one exchange+sort, no " +
    "ObjectHashAggregate, no collect_list") {
    val postings = Seq((1L, 1L, 1L), (1L, 2L, 1L)).toDF("shingle", "id", "n")
    val df = GroupPairs
      .pairs(postings, Seq(col("shingle")), col("id"), Seq(col("n")), 1000L)
      .groupBy("a", "b").agg(count(lit(1)))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GroupPairs"), plan)
    assert(!plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("collect_list"), plan)
  }

  test("a 100k-posting hot shingle STREAMS: bounded buffer, lazy " +
    "emission — a limit consumes without materializing the 5e9 pairs") {
    // the r15 array form threw IllegalArgumentException past d ≈ 92k
    val hot = spark.range(100000L)
      .select(lit(42L).as("shingle"), col("id"), lit(3L).as("n"))
    val first = GroupPairs
      .pairs(hot, Seq(col("shingle")), col("id"), Seq(col("n")), Long.MaxValue)
      .limit(5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSeq
    // ids ascend within the group: the first pairs are (0, 1..5)
    assert(first == Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L)))
  }

  test("ngramJaccardPairs drops null ids up front (the old join " +
    "dropped them silently via a<b)") {
    val docs = Seq(
      (java.lang.Long.valueOf(1L), "a b c d"),
      (java.lang.Long.valueOf(2L), "a b c d"),
      (null.asInstanceOf[java.lang.Long], "a b c d")
    ).toDF("doc_id", "text")
    val pairs = graft.dedup.Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", 2, 0.5, Long.MaxValue)
    val got = pairs.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L)))
    pairs.unpersist()
  }

  /** The self equi-join on `keys` plus a < b that [[GroupPairs.pairs]]
    * must equal, multiplicities included, as sorted row strings.
    */
  private def viaJoin(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
      payload: Seq[String]): Seq[String] = {
    def side(s: String) = df.select(keys.map(col) ++ (col("id").as(s) +:
      payload.map(p => col(p).as(s"${p}_$s"))): _*)
    side("a").join(side("b"), keys).filter(col("a") < col("b"))
      .select((Seq("a", "b") ++ payload.map(_ + "_a") ++ payload.map(_ + "_b")).map(col): _*)
      .collect().map(_.toString).toSeq.sorted
  }

  private def viaExec(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
      payload: Seq[String], maxDf: Long = Long.MaxValue): Seq[String] =
    GroupPairs.pairs(df, keys.map(col), col("id"), payload.map(col), maxDf)
      .collect().map(_.toString).toSeq.sorted

  test("two-column key, two-column payload: the self-join reference") {
    val df = Seq(
      (1, "x", 3L, 1L, "p"), (1, "x", 1L, 2L, "q"), (1, "x", 2L, 3L, "r"),
      (1, "y", 1L, 4L, "s"), (1, "y", 5L, 5L, "t"),
      (2, "x", 1L, 6L, "u"), (2, "x", 9L, 7L, "v"),
      (2, "y", 4L, 8L, "w")
    ).toDF("k1", "k2", "id", "n", "tag")
    val got = viaExec(df, Seq("k1", "k2"), Seq("n", "tag"))
    assert(got == viaJoin(df, Seq("k1", "k2"), Seq("n", "tag")))
    assert(got.size == 5)
    assert(GroupPairs.pairs(df, Seq(col("k1"), col("k2")), col("id"),
      Seq(col("n"), col("tag")), Long.MaxValue).columns.toSeq ==
      Seq("a", "b", "n_a", "tag_a", "n_b", "tag_b"))
  }

  test("a null key or a null id never pairs, as in the equi-join") {
    val L = java.lang.Long.valueOf(_: Long)
    val nul = null.asInstanceOf[java.lang.Long]
    val df = Seq(
      (L(1L), L(1L), 1L), (L(1L), L(2L), 2L), (L(1L), nul, 3L), (L(1L), nul, 4L),
      (nul, L(1L), 5L), (nul, L(2L), 6L),
      (L(2L), nul, 7L), (L(2L), L(3L), 8L)
    ).toDF("k", "id", "n")
    val got = viaExec(df, Seq("k"), Seq("n"))
    assert(got == viaJoin(df, Seq("k"), Seq("n")))
    assert(got == Seq("[1,2,1,2]"))
    // null ids still count toward the group size: key 1 holds 4 rows
    assert(viaExec(df, Seq("k"), Seq("n"), maxDf = 3L).isEmpty)
  }

  test("a doc listed twice in one group pairs twice, never with itself") {
    val df = Seq((7L, 1L, 10L), (7L, 1L, 11L), (7L, 2L, 12L), (7L, 3L, 13L),
      (7L, 3L, 14L), (8L, 4L, 15L), (8L, 4L, 16L)).toDF("k", "id", "n")
    val got = viaExec(df, Seq("k"), Seq("n"))
    assert(got == viaJoin(df, Seq("k"), Seq("n")))
    assert(got.size == 2 + 4 + 2)
  }

  test("string and struct payload values are copied out of reused rows") {
    val df = Seq(
      ("g", 3L, "third", (3, "c")), ("g", 1L, "first", (1, "a")),
      ("g", 2L, "second", (2, "b")), ("h", 5L, "fifth", (5, "e")),
      ("h", 4L, "fourth", (4, "d"))
    ).toDF("k", "id", "s", "st").repartition(1)
    val got = GroupPairs.pairs(df, Seq(col("k")), col("id"), Seq(col("s"), col("st")),
        Long.MaxValue)
      .orderBy("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getStruct(3).getString(1), r.getString(4), r.getStruct(5).getString(1)))
      .toSeq
    assert(got == Seq(
      (1L, 2L, "first", "a", "second", "b"),
      (1L, 3L, "first", "a", "third", "c"),
      (2L, 3L, "second", "b", "third", "c"),
      (4L, 5L, "fourth", "d", "fifth", "e")))
    assert(viaExec(df, Seq("k"), Seq("s", "st")) == viaJoin(df, Seq("k"), Seq("s", "st")))
  }

  test("metrics: groups read, pairs emitted, groups skipped past maxDf, " +
    "largest group") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import graft.plans.GroupPairsExec
    val maxDf = 4L
    // groups of 1, maxDf and maxDf + 1 rows
    val df = ((1L to 1L).map(i => (1L, i, 0L)) ++ (1L to maxDf).map(i => (2L, i, 0L)) ++
      (1L to maxDf + 1).map(i => (3L, i, 0L))).toDF("shingle", "id", "n")
    val pairs = GroupPairs.pairs(df, Seq(col("shingle")), col("id"), Seq(col("n")), maxDf)
    assert(pairs.collect().length == 6)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    val Seq(exec) = nodes(pairs.queryExecution.executedPlan).collect { case e: GroupPairsExec => e }
    assert(exec.metrics.map { case (k, m) => k -> m.value } == Map(
      "groups" -> 3L, "pairs" -> 6L, "skipped" -> 1L, "largest" -> (maxDf + 1)))
  }
}
