package graft

import graft.plans.PostingPairs
import org.apache.spark.sql.functions._

/** Streaming posting-pair exec (round 16): result parity with a
  * reference formulation, the plan shape that justifies it (no
  * collect_list ObjectHashAggregate, no d² array), the maxDf skip
  * boundary, and the hot-shingle streaming contract the round-15
  * array form could not honor (it threw past d ≈ 92k postings).
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
    val got = PostingPairs
      .pairs(postings, col("shingle"), col("id"), col("n"), Long.MaxValue)
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
    def pairCount(maxDf: Long): Long = PostingPairs
      .pairs(postings, col("shingle"), col("id"), col("n"), maxDf)
      .count()
    assert(pairCount(3L) == 4L) // C(3,2) + C(2,2)
    assert(pairCount(2L) == 1L) // df-3 group skipped
    assert(pairCount(Long.MaxValue) == 4L)
  }

  test("iterator stays exhausted when the input ends inside a skipped " +
    "group (repeated hasNext, next throws)") {
    import graft.plans.PostingPairsExec
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
    val probes = PostingPairsExec(sh, id, n, maxDf, out, child).execute()
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
    val got = PostingPairs
      .pairs(postings, col("shingle"), col("id"), col("n"), Long.MaxValue)
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
    val got = PostingPairs
      .pairs(postings, col("shingle"), col("id"), col("n"), Long.MaxValue)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(got == Seq((2, 7)))
  }

  test("plan: PostingPairsExec above one exchange+sort, no " +
    "ObjectHashAggregate, no collect_list") {
    val postings = Seq((1L, 1L, 1L), (1L, 2L, 1L)).toDF("shingle", "id", "n")
    val df = PostingPairs
      .pairs(postings, col("shingle"), col("id"), col("n"), 1000L)
      .groupBy("a", "b").agg(count(lit(1)))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PostingPairs"), plan)
    assert(!plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("collect_list"), plan)
  }

  test("a 100k-posting hot shingle STREAMS: bounded buffer, lazy " +
    "emission — a limit consumes without materializing the 5e9 pairs") {
    // the r15 array form threw IllegalArgumentException past d ≈ 92k
    val hot = spark.range(100000L)
      .select(lit(42L).as("shingle"), col("id"), lit(3L).as("n"))
    val first = PostingPairs
      .pairs(hot, col("shingle"), col("id"), col("n"), Long.MaxValue)
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
}
