package graft

import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame

/** Every Hamming pair finder and the fingerprint clustering leave
  * exactly one persisted RDD behind — their returned result — and
  * release their print, pair and label caches. Counted without
  * clearCache, so a leak in any call shows as an extra RDD.
  */
class HammingCacheSpec extends SparkTestBase {
  import spark.implicits._

  // exact groups, a near chain between them, far singletons; values no
  // other suite uses, so no call here finds its result already cached
  // in the shared session
  private lazy val prints = Seq(
    (101L, 500L), (102L, 500L), (103L, 500L), (104L, 500L),
    (110L, 503L), (111L, 503L), (120L, 502L),
    (130L, Long.MaxValue), (131L, Long.MaxValue),
    (140L, 0x00FF00FF00FF00FFL)
  ).toDF("id", "fp")

  private lazy val docs = (0 until 24).map { i =>
    (i.toLong, s"eta theta iota kappa v${i % 5} lambda mu")
  }.toDF("doc_id", "text")

  private def leavesOnlyItsResult(run: => DataFrame): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = run
    val kept = sc.getPersistentRDDs.keySet.toSet -- before
    out.unpersist(blocking = true)
    assert(kept.size == 1, s"left ${kept.size} persisted RDDs behind: $kept")
    assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty,
      "the one persisted RDD left behind is not the returned result")
  }

  test("hammingPairs64 uncapped leaves only its result cached") {
    leavesOnlyItsResult(Dedup.hammingPairs64(prints, "id", "fp", maxHamming = 3))
  }

  test("hammingPairs64 capped leaves only its result cached") {
    leavesOnlyItsResult(
      Dedup.hammingPairs64(prints, "id", "fp", maxHamming = 3, maxPerBucket = Some(2)))
  }

  test("hammingPairsAgainst64 leaves only its result cached") {
    leavesOnlyItsResult(Dedup.hammingPairsAgainst64(
      prints.filter($"id" % 2 === 0), prints.filter($"id" % 2 =!= 0),
      "id", "fp", maxHamming = 3))
  }

  test("simHashPairs leaves only its result cached") {
    leavesOnlyItsResult(Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 7))
  }

  test("simHashPairs128 leaves only its result cached") {
    leavesOnlyItsResult(Dedup.simHashPairs128(docs, "doc_id", "text", maxHamming = 7))
  }

  test("clusterizeHamming64 leaves only its result cached (local tier)") {
    leavesOnlyItsResult(Dedup.clusterizeHamming64(prints, "id", "fp", maxHamming = 3))
  }

  test("clusterizeHamming64 leaves only its result cached (distributed tier)") {
    leavesOnlyItsResult(Dedup.clusterizeHamming64(
      prints, "id", "fp", maxHamming = 3, localThreshold = 0L))
  }
}
