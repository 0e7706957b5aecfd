package graft

import graft.similarity.Ann
import org.apache.spark.sql.functions._

/** Sign-LSH bucketing: the compiled per-row projection loop computes
  * EXACT integer projections — quantized vector (×2^20 HALF_UP, i.e.
  * round()) dotted against integer planes 2·pmod(xxhash64(i,j),
  * 1000003) − 1000003. The spec pins both the plane identity and
  * bucket parity with an independent relational formulation.
  */
class AnnLshSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  /** Independent relational formulation of the same integer semantics. */
  private def relationalBuckets(
      df: org.apache.spark.sql.DataFrame,
      vecCol: String,
      bits: Int
  ): org.apache.spark.sql.DataFrame = {
    val proj = (0 until bits).map { i =>
      val s = aggregate(
        zip_with(
          col(vecCol),
          sequence(lit(0), size(col(vecCol)) - 1),
          (x, j) =>
            round(x.cast("double") * 1048576.0d, 0).cast("long") *
              (pmod(xxhash64(lit(i), j), lit(1000003L)) * 2L - 1000003L)
        ),
        lit(0L),
        (acc, v) => acc + v
      )
      when(s >= 0L, shiftleft(lit(1L), i)).otherwise(0L)
    }
    df.withColumn("bucket_ref", proj.reduce((a, b) => a.bitwiseOR(b)))
  }

  test("compiled signLshBuckets matches the integer relational formulation bit-for-bit") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val got = Ann.signLshBuckets(e, "vec_id", "embedding", bits = 8)
      .select(col("vec_id"), col("bucket"))
    val ref = relationalBuckets(e, "embedding", bits = 8)
      .select(col("vec_id"), col("bucket_ref"))
    val joined = got.join(ref, "vec_id")
    assert(joined.count() == e.count())
    val diff = joined.filter(col("bucket") =!= col("bucket_ref")).count()
    assert(diff == 0L, s"$diff rows bucketed differently")
  }

  test("planeInt matches catalyst xxhash64 on a scalar grid") {
    val pairs = for { i <- 0 until 8; j <- 0 until 64 } yield (i, j)
    val df = spark.createDataFrame(pairs).toDF("i", "j")
      .withColumn("ref", pmod(xxhash64(col("i"), col("j")), lit(1000003L)) * 2L - 1000003L)
    df.collect().foreach { r =>
      val got = Ann.planeInt(r.getInt(0), r.getInt(1))
      assert(got == r.getLong(2), s"(${r.getInt(0)},${r.getInt(1)}): $got vs ${r.getLong(2)}")
    }
  }

  test("bucket ids stay within [0, 2^bits)") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val b = Ann.signLshBuckets(e, "vec_id", "embedding", bits = 6)
    val bad = b.filter(col("bucket") < 0L || col("bucket") >= (1L << 6)).count()
    assert(bad == 0L)
  }

  test("LSH in-bucket cosines are bit-identical to the exact quantized cosine") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = e.filter(col("vec_id") < 4L)
    val lsh = Ann.topKLsh(e, probes, "vec_id", "embedding", k = 5, bits = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
    assert(lsh.nonEmpty)
    // exact ranking over ALL candidates → every (probe, cand) pair
    val exact = Ann.topKExact(
      probes.withColumnRenamed("vec_id", "probe_id"),
      e.withColumnRenamed("vec_id", "cand_id"),
      "probe_id", "cand_id", "embedding", k = 1000
    ).collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    lsh.foreach { case (pair, cos) =>
      assert(exact(pair) == cos, s"$pair: lsh=$cos exact=${exact(pair)}")
    }
  }

  test("cosineNearDupPairs auto-scaled bits: a PROVABLE SUBSET of the " +
    "requested-bits pair set (prefix planes), precision stays exact") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    def pairs(auto: Long) = Ann
      .cosineNearDupPairs(e, "vec_id", "embedding", minCos = 0.3,
        bits = 2, autoScaleDocs = auto, targetBucket = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = pairs(Long.MaxValue).toSet // bound never crossed
    val scaled = pairs(1L) // bound always crossed: bits auto-raise
    assert(scaled.nonEmpty && exact.nonEmpty)
    assert(scaled.toSet.subsetOf(exact),
      s"scaled emitted pairs outside the requested-bits set: " +
        s"${(scaled.toSet -- exact).take(3)}")
    // precision: every surviving pair carries the same exact cosine
    val exactByKey = exact.map(t => (t._1, t._2) -> t._3).toMap
    scaled.foreach { case (a, b, cos) =>
      assert(exactByKey((a, b)) == cos)
    }
  }

  test("knownCount skips the eager corpus scan (zero jobs at plan " +
    "time) and leaves outputs identical — ADVICE r13 / VERDICT #5") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = e.count()
    // AtomicInteger: incremented on the listener-bus thread, read on
    // the test thread — a plain var can read stale under the JMM and
    // flake the quiescence poll (ADVICE r14)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the bus is async and FIFO: a just-registered listener can
      // still receive QUEUED events from jobs that ran before
      // registration, and a DataFrame count() under AQE can itself be
      // >1 job. Flush with an RDD sentinel (exactly one job) and wait
      // for the counter to go quiescent.
      def flush(): Unit = {
        spark.sparkContext.parallelize(Seq(1)).count()
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        var last = -1
        while (last != jobs.get() && System.nanoTime() < deadline) {
          last = jobs.get(); Thread.sleep(400)
        }
      }
      flush(); jobs.set(0)
      // with the hint, building the pair plan runs NO job at all —
      // the composed-pipeline caller's count is reused, the vectors
      // relation is not re-scanned
      val hinted = Ann.cosineNearDupPairs(e, "vec_id", "embedding",
        minCos = 0.3, bits = 2, autoScaleDocs = 1L, targetBucket = 16,
        knownCount = Some(n))
      flush()
      assert(jobs.get() == 1,
        s"knownCount path still ran ${jobs.get() - 1} eager job(s)")
      val got = hinted.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val unhinted = Ann.cosineNearDupPairs(e, "vec_id", "embedding",
          minCos = 0.3, bits = 2, autoScaleDocs = 1L, targetBucket = 16)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == unhinted)
      // semanticDedup: same hint, same drop set (ivfBuild is eager by
      // nature — centroids are driver metadata — so assert equality,
      // not job count)
      val sd = Ann.semanticDedup(e, "vec_id", "embedding", minCos = 0.3,
          nLists = 4, iters = 2, autoScaleDocs = 1L, targetCluster = 64,
          knownCount = Some(n))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sd0 = Ann.semanticDedup(e, "vec_id", "embedding", minCos = 0.3,
          nLists = 4, iters = 2, autoScaleDocs = 1L, targetCluster = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(sd == sd0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("semanticDedup auto-scaled nLists: every emitted drop still " +
    "carries an exactly-verified qualifying witness (precision exact " +
    "under any clustering)") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val scaled = Ann.semanticDedup(e, "vec_id", "embedding",
      minCos = 0.3, nLists = 4, iters = 2,
      autoScaleDocs = 1L, targetCluster = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(scaled.nonEmpty)
    // brute-force all-pairs truth: the witness must be a real >= 0.3
    // lower-id partner with the exact quantized cosine
    val truth = Ann.cosineExactPairs(e, "vec_id", "embedding", minCos = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    scaled.foreach { case (dropId, keeperId, cos) =>
      assert(keeperId < dropId)
      assert(truth((keeperId, dropId)) == cos,
        s"($keeperId,$dropId): engine cos $cos vs truth ${truth.get((keeperId, dropId))}")
    }
  }

  test("semanticDedup with nLists = 1 equals the cosineExactPairs drop chain") {
    // one cluster holds every vector, so the within-cluster pairs are
    // all pairs: each dropped b keeps its smallest qualifying a
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val pairs = Ann.cosineExactPairs(e, "vec_id", "embedding", minCos = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = pairs.groupBy(_._2).map { case (b, ps) =>
      val (a, _, cos) = ps.minBy(_._1)
      (b, a, ps.length.toLong, cos)
    }.toSet
    val got = Ann.semanticDedup(e, "vec_id", "embedding", minCos = 0.3,
        nLists = 1, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == got.toSet.size)
    assert(want.nonEmpty)
    // the cos doubles compare with ==: bit-equal, not within a tolerance
    assert(got.toSet == want, s"${(want -- got.toSet).take(3)} / ${(got.toSet -- want).take(3)}")
  }
}
