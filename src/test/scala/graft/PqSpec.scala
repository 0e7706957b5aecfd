package graft

import graft.similarity.{Ann, Pq}
import org.apache.spark.sql.functions._

/** Product quantization: build determinism, code ranges, compression
  * shape, and ADC ranking sanity against the exact ranking.
  */
class PqSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("pqBuild: m codes per vector, all within [0, k)") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val idx = Pq.pqBuild(e, "vec_id", "embedding", m = 4, k = 16, iters = 1)
    assert(idx.codebooks.length == 4)
    assert(idx.codebooks.forall(_.length == 16))
    assert(idx.codebooks.forall(_.forall(_.length == 16))) // 64 / 4
    val rows = idx.codes.collect()
    assert(rows.length == e.count())
    rows.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 4)
      assert(cs.forall(c => c >= 0 && c < 16))
    }
  }

  test("pqBuild rejects inputs with fewer than k vectors, with a clear message") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet").limit(5)
    val ex = intercept[IllegalArgumentException] {
      Pq.pqBuild(e, "vec_id", "embedding", m = 4, k = 16, iters = 1)
    }
    assert(ex.getMessage.contains("needs >= 16 vectors"))
    assert(ex.getMessage.contains("got 5"))
  }

  test("pqBuild is deterministic across invocations") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val a = Pq.pqBuild(e, "vec_id", "embedding", m = 4, k = 16, iters = 2)
    val b = Pq.pqBuild(e, "vec_id", "embedding", m = 4, k = 16, iters = 2)
    assert(a.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      b.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val ca = a.codes.orderBy("vec_id").collect().map(_.getSeq[Int](1).toSeq).toSeq
    val cb = b.codes.orderBy("vec_id").collect().map(_.getSeq[Int](1).toSeq).toSeq
    assert(ca == cb)
  }

  test("ADC top-k overlaps the exact cosine ranking (recall sanity)") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = e.filter(col("vec_id") < 8L)
    val idx = Pq.pqBuild(e, "vec_id", "embedding", m = 4, k = 16, iters = 2)
    val pq = Pq.pqTopK(idx, probes, "vec_id", "embedding", kNn = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = Ann.topKExact(
      probes.withColumnRenamed("vec_id", "probe_id"),
      e.withColumnRenamed("vec_id", "cand_id"),
      "probe_id", "cand_id", "embedding", 10
    ).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // 4×16 codes over random 64-dim data is a coarse quantizer — just
    // require meaningful overlap, not high recall
    val overlap = pq.intersect(exact).size.toDouble / exact.size
    assert(overlap > 0.1, s"overlap=$overlap")
  }

  test("IVF-PQ with nProbe = nLists degenerates to plain PQ exactly") {
    // probing every list removes the coarse filter, so the composite
    // must reproduce pqTopK bit-for-bit — the algebraic identity that
    // pins the candidate-selection join against the ADC ranking
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = e.filter(col("vec_id") < 8L)
    val ivf = Ann.ivfBuild(e, "vec_id", "embedding", nLists = 8, iters = 2)
    val pqi = Pq.pqBuild(e, "vec_id", "embedding", m = 4, k = 16, iters = 1)
    val full = Pq.topKIvfPq(ivf, pqi, probes, "vec_id", "embedding",
      kNn = 5, nProbe = 8).orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    val plain = Pq.pqTopK(pqi, probes, "vec_id", "embedding", kNn = 5)
      .orderBy("probe_id", "rank").collect().map(_.toSeq).toSeq
    assert(full == plain)
    assert(full.nonEmpty)
  }

  test("pqTopKRerank with shortlist >= corpus degenerates to the exact " +
    "cosine top-k (the refine stage's correctness anchor)") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = e.filter(col("vec_id") < 8L)
    val n = e.count().toInt
    val idx = Pq.pqBuild(e, "vec_id", "embedding", m = 4, k = 16, iters = 1)
    val reranked = Pq
      .pqTopKRerank(idx, e, probes, "vec_id", "embedding", kNn = 5, shortlist = n)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val exact = Ann
      .topKExact(
        probes.withColumnRenamed("vec_id", "probe_id"),
        e.withColumnRenamed("vec_id", "cand_id"),
        "probe_id", "cand_id", "embedding", k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(reranked == exact,
      s"refine-at-full-shortlist diverged from exact: ${(exact -- reranked).take(3)}")
  }

  test("topKIvfPqRerank with nProbe = nLists and shortlist ≥ corpus equals topKExact") {
    // every list probed and every candidate shortlisted and kept: the
    // IVF prune and the ADC rank drop out, leaving only the exact
    // re-rank of every (probe, candidate) pair
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = e.filter(col("vec_id") < 8L)
    val n = e.count().toInt
    val ivf = Ann.ivfBuild(e, "vec_id", "embedding", nLists = 8, iters = 2)
    val pqi = Pq.pqBuild(e, "vec_id", "embedding", m = 4, k = 16, iters = 1)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val reranked = rows(Pq.topKIvfPqRerank(ivf, pqi, e, probes, "vec_id", "embedding",
      kNn = n, nProbe = 8, shortlist = n))
    val exact = rows(Ann.topKExact(
      probes.withColumnRenamed("vec_id", "probe_id"),
      e.withColumnRenamed("vec_id", "cand_id"),
      "probe_id", "cand_id", "embedding", k = n))
    assert(exact.size == 8 * (n - 1))
    assert(reranked == exact,
      s"full-probe IVF-PQ refine diverged from exact: ${(exact -- reranked).take(3)}")
  }

  test("pqTopKRerank recall at a tight shortlist dominates raw ADC recall") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = e.filter(col("vec_id") < 8L)
    val idx = Pq.pqBuild(e, "vec_id", "embedding", m = 4, k = 16, iters = 1)
    val exact = Ann
      .topKExact(
        probes.withColumnRenamed("vec_id", "probe_id"),
        e.withColumnRenamed("vec_id", "cand_id"),
        "probe_id", "cand_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def hits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet.intersect(exact).size
    val adc = hits(Pq.pqTopK(idx, probes, "vec_id", "embedding", kNn = 5))
    val rr = hits(Pq.pqTopKRerank(idx, e, probes, "vec_id", "embedding",
      kNn = 5, shortlist = 8))
    assert(rr >= adc, s"re-rank recall $rr fell below raw ADC $adc")
  }

  test("pqBuild trainCap: mean updates come from exactly the hash-ordered " +
    "sample (driver replay), and the cap binds") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val cap = 64
    val m = 4; val k = 16; val sd = 16
    val idx = Pq.pqBuild(e, "vec_id", "embedding", m = m, k = k, iters = 1, trainCap = cap)
    val unbounded = Pq.pqBuild(e, "vec_id", "embedding", m = m, k = k, iters = 1, trainCap = 0)
    def flat(cb: Array[Array[Array[Double]]]) = cb.map(_.map(_.toSeq).toSeq).toSeq
    // 64 < 500 rows: the sampled means must actually differ
    assert(flat(idx.codebooks) != flat(unbounded.codebooks),
      "trainCap=64 on a 500-row corpus produced the unbounded codebooks — the cap did not bind")
    // encoding still covers every vector, under the same init codebooks
    assert(idx.codes.count() == e.count())
    assert(idx.codes.orderBy("vec_id").collect().map(_.getSeq[Int](1).toSeq).toSeq ==
      unbounded.codes.orderBy("vec_id").collect().map(_.getSeq[Int](1).toSeq).toSeq)
    // driver replay: same init (k smallest ids of the FULL corpus),
    // same assignment loop, means restricted to the md5-ordered first
    // `cap` ids — the exact contract the DuckDB oracle replays
    val init = e.orderBy(col("vec_id").asc).limit(k).select("embedding")
      .collect().map(_.getSeq[Float](0))
    val cb0 = Array.tabulate(m, k)((s, c) => Array.tabulate(sd)(j => init(c)(s * sd + j).toDouble))
    val sampleIds = e.select(col("vec_id"))
      .orderBy(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
      .limit(cap).collect().map(_.getLong(0)).toSet
    assert(sampleIds.size == cap)
    val train = e.filter(col("vec_id").isInCollection(sampleIds))
      .select("embedding").collect().map(_.getSeq[Float](0))
    assert(train.length == cap)
    val sums = Array.fill(m, k, sd)(0L)
    val cnts = Array.fill(m, k)(0L)
    train.foreach { v =>
      var s = 0
      while (s < m) {
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          while (j < sd) { val t = v(s * sd + j).toDouble - cb0(s)(c)(j); d += t * t; j += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        cnts(s)(best) += 1
        var j = 0
        while (j < sd) {
          val x = v(s * sd + j).toDouble * Ann.QuantScale
          sums(s)(best)(j) += (if (x >= 0) x + 0.5d else x - 0.5d).toLong
          j += 1
        }
        s += 1
      }
    }
    val expect = Array.tabulate(m, k) { (s, c) =>
      if (cnts(s)(c) == 0L) cb0(s)(c).clone()
      else Array.tabulate(sd)(j => sums(s)(c)(j).toDouble / (Ann.QuantScale * cnts(s)(c).toDouble))
    }
    assert(flat(idx.codebooks) == flat(expect))
  }

  test("IVF-PQ with few probes returns a subset-ranked list per probe") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = e.filter(col("vec_id") < 8L)
    val ivf = Ann.ivfBuild(e, "vec_id", "embedding", nLists = 16, iters = 2)
    val pqi = Pq.pqBuild(e, "vec_id", "embedding", m = 4, k = 16, iters = 1)
    val out = Pq.topKIvfPq(ivf, pqi, probes, "vec_id", "embedding",
      kNn = 5, nProbe = 4).collect()
    assert(out.nonEmpty)
    // ranks are 1..n per probe and distances ascend with rank
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq)
      val ds = sorted.map(_.getDouble(3)).toSeq
      assert(ds == ds.sorted)
    }
  }
}
