package graft

import graft.similarity.Ann
import org.apache.spark.sql.functions._

/** IVF ANN: index build determinism and recall against the exact
  * brute-force ranking on the real embeddings table.
  */
class IvfSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("ivfBuild assigns every vector to exactly one of nLists lists") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val idx = Ann.ivfBuild(e, "vec_id", "embedding", nLists = 8, iters = 2)
    assert(idx.centroids.length == 8)
    val n = e.count()
    assert(idx.assignments.count() == n)
    val lists = idx.assignments.select("list_id").distinct().count()
    assert(lists > 1 && lists <= 8)
  }

  test("topKIvf recall@5 vs exact is high with nProbe=4 of 8 lists") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = e.filter(col("vec_id") < 5L)
    val idx = Ann.ivfBuild(e, "vec_id", "embedding", nLists = 8, iters = 2)
    val ivf = Ann.topKIvf(idx, probes, "vec_id", "embedding", k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = Ann.topKExact(
      probes.withColumnRenamed("vec_id", "probe_id"),
      e.withColumnRenamed("vec_id", "cand_id"),
      "probe_id", "cand_id", "embedding", 5
    ).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall") // random 64-dim data: half the lists scanned
  }

  test("ivf build is deterministic (same centroids both runs)") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val a = Ann.ivfBuild(e, "vec_id", "embedding", nLists = 4, iters = 1)
    val b = Ann.ivfBuild(e, "vec_id", "embedding", nLists = 4, iters = 1)
    assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq)
  }

  test("ivfBuild trainCap: centroid updates come from exactly the " +
    "hash-ordered sample (driver replay), encoding still covers everyone") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val cap = 64
    val nLists = 8
    val idx = Ann.ivfBuild(e, "vec_id", "embedding", nLists = nLists, iters = 1, trainCap = cap)
    val unbounded = Ann.ivfBuild(e, "vec_id", "embedding", nLists = nLists, iters = 1, trainCap = 0)
    // 64 < 500 rows: the sampled means must actually differ
    assert(idx.centroids.map(_.toSeq).toSeq != unbounded.centroids.map(_.toSeq).toSeq,
      "trainCap=64 on a 500-row corpus produced the unbounded centroids — the cap did not bind")
    // the assignment relation is the full corpus under the (shared)
    // init centroids at iters=1 — identical regardless of the cap
    assert(idx.assignments.count() == e.count())
    assert(idx.assignments.orderBy("vec_id").select("vec_id", "list_id").collect().toSeq ==
      unbounded.assignments.orderBy("vec_id").select("vec_id", "list_id").collect().toSeq)
    // driver replay: init = nLists smallest ids of the FULL corpus;
    // assign each SAMPLE vector to its nearest init centroid (squared
    // L2, smallest-index ties); means = HALF_UP ×2^20 long sums /
    // (2^20·count) — the contract the DuckDB oracles replay as tr
    val init = e.orderBy(col("vec_id").asc).limit(nLists).select("embedding")
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val sampleIds = e.select(col("vec_id"))
      .orderBy(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
      .limit(cap).collect().map(_.getLong(0)).toSet
    val train = e.filter(col("vec_id").isInCollection(sampleIds))
      .select("embedding").collect().map(_.getSeq[Float](0))
    assert(train.length == cap)
    val dim = init.head.length
    val sums = Array.fill(nLists, dim)(0L)
    val cnts = Array.fill(nLists)(0L)
    train.foreach { v =>
      var best = 0; var bd = Double.MaxValue
      var c = 0
      while (c < nLists) {
        var d = 0.0; var j = 0
        while (j < dim) { val t = v(j).toDouble - init(c)(j); d += t * t; j += 1 }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      cnts(best) += 1
      var j = 0
      while (j < dim) {
        val x = v(j).toDouble * Ann.QuantScale
        sums(best)(j) += (if (x >= 0) x + 0.5d else x - 0.5d).toLong
        j += 1
      }
    }
    val expect = Array.tabulate(nLists) { c =>
      if (cnts(c) == 0L) init(c).clone()
      else Array.tabulate(dim)(j => sums(c)(j).toDouble / (Ann.QuantScale * cnts(c).toDouble))
    }
    assert(idx.centroids.map(_.toSeq).toSeq == expect.map(_.toSeq).toSeq)
  }

  test("semanticDedup drops lower-id-keeper duplicates within clusters only") {
    import spark.implicits._
    // ids 1,3,5 form cluster A (near e1), 2,4 cluster B (near e2),
    // 6 is alone near e3 but lands in A's list without qualifying pairs
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.99f, 0.01f, 0.0f, 0.0f)),
      (4L, Seq(0.01f, 0.99f, 0.0f, 0.0f)),
      (5L, Seq(0.98f, 0.02f, 0.0f, 0.0f)),
      (6L, Seq(0.1f, 0.0f, 0.99f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Ann
      .semanticDedup(vecs, "vec_id", "embedding", minCos = 0.9,
        nLists = 2, iters = 2)
      .orderBy("drop_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // drop 3 (keeper 1), 4 (keeper 2), 5 (keepers 1 and 3 → min 1, n=2)
    assert(out.toSeq == Seq((3L, 1L, 1L), (4L, 2L, 1L), (5L, 1L, 2L)))
  }

  test("semanticDedup misses cross-cluster dups by construction") {
    import spark.implicits._
    // two identical vectors forced into different clusters by init:
    // with nLists = n and 1 iter over orthogonal-ish init they stay apart
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.7f, 0.7f)) // equidistant-ish; lands in exactly one list
    ).toDF("vec_id", "embedding")
    val out = Ann.semanticDedup(vecs, "vec_id", "embedding", minCos = 0.99,
      nLists = 2, iters = 1)
    // no pair reaches 0.99 within a list — nothing dropped, no crash
    assert(out.count() == 0L)
  }
}
