package graft

import graft.dedup.Dedup
import graft.text.TextAnalysis
import graft.similarity.Ann
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (4L, "completely different words about spark engines here"),
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("exact dedup collapses identical texts, keeps min id") {
    val out = Dedup.exact(docs, "doc_id", "text").orderBy("doc_id").collect()
    assert(out.length == 4)
    val dupRow = out.find(_.getLong(2) == 2L).get
    assert(dupRow.getLong(1) == 1L) // kept the min doc_id
  }

  test("shingles emits only full n-grams") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
    assert(sh.filter($"doc_id" === 5L).count() == 0) // 2 tokens < n
    assert(sh.filter($"doc_id" === 4L).count() == 5) // 7 tokens → 5 distinct
  }

  test("ngram Jaccard finds the near-dup pair and exact pair") {
    val pairs = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.5)
      .orderBy("a", "b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 3L))) // identical → J=1
    assert(pairs.contains((1L, 2L))) // 6/8 common 3-grams
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("prefix-filtered Jaccard equals the brute-force path at low AND high thresholds") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (t <- Seq(0.12, 0.8)) {
      val base = Dedup
        .ngramJaccardPairs(real, "doc_id", "text", n = 3, minJaccard = t,
          maxDf = Long.MaxValue)
        .orderBy("a", "b").collect().map(_.toSeq).toSeq
      val pref = Dedup
        .ngramJaccardPairsPrefix(real, "doc_id", "text", n = 3, minJaccard = t,
          maxDf = Long.MaxValue)
        .orderBy("a", "b").collect().map(_.toSeq).toSeq
      assert(pref == base, s"prefix path diverged at t=$t")
      assert(base.nonEmpty)
    }
  }

  test("prefix filter indexes only s-ceil(t*s)+1 shingles per doc") {
    // crafted doc pair sharing ONLY their last (highest-hash) shingles
    // would be missed by a too-short prefix; the lemma guarantees any
    // J>=t pair shares a PREFIX shingle — verified via the real-corpus
    // equality above. Here: the degenerate all-identical pair survives.
    val two = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta")
    ).toDF("doc_id", "text")
    val got = Dedup
      .ngramJaccardPairsPrefix(two, "doc_id", "text", 3, 0.99, Long.MaxValue)
      .collect()
    assert(got.length == 1 && got.head.getDouble(5) == 1.0)
  }

  test("minhash LSH recovers the high-jaccard pairs with exact verification") {
    val got = Dedup
      .minHashLshPairs(docs, "doc_id", "text", n = 3, bands = 8, rowsPerBand = 4, minJaccard = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(got.contains((1L, 3L)))
    assert(got.contains((1L, 2L)))
  }

  test("simhash: identical docs distance 0, near-dups close, distinct far") {
    val fp = Dedup.simHash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(fp(a) ^ fp(b))
    assert(ham(1L, 3L) == 0)
    assert(ham(1L, 2L) < ham(1L, 4L))
  }

  test("simHashPairs combinatorial banding is a COMPLETE cover: pair set " +
    "equals brute-force popcount at maxHamming 0, 3 and 7") {
    import spark.implicits._
    // a corpus engineered for near-collisions: word-permuted and
    // one-word-edited variants of a few base sentences
    val base = Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs",
      "how vexingly quick daft zebras jump",
      "sphinx of black quartz judge my vow")
    val corpus = (0 until 80).map { i =>
      val b = base(i % base.length).split(" ")
      val rot = (b.drop(i % b.length) ++ b.take(i % b.length)).toSeq
      val edited = if (i % 3 == 0) rot.updated(0, s"w$i") else rot
      (i.toLong, edited.mkString(" "))
    }.toDF("doc_id", "text")
    val fp = graft.dedup.Dedup.simHash(corpus, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (k <- Seq(0, 3, 7)) {
      val expected = (for {
        a <- fp.keys; b <- fp.keys
        if a < b && java.lang.Long.bitCount(fp(a) ^ fp(b)) <= k
      } yield (a, b)).toSet
      val got = graft.dedup.Dedup
        .simHashPairs(corpus, "doc_id", "text", maxHamming = k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"k=$k: missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
      assert(expected.nonEmpty || k == 0, s"k=$k fixture produced no pairs")
    }
  }

  test("simHashPairs128 combinatorial banding is a COMPLETE cover: pair " +
    "set equals brute-force two-word popcount at maxHamming 1, 3, 4 and 7") {
    import spark.implicits._
    val base = Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs",
      "how vexingly quick daft zebras jump")
    val corpus = (0 until 80).map { i =>
      val b = base(i % base.length).split(" ")
      val rot = (b.drop(i % b.length) ++ b.take(i % b.length)).toSeq
      val edited = if (i % 3 == 0) rot.updated(0, s"w$i") else rot
      (i.toLong, edited.mkString(" "))
    }.toDF("doc_id", "text")
    val fp = corpus
      .select(col("doc_id"), graft.dedup.Dedup.simHash128Udf(col("text")).as("fp"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // k = 1 is the smallest legal k (m = 3 rounds up to 4), k = 4 needs
    // no rounding (m = 6, three chunks per word)
    for (k <- Seq(1, 3, 4, 7)) {
      val expected = (for {
        a <- fp.keys; b <- fp.keys
        if a < b &&
          java.lang.Long.bitCount(fp(a)(0) ^ fp(b)(0)) +
            java.lang.Long.bitCount(fp(a)(1) ^ fp(b)(1)) <= k
      } yield (a, b)).toSet
      val got = graft.dedup.Dedup
        .simHashPairs128(corpus, "doc_id", "text", maxHamming = k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"k=$k: missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    }
  }

  test("simhash folds Unicode CODEPOINTS, not UTF-16 units — exact on " +
    "supplementary-plane text (the DuckDB unicode() replay contract)") {
    // 𝕊𝕦𝕡 — three MATHEMATICAL DOUBLE-STRUCK codepoints, six UTF-16
    // units; a charAt fold would hash six surrogate halves instead.
    val tok = new String(Array(0x1d54a, 0x1d566, 0x1d561), 0, 3)
    assert(tok.length == 6 && tok.codePointCount(0, tok.length) == 3)
    val df = Seq((1L, tok)).toDF("doc_id", "text")
    def fnv(seed: Long, cs: Seq[Long]): Long =
      cs.foldLeft(seed)((h, c) => (h ^ c) * 0x100000001b3L)
    val cps = tok.codePoints().toArray.map(_.toLong).toSeq
    val units = tok.toCharArray.map(_.toLong).toSeq
    // single-token doc: every per-bit majority is ±1 of the token's
    // hash bit, so the fingerprint EQUALS the token hash — the test
    // pins the fold itself, not just collision behavior
    val fp64 = Dedup.simHash(df, "doc_id", "text").head().getLong(1)
    assert(fp64 == fnv(0xcbf29ce484222325L, cps))
    assert(fp64 != fnv(0xcbf29ce484222325L, units))
    val fp128 = df.select(Dedup.simHash128Udf(col("text"))).head().getSeq[Long](0)
    assert(fp128 == Seq(
      fnv(0xcbf29ce484222325L, cps), fnv(0x55c5e55dfb685f30L, cps)))
  }

  test("simHashPairs maxPerBucket cap: a generous cap changes nothing, a " +
    "tight cap only ever SUBTRACTS pairs") {
    import spark.implicits._
    val corpus = (0 until 60).map { i =>
      (i.toLong, s"alpha beta gamma delta w${i % 7} epsilon zeta")
    }.toDF("doc_id", "text")
    def pairs(cap: Option[Int]) = graft.dedup.Dedup
      .simHashPairs(corpus, "doc_id", "text", maxHamming = 7, maxPerBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(None)
    assert(pairs(Some(1000)) == exact)
    val capped = pairs(Some(3))
    assert(capped.subsetOf(exact))
  }

  test("containmentPairsAgainst equals the batch containment join " +
    "restricted to the new×history cross") {
    import spark.implicits._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val newSide = d.filter(col("doc_id") % 3L === 0L)
    val histSide = d.filter(col("doc_id") % 3L =!= 0L)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val inc = graft.dedup.Dedup
      .containmentPairsAgainst(newSide, histSide, "doc_id", "text",
        n = 3, minContainment = 0.8, maxDf = Long.MaxValue)
      .collect().map(key).toSet
    // batch face over the union, filtered to the cross — the pair sets
    // must coincide (both are the exact asymmetric predicate)
    val batch = graft.dedup.Dedup
      .containmentPairs(d, "doc_id", "text",
        n = 3, minContainment = 0.8, maxDf = Long.MaxValue)
      .filter(col("a") % 3L === 0L && col("b") % 3L =!= 0L)
      .collect().map(key).toSet
    assert(inc == batch)
    assert(inc.nonEmpty) // fixture sanity: the cross face has hits
    // finite maxDf still runs and only ever subtracts pairs
    val capped = graft.dedup.Dedup
      .containmentPairsAgainst(newSide, histSide, "doc_id", "text",
        n = 3, minContainment = 0.8, maxDf = 50L)
      .collect().map(key).toSet
    assert(capped.subsetOf(inc))
  }

  test("hammingPairs64 with a cap bounds exact-duplicate groups to a " +
    "linear star that preserves connected components") {
    import spark.implicits._
    // one print repeated 10x (the adversarial pileup), plus a 2-doc
    // group at hamming-1 from it, plus an isolated far print
    val fps = (0L until 10L).map(i => (i, 0x5555555555550000L)) ++
      Seq((20L, 0x5555555555550001L), (21L, 0x5555555555550001L),
        (30L, 0x00000000ffffffffL))
    val df = fps.toDF("id", "fp")
    def run(cap: Option[Int]) = graft.dedup.Dedup
      .hammingPairs64(df, "id", "fp", maxHamming = 3, maxPerBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = run(None)
    // exact: 45 clique pairs + 1 small-group pair + 10*2 cross pairs
    assert(exact.size == 45 + 1 + 20)
    val capped = run(Some(4))
    // the 10-doc group exceeds the cap -> 9 star pairs from rep id=0;
    // the 2-doc group is under it -> keeps its clique pair; cross
    // pairs between the two distinct prints are cap-unaffected here
    assert(capped == (0L until 10L).drop(1).map(i => (0L, i)).toSet ++
      Set((20L, 21L)) ++
      (for { a <- 0L until 10L; b <- Seq(20L, 21L) } yield (a, b)).toSet)
    // connected components are IDENTICAL under the capped star
    def comps(pairs: Set[(Long, Long)]) = graft.dedup.Dedup
      .clusterize(pairs.toSeq.toDF("a", "b"), "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(comps(capped) == comps(exact))
  }

  test("simHashPairs auto-escalates above the corpus threshold: capped " +
    "posture is a subset of exact, generous auto-cap changes nothing, " +
    "Int.MaxValue forces the exact cover") {
    import spark.implicits._
    val corpus = (0 until 60).map { i =>
      (i.toLong, s"alpha beta gamma delta w${i % 7} epsilon zeta")
    }.toDF("doc_id", "text")
    def pairs(cap: Option[Int], autoDocs: Long, autoCap: Int) = graft.dedup.Dedup
      .simHashPairs(corpus, "doc_id", "text", maxHamming = 7,
        maxPerBucket = cap, autoCapDocs = autoDocs, autoCap = autoCap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(None, 1000000L, 512) // 60 docs < threshold: exact
    // threshold crossed with a generous cap: identical pair set
    assert(pairs(None, 10L, 1000) == exact)
    // threshold crossed with a tight cap: only ever SUBTRACTS pairs
    assert(pairs(None, 10L, 2).subsetOf(exact))
    // the explicit exact-cover escape hatch ignores the threshold
    assert(pairs(Some(Int.MaxValue), 10L, 2) == exact)
  }

  test("hammingPairs64 emits the driver-side brute-force pair set at " +
    "maxHamming 5; capped output is a subset") {
    import spark.implicits._
    // adversarial spread: clustered near-dups + random far prints
    val rnd = new scala.util.Random(7)
    val bases = Seq.fill(6)(rnd.nextLong())
    val prints = (0 until 90).map { i =>
      val b = bases(i % bases.length)
      // flip up to 5 bits deterministically
      val flipped = (0 until (i % 6)).foldLeft(b)((acc, j) =>
        acc ^ (1L << ((i * 11 + j * 7) % 64)))
      (i.toLong, flipped)
    }
    val fps = prints.toDF("id", "fp")
    def run(cap: Option[Int]) = graft.dedup.Dedup
      .hammingPairs64(fps, "id", "fp", maxHamming = 5, maxPerBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = (for {
      (a, fa) <- prints; (b, fb) <- prints
      h = java.lang.Long.bitCount(fa ^ fb).toLong
      if a < b && h <= 5
    } yield (a, b, h)).toSet
    val exact = run(None)
    assert(exact == expected,
      s"missing=${(expected -- exact).take(3)} extra=${(exact -- expected).take(3)}")
    assert(exact.nonEmpty)
    // capped: a subset of exact (recall bounded, never wrong)
    assert(run(Some(2)).subsetOf(exact))
  }

  test("algebraic invariants: dedup partitions rows, jaccard bounded, simhash reflexive") {
    // exact dedup partitions the corpus: copies sum to row count
    val total = docs.count()
    val copies = Dedup.exact(docs, "doc_id", "text")
      .agg(sum("n_copies")).head().getLong(0)
    assert(copies == total)
    // jaccard in (0,1], pairs canonical a<b
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.01).collect()
    pairs.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0)
      assert(r.getAs[Long]("a") < r.getAs[Long]("b"))
    }
    // identical docs have jaccard exactly 1
    val dup = pairs.find(r => r.getAs[Long]("a") == 1L && r.getAs[Long]("b") == 3L).get
    assert(dup.getAs[Double]("jaccard") == 1.0)
  }

  test("connectedComponents: chain, triangle, and pair resolve to min labels") {
    // chain 1-2-3-4, triangle 10-11-12, pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("a", "b")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comps(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comps(_) == 10L))
    assert(Seq(20L, 21L).forall(comps(_) == 20L))
    // distributed label-propagation path must agree with union-find
    val dist = Dedup.connectedComponents(pairs, localThreshold = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == comps)
  }

  test("connectedComponents: string ids survive both paths identically") {
    // non-numeric ids would be nulled by a long cast — both paths must
    // keep the original type and agree (components labeled by min id,
    // lexicographic for strings)
    val pairs = Seq(("doc-b", "doc-a"), ("doc-b", "doc-c"), ("x9", "x2"))
      .toDF("a", "b")
    val local = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local == Map(
      "doc-a" -> "doc-a", "doc-b" -> "doc-a", "doc-c" -> "doc-a",
      "x2" -> "x2", "x9" -> "x2"))
    val dist = Dedup.connectedComponents(pairs, localThreshold = 0L).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist == local)
  }

  test("jaccardClusters works on string ids end to end") {
    val sdocs = docs.withColumn("doc_id", concat(lit("d"), $"doc_id"))
    val cl = Dedup.jaccardClusters(sdocs, "doc_id", "text", n = 3, minJaccard = 0.5)
      .collect()
    val cluster = cl.filter(_.getAs[String]("component") == "d1")
    assert(cluster.map(_.getAs[String]("doc_id")).toSet == Set("d1", "d2", "d3"))
    assert(cluster.count(_.getAs[Boolean]("is_canonical")) == 1)
  }

  test("jaccardClusters marks one canonical per cluster") {
    val cl = Dedup.jaccardClusters(docs, "doc_id", "text", n = 3, minJaccard = 0.5)
      .collect()
    // docs 1,2,3 cluster together (dup + near-dup); 4,5 are not in pairs
    val cluster = cl.filter(_.getAs[Long]("component") == 1L)
    assert(cluster.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 3L))
    assert(cluster.count(_.getAs[Boolean]("is_canonical")) == 1)
    assert(cluster.forall(_.getAs[Long]("cluster_size") == 3L))
  }

  test("rollingHash/winnow deterministic and position-shift stable") {
    val h1 = TextAnalysis.rollingHash("hello world")
    assert(h1 == TextAnalysis.rollingHash("hello world"))
    assert(h1 != TextAnalysis.rollingHash("hello worle"))
    val w1 = TextAnalysis.winnow("abcdefghijklmnopqrstuvwxyz")
    val w2 = TextAnalysis.winnow("XXXabcdefghijklmnopqrstuvwxyz")
    // winnowing guarantees shared fingerprints for long shared substrings
    assert(w1.toSet.intersect(w2.toSet).nonEmpty)
  }

  test("winnow gram hashing: ASCII fast path and non-ASCII fallback agree " +
    "with per-gram substring md5 (multi-byte chars, unpaired surrogates)") {
    // the r15 gram hasher slices a shared UTF-8 buffer for pure-ASCII
    // text; any non-ASCII char must route through the substring encode
    // — pin both paths against an explicit per-gram reference
    def reference(text: String, k: Int): Seq[Long] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 to text.length - k).map { i =>
        md.reset()
        val d = md.digest(text.substring(i, i + k).getBytes("UTF-8"))
        var l = 0L
        var b = 7
        while (b >= 0) { l = (l << 8) | (d(b) & 0xffL); b -= 1 }
        l
      }
    }
    val k = 4; val w = 2
    val cases = Seq(
      "plain ascii text only here",       // fast path
      "café au lait brûlée", // 2-byte UTF-8 chars
      "emoji 😀 pair",           // proper surrogate pair
      "bad \ud800 lone high surrogate",    // unpaired — getBytes replaces
      "mixed ascii then 世界 end"  // 3-byte CJK
    )
    for (text <- cases) {
      val got = spark.createDataset(Seq(text))(org.apache.spark.sql.Encoders.STRING)
        .toDF("text")
        .select(TextAnalysis.winnowLongUdf(k, w)($"text").as("fp"))
        .collect()(0).getSeq[Long](0)
      // winnowLongUdf selects window minima of the reference hashes
      // (unsigned order) — recompute the selection from the reference
      val hs = reference(text, k)
      val sel = new java.util.LinkedHashSet[java.lang.Long]()
      for (st <- 0 to hs.length - w) {
        var best = hs(st)
        for (j <- st + 1 until st + w)
          if (java.lang.Long.compareUnsigned(hs(j), best) < 0) best = hs(j)
        sel.add(best)
      }
      assert(got.toSeq == sel.toArray(new Array[java.lang.Long](0)).toSeq.map(_.longValue),
        s"gram-hash divergence on: $text")
    }
  }

  test("langId picks the dominant stopword profile") {
    val d = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "le chat et les chiens du jardin"),
      (3L, "der hund und die katze von zu hause"),
      (4L, "no stop words whatsoever xyzzy"),
      (5L, "你好世界 hello")
    ).toDF("doc_id", "text")
    val got = d.withColumn("l", TextAnalysis.langId($"text"))
      .orderBy("doc_id").select("l").as[String].collect().toSeq
    assert(got == Seq("en", "fr", "de", "und", "zh"))
  }

  test("cosineExactPairs agrees with the exact cosine") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.6f, 0.8f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Ann
      .cosineExactPairs(e, "vec_id", "embedding", minCos = -1.0)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    // float32 inputs → ~1e-8 representation error is expected
    assert(math.abs(got((1L, 2L)) - 0.6) < 1e-6)
    assert(math.abs(got((1L, 3L))) < 1e-6)
  }

  test("topKExact ranks by cosine") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(0.7f, 0.3f))
    ).toDF("id", "embedding")
    val probes = e.filter($"id" === 1L).withColumnRenamed("id", "probe_id")
    val cands = e.withColumnRenamed("id", "cand_id")
    val got = Ann
      .topKExact(probes, cands, "probe_id", "cand_id", "embedding", 2)
      .orderBy("rank")
      .select("cand_id")
      .as[Long]
      .collect()
      .toSeq
    assert(got == Seq(2L, 4L))
  }

  test("bloomAntiJoin equals the plain anti-join, false positives included") {
    val hist = (1L to 60L).filter(_ % 3 == 0)
      .map(i => (s"key_$i", i)).toDF("k", "histv").select("k")
    val fresh = (1L to 120L).map(i => (i, s"key_$i")).toDF("id", "k")
    val expect = fresh.join(hist, Seq("k"), "left_anti")
      .select("id").as[Long].collect().sorted.toSeq
    // fpp 0.5 + tiny capacity forces real false positives through the
    // verify join; the output must still be the exact anti-join
    val got = Dedup.bloomAntiJoin(fresh, hist, "k", expectedItems = 10L, fpp = 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == expect)
    assert(got.forall(i => i % 3 != 0 || i > 60L))
  }

  test("bloomAntiJoin with an EMPTY history admits everything (cold start)") {
    // the first run of any resume loop has no manifest yet;
    // stat.bloomFilter over zero rows NPEs, so the identity
    // short-circuit is load-bearing, not an optimization
    val fresh = (1L to 20L).map(i => (i, s"key_$i")).toDF("id", "k")
    val hist = fresh.limit(0).select("k")
    val got = Dedup.bloomAntiJoin(fresh, hist, "k")
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == (1L to 20L).toSeq)
  }

  test("bloomAntiJoin filters LONG keys (build/probe hash the same representation)") {
    // regression: the filter was built over longs but probed as
    // strings — never hit, so every HISTORY row leaked through as
    // "definitely novel"
    val hist = (1L to 60L).filter(_ % 3 == 0).toDF("id")
    val fresh = (1L to 120L).toDF("id")
    val got = Dedup.bloomAntiJoin(fresh, hist, "id", expectedItems = 10L, fpp = 0.5)
      .as[Long].collect().sorted.toSeq
    val expect = (1L to 120L).filterNot(i => i <= 60L && i % 3 == 0).toSeq
    assert(got == expect)
    // and a non-string, non-integral key falls back to the string cast
    val histD = Seq(Tuple1(java.sql.Date.valueOf("2026-01-03"))).toDF("d")
    val freshD = Seq(
      Tuple1(java.sql.Date.valueOf("2026-01-03")),
      Tuple1(java.sql.Date.valueOf("2026-01-04"))).toDF("d")
    val gotD = Dedup.bloomAntiJoin(freshD, histD, "d", 10L, 0.5).collect()
    assert(gotD.map(_.getDate(0).toString).toSeq == Seq("2026-01-04"))
  }

  // ---- exact substring dedup (Lee et al. '22 ExactSubstr shape) ----

  /** Brute-force reference: group every L-char window by its TEXT
    * (no hashing), keep the (doc, pos)-minimal occurrence, merge the
    * other occurrences' positions into spans (gap > L breaks), cut.
    */
  private def refSubstringDedup(
      corpus: Seq[(Long, String)], l: Int): Map[Long, String] = {
    val occ = for {
      (id, t) <- corpus
      p <- 0 to t.length - l
    } yield (t.substring(p, p + l), id, p)
    val canon = occ.groupBy(_._1).map { case (w, os) =>
      w -> os.minBy(o => (o._2, o._3))
    }
    val dupPos = occ
      .filter(o => canon(o._1) != o)
      .groupBy(_._2)
      .map { case (id, os) => id -> os.map(_._3).sorted }
    corpus.map { case (id, t) =>
      id -> dupPos.get(id).fold(t) { ps =>
        val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        var s = ps.head
        var prev = ps.head
        for (p <- ps.tail) {
          if (p - prev > l) { spans += ((s, prev + l)); s = p }
          prev = p
        }
        spans += ((s, prev + l))
        val sb = new StringBuilder
        var at = 0
        for ((a, b) <- spans) { sb.append(t.substring(at, a)); at = b }
        sb.append(t.substring(at)).toString
      }
    }.toMap
  }

  test("substring dedup: canonical kept, later copies cut, exact dup emptied") {
    val shared = "alpha beta gamma delta epsilon zeta"
    val corpus = Seq(
      (1L, s"unique one $shared tail one"),
      (2L, s"prefix two $shared other tail"),
      (3L, "totally distinct text with no repeats at all"),
      (4L, "totally distinct text with no repeats at all"),
      (5L, "tiny")
    )
    val out = Dedup
      .substringDedup(corpus.toDF("doc_id", "text"), "doc_id", "text", l = 20)
      .orderBy("doc_id")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(5)))
      .toMap
    assert(out(1L)._2 == corpus.head._2)           // canonical: untouched
    assert(out(1L)._1 == 0L)
    assert(out(2L)._1 == 1L)                       // one merged span
    assert(!out(2L)._2.contains("gamma delta"))    // shared run removed
    assert(out(3L)._2 == corpus(2)._2)             // canonical exact copy
    assert(out(4L)._2.isEmpty)                     // full-dup doc → empty
    assert(out(5L)._2 == "tiny")                   // shorter than L → kept
    val expect = refSubstringDedup(corpus, 20)
    corpus.foreach { case (id, _) => assert(out(id)._2 == expect(id)) }
  }

  test("substring dedup matches brute-force reference on a repetitive corpus") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("spark", "data", "dedup", "corpus", "window", "hash")
    def sentence() =
      (1 to (5 + rnd.nextInt(20))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val phrases = Vector.fill(4)(sentence())
    val corpus = (1L to 25L).map { id =>
      val parts = (1 to (1 + rnd.nextInt(4))).map { _ =>
        if (rnd.nextBoolean()) phrases(rnd.nextInt(phrases.size)) else sentence()
      }
      (id, parts.mkString(" "))
    }
    val expect = refSubstringDedup(corpus, 20)
    val got = Dedup
      .substringDedup(corpus.toDF("doc_id", "text"), "doc_id", "text", l = 20)
      .collect()
      .map(r => r.getLong(0) -> r.getString(5))
      .toMap
    corpus.foreach { case (id, _) => assert(got(id) == expect(id)) }
    // integrity columns are consistent with the text
    val rows = Dedup
      .substringDedup(corpus.toDF("doc_id", "text"), "doc_id", "text", l = 20)
      .collect()
    rows.foreach { r =>
      assert(r.getLong(3) == r.getString(5).length.toLong)           // clean_len
      assert(r.getLong(2) ==
        corpus.find(_._1 == r.getLong(0)).get._2.length - r.getLong(3)) // removed
    }
  }

  test("windowDedup keeps first corpus-wide occurrence, reassembles in order") {
    // 2-word windows: doc 1 = [a b][c d], doc 2 = [a b][x y],
    // doc 3 = [c d][a b] (both windows seen before), doc 4 unique
    val corpus = Seq(
      (1L, "a b c d"),
      (2L, "a b x y"),
      (3L, "c d a b"),
      (4L, "p q r")
    ).toDF("doc_id", "text")
    val out = Dedup
      .windowDedup(corpus, "doc_id", "text", wordsPerPara = 2)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((1L, "a b c d", 2L, 0L))) // first occurrences all kept
    assert(out(1) == ((2L, "x y", 1L, 1L)))     // "a b" seen in doc 1
    assert(out(2) == ((3L, "", 0L, 2L)))        // every para seen before
    assert(out(3) == ((4L, "p q r", 2L, 0L)))   // "p q" + "r" both unique
  }

  test("boilerplateRemove drops EVERY occurrence of a frequent line, keeps rare ones") {
    // footer appears in all 4 docs (df=4 >= maxDf=3): dropped
    // everywhere INCLUDING doc 1 — the contrast with paragraphDedup's
    // keep-first rule. "rare line" df=2 < 3: kept in both docs.
    val corpus = Seq(
      (1L, "unique lead one\nthe footer\nrare line"),
      (2L, "unique lead two\nthe footer\nrare line"),
      (3L, "unique lead three\n  the footer  "), // trim-variant counts as same line
      (4L, "the footer"), // pure boilerplate: survives empty
      (5L, null: String)
    ).toDF("doc_id", "text")
    val out = Dedup
      .boilerplateRemove(corpus, "doc_id", "text", maxDf = 3L)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((1L, "unique lead one\nrare line", 2L, 1L)))
    assert(out(1) == ((2L, "unique lead two\nrare line", 2L, 1L)))
    assert(out(2) == ((3L, "unique lead three", 1L, 1L)))
    assert(out(3) == ((4L, "", 0L, 1L))) // auditable, not vanished
    assert(out(4) == ((5L, "", 0L, 0L))) // null text: zero lines
    // paragraphDedup on the same corpus KEEPS the footer's first
    // occurrence — the two rules are genuinely different operators
    val pd = Dedup.paragraphDedup(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(pd(0).getString(1).contains("the footer"))
  }

  test("boilerplateRemove df counts distinct docs, not occurrences") {
    // doc 1 repeats its own header 3 times; corpus df for it is 2
    // (docs 1 and 2) < maxDf=3, so the repeats all survive
    val corpus = Seq(
      (1L, "hdr\nhdr\nhdr\nbody one"),
      (2L, "hdr\nbody two"),
      (3L, "body three")
    ).toDF("doc_id", "text")
    val out = Dedup
      .boilerplateRemove(corpus, "doc_id", "text", maxDf = 3L)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((1L, "hdr\nhdr\nhdr\nbody one", 4L, 0L)))
    assert(out(1) == ((2L, "hdr\nbody two", 2L, 0L)))
  }

  test("editDistancePairs finds pairs across length buckets, exactly once") {
    // maxDist=3 → buckets of width 3: "abcd" (len 4, b1) vs "abcde"
    // (len 5, b1) same bucket; "abc" (len 3, b1) vs "ab" (len 2, b0)
    // adjacent buckets — both must appear exactly once
    val corpus = Seq(
      (1L, "abcd"), (2L, "abcde"), (3L, "ab"), (4L, "abc"),
      (5L, "zzzzzzzzzzzzzzzz") // far from everything
    ).toDF("doc_id", "text")
    val out = Dedup
      .editDistancePairs(corpus, "doc_id", "text", maxDist = 3)
      .orderBy("id_a", "id_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, 2L, 1L), (1L, 3L, 2L), (1L, 4L, 1L),
      (2L, 3L, 3L), (2L, 4L, 2L), (3L, 4L, 1L)))
  }

  test("editDistancePairs excludes pairs beyond maxDist even in-bucket") {
    val corpus = Seq((1L, "aaaa"), (2L, "bbbb")).toDF("doc_id", "text") // dist 4
    assert(Dedup.editDistancePairs(corpus, "doc_id", "text", maxDist = 3).count() == 0L)
  }

  test("clusterRepresentatives keeps best score per cluster, singletons self-represent") {
    val clusters = Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), // one cluster of 3
      (4L, 4L, 2L), (5L, 4L, 2L)                // one cluster of 2
    ).toDF("doc_id", "component", "cluster_size")
    val scored = Seq(
      (1L, 10L), (2L, 99L), (3L, 99L), // tie at 99 → min id 2 wins
      (4L, 5L), (5L, 50L),
      (6L, 1L) // not in any cluster → singleton representative
    ).toDF("doc_id", "n_tok")
    val out = Dedup
      .clusterRepresentatives(clusters, scored, "doc_id", "n_tok")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getAs[Long]("component"),
        r.getAs[Long]("cluster_size"), r.getAs[Boolean]("is_representative")))
    assert(out.toSeq == Seq(
      (1L, 1L, 3L, false),
      (2L, 1L, 3L, true),  // highest score, min id on tie
      (3L, 1L, 3L, false),
      (4L, 4L, 2L, false),
      (5L, 4L, 2L, true),  // 50 > 5
      (6L, 6L, 1L, true))) // singleton: own component, size 1
  }

  test("windowDedup within-doc repeat keeps only the earliest index") {
    val corpus = Seq((7L, "a b a b a b")).toDF("doc_id", "text")
    val out = Dedup
      .windowDedup(corpus, "doc_id", "text", wordsPerPara = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((7L, "a b", 1L, 2L)))
  }

  test("incremental minhash composes: cross + batch-internal == full pairs touching the batch") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val batch = d.filter(col("doc_id") % 3L === 0L)
    val hist = d.filter(col("doc_id") % 3L =!= 0L)
    def norm(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      (math.min(a, b), math.max(a, b), r.getDouble(2))
    }.toSet
    val cross = norm(Dedup
      .minHashLshPairsAgainst(batch, hist, "doc_id", "text", minJaccard = 0.12)
      .collect())
    val internal = norm(Dedup
      .minHashLshPairs(batch, "doc_id", "text", minJaccard = 0.12).collect())
    val fullTouching = norm(Dedup
      .minHashLshPairs(d, "doc_id", "text", minJaccard = 0.12).collect())
      .filter { case (a, b, _) => a % 3 == 0 || b % 3 == 0 }
    assert(cross.nonEmpty)
    assert((cross ++ internal) == fullTouching,
      s"cross=${cross.size} internal=${internal.size} full=${fullTouching.size}")
  }

  test("hammingPairsAgainst64 composes: cross + batch-internal == full pairs touching the batch") {
    import spark.implicits._
    // deterministic fingerprints with planted near-pairs across and
    // within the %3 split: base patterns plus low-bit jitters
    val fps = (0L until 60L).map { id =>
      val base = (id / 6L) * 0x9E3779B97F4A7C15L
      (id, base ^ (id % 6L match {
        case 0 => 0L
        case 1 => 1L          // 1 bit from variant 0
        case 2 => 3L          // 2 bits
        case 3 => 7L          // 3 bits
        case 4 => 0xF0L       // 4 bits
        case _ => 0xFF00FF00L // far: 16 bits
      }))
    }.toDF("id", "fp")
    val batch = fps.filter(col("id") % 3L === 0L)
    val hist = fps.filter(col("id") % 3L =!= 0L)
    def norm(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      (math.min(a, b), math.max(a, b), r.getLong(2))
    }.toSet
    val cross = norm(Dedup
      .hammingPairsAgainst64(batch, hist, "id", "fp", maxHamming = 5)
      .collect())
    val internal = norm(Dedup
      .hammingPairs64(batch, "id", "fp", maxHamming = 5).collect())
    val fullTouching = norm(Dedup
      .hammingPairs64(fps, "id", "fp", maxHamming = 5).collect())
      .filter { case (a, b, _) => a % 3 == 0 || b % 3 == 0 }
    assert(cross.nonEmpty && internal.nonEmpty)
    assert((cross ++ internal) == fullTouching,
      s"cross=${cross.size} internal=${internal.size} full=${fullTouching.size}")
    // the cross face never emits a history-internal pair
    assert(cross.forall { case (a, b, _) => a % 3 == 0 || b % 3 == 0 })
  }

  test("hammingPairsAgainst64: the collapsed and the uncollapsed cover both " +
    "equal the brute-force new x history predicate") {
    import spark.implicits._
    // a re-delivered doc (id 3 on both sides) sharing its print with
    // other docs on both sides, plus a 2-bit neighbour in the history
    val p = 0x0123456789ABCDEFL
    val newCore = Seq((3L, p), (5L, p))
    val histCore = Seq((3L, p), (4L, p), (6L, p ^ 5L))
    // far, distinct prints: past half the docs distinct, the cover
    // runs on the docs themselves instead of their distinct prints
    val rnd = new scala.util.Random(7)
    def pad(from: Long) = (0L until 12L).map(i => (from + i, rnd.nextLong()))
    def brute(nw: Seq[(Long, Long)], hs: Seq[(Long, Long)]) = (for {
      (a, x) <- nw
      (b, y) <- hs
      h = java.lang.Long.bitCount(x ^ y).toLong
      if h <= 3L
    } yield (a, b, h)).toSet
    val cases = Seq(
      "collapsed" -> (newCore, histCore),
      "uncollapsed" -> (newCore ++ pad(100L), histCore ++ pad(200L)))
    for ((label, (nw, hs)) <- cases) {
      val got = Dedup
        .hammingPairsAgainst64(nw.toDF("id", "fp"), hs.toDF("id", "fp"), "id", "fp",
          maxHamming = 3)
        .select("new_id", "hist_id", "hamming").as[(Long, Long, Long)].collect().toSet
      assert(got == brute(nw, hs), s"$label: got $got")
    }
    assert(brute(newCore, histCore).size == 6)
  }

  test("exactNormalized collapses reformatted copies, keeps real edits") {
    val corpus = Seq(
      (1L, "Hello, World! This is fine."),
      (2L, "  hello world THIS IS FINE  "),   // same after normalization
      (3L, "hello world this is different")   // a real edit
    ).toDF("doc_id", "text")
    val out = Dedup.exactNormalized(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("doc_id") == 1L && out(0).getAs[Long]("n_copies") == 2L)
    assert(out(1).getAs[Long]("doc_id") == 3L && out(1).getAs[Long]("n_copies") == 1L)
    // raw exact keeps all three distinct
    assert(Dedup.exact(corpus, "doc_id", "text").count() == 3L)
    // whitespace normalizer: control chars out, runs collapsed, trimmed
    val norm = corpus.sparkSession.range(1)
      .select(TextAnalysis.normalizeWhitespace(
        org.apache.spark.sql.functions.lit("a\tb\u0000c   d ")).as("t"))
      .head().getString(0)
    assert(norm == "a b c d")
  }

  test("exactNormalized keeps non-Latin scripts; pure-punct docs never collapse") {
    val corpus = Seq(
      (1L, "Привет, мир!"),        // ru with ASCII punctuation
      (2L, "  привет мир  "),      // same content reformatted → collapses with 1
      (3L, "你好世界"),             // zh — must NOT normalize to ''
      (4L, "!!! ???"),             // pure ASCII punctuation → normalizes to ''
      (5L, "... ---")              // also '' — but shares no content with 4
    ).toDF("doc_id", "text")
    val out = Dedup.exactNormalized(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    // 1&2 collapse; 3 survives with its characters; 4 and 5 stay DISTINCT
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 3L, 4L, 5L))
    assert(out.head.getAs[Long]("n_copies") == 2L)
    assert(out.count(_.getAs[String]("content_key").startsWith("empty:")) == 2)
  }

  test("exactNormalized: null-text docs never collapse into one group") {
    val corpus = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, null),
        org.apache.spark.sql.Row(2L, null),
        org.apache.spark.sql.Row(3L, "real content")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "text", org.apache.spark.sql.types.StringType))))
    val out = Dedup.exactNormalized(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    // without the null guard md5(null)=null groups 1 and 2 together
    // and doc 2 is silently discarded as a "duplicate" of unrelated 1
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L, 3L))
    assert(out.forall(_.getAs[Long]("n_copies") == 1L))
    assert(out.count(_.getAs[String]("content_key").startsWith("empty:")) == 2)
  }

  test("paragraphDedup splits on newlines, trims, drops blank lines") {
    val corpus = Seq(
      (1L, "alpha beta\n\n  shared footer  \ngamma"),
      (2L, "delta\nshared footer\nepsilon zeta")
    ).toDF("doc_id", "text")
    val out = Dedup
      .paragraphDedup(corpus, "doc_id", "text")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // doc 1: 3 non-blank paragraphs, all first occurrences (trimmed)
    assert(out(0) == ((1L, "alpha beta\nshared footer\ngamma", 3L, 0L)))
    // doc 2: "shared footer" already seen (trim-normalized match)
    assert(out(1) == ((2L, "delta\nepsilon zeta", 2L, 1L)))
  }

  test("paragraphDedup catches a duplicate paragraph shifted by an insertion") {
    // doc 2 repeats doc 1's license paragraph but an extra intro line
    // shifts it down — fixed word windows would misalign and miss it;
    // newline paragraphs catch it regardless of position
    val licensePara = "this content is licensed under creative commons"
    val corpus = Seq(
      (1L, s"original prose here\n$licensePara"),
      (2L, s"brand new intro line\nwith a second line\n$licensePara\nmore prose")
    ).toDF("doc_id", "text")
    val out = Dedup
      .paragraphDedup(corpus, "doc_id", "text")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((1L, s"original prose here\n$licensePara", 2L, 0L)))
    // the shifted duplicate is dropped from doc 2
    assert(out(1) == ((2L,
      "brand new intro line\nwith a second line\nmore prose", 3L, 1L)))

    // contrast: fixed windows miss a duplicate region shifted by one
    // word (misaligned windows never reproduce the same digest)
    val flat = Seq(
      (10L, "p q r s t u v w"),
      (11L, "x p q r s t u v w")
    ).toDF("doc_id", "text")
    val windowed = Dedup
      .windowDedup(flat, "doc_id", "text", wordsPerPara = 4)
      .filter(col("doc_id") === 11L)
      .collect()
    assert(windowed.head.getAs[Long]("n_dropped") == 0L)
  }

  test("containment join finds the asymmetric quoted-paragraph pair Jaccard misses") {
    val quoted = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 60).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, quoted),                    // the short original
      (2L, s"$filler $quoted"),        // wrapped in 60 unrelated tokens
      (3L, "totally unrelated words about engines and planes today")
    ).toDF("doc_id", "text")

    val pairs = Dedup
      .containmentPairs(corpus, "doc_id", "text", n = 3,
        minContainment = 0.8, maxDf = Long.MaxValue)
      .orderBy("a", "b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))

    // doc 1 has 6 distinct 3-shingles, ALL present in doc 2 → C(1→2)=1.0
    assert(pairs.exists { case (a, b, nc, na, _, c) =>
      a == 1L && b == 2L && nc == 6L && na == 6L && c == 1.0 })
    // the reverse direction fails the threshold (6/66 shingles)
    assert(!pairs.exists(p => p._1 == 2L && p._2 == 1L))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))

    // the symmetric face confirms WHY this operator exists: the same
    // pair's Jaccard is 6/66 — invisible to any dedup-regime threshold
    val j = Dedup
      .ngramJaccardPairs(corpus, "doc_id", "text", n = 3, minJaccard = 0.05)
      .filter(col("a") === 1L && col("b") === 2L)
      .collect()
    assert(j.nonEmpty && j.head.getAs[Double]("jaccard") < 0.1)

    // mutual containment emits both directions
    val twins = Seq(
      (7L, "one two three four five six"),
      (8L, "one two three four five six")
    ).toDF("doc_id", "text")
    val both = Dedup
      .containmentPairs(twins, "doc_id", "text", n = 3,
        minContainment = 0.8, maxDf = Long.MaxValue)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(both == Set((7L, 8L), (8L, 7L)))

    // maxDf caps hot postings on the INDEX side: with every shingle of
    // the pair above the cap, no candidates survive (bounded-recall
    // posture, documented)
    val capped = Dedup
      .containmentPairs(twins, "doc_id", "text", n = 3,
        minContainment = 0.8, maxDf = 1L)
      .count()
    assert(capped == 0L)
  }

  test("containmentDedup drops the contained copy, keeps the wrapper and bystanders") {
    val quoted = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 60).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, quoted),                 // contained in 2 → dropped
      (2L, s"$filler $quoted"),     // the larger wrapper → survives
      (3L, "totally unrelated words about engines and planes today"),
      (4L, "too short"),            // no shingles → passes through
      (7L, "one two three four five six"),  // mutual pair: min id kept
      (8L, "one two three four five six")
    ).toDF("doc_id", "text")
    val kept = Dedup
      .containmentDedup(corpus, "doc_id", "text", n = 3,
        minContainment = 0.8, maxDf = Long.MaxValue)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L, 7L))
  }

  // ------------------------------------------------------------------

  private def spansOf(corpus: Seq[(Long, String)], w: Int) =
    Dedup.removeDuplicateSpans(corpus.toDF("doc_id", "text"),
        "doc_id", "text", windowTokens = w)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap

  test("removeDuplicateSpans: cross-doc span removed past its first " +
    "occurrence; overlapping windows merge to the maximal span") {
    val out = spansOf(Seq(
      (1L, "a b c d e f"),          // every window first-seen → intact
      (2L, "x y a b c d e z w"),    // shares the 5-token span a..e
      (5L, "k l")                   // shorter than the window → intact
    ), w = 3)
    assert(out(1L) == (("a b c d e f", 6L, 0L)))
    // dup windows at pos 2,3,4 cover tokens 2..6 — one maximal span
    assert(out(2L) == (("x y z w", 9L, 5L)))
    assert(out(5L) == (("k l", 2L, 0L)))
  }

  test("removeDuplicateSpans: within-doc repetition loses its second " +
    "occurrence; an exact-duplicate doc is scrubbed to empty") {
    val out = spansOf(Seq(
      (1L, "a b c d e f"),
      (3L, "p q r s p q r s"),      // self-repeat: second half covered
      (4L, "a b c d e f")           // exact dup of doc 1 → emptied
    ), w = 3)
    assert(out(3L) == (("p q r s", 8L, 4L)))
    assert(out(4L) == (("", 6L, 6L)))
    assert(out(1L) == (("a b c d e f", 6L, 0L)))
  }

  test("removeDuplicateSpans: border fragments below the window size " +
    "survive (the documented ExactSubstr edge)") {
    val out = spansOf(Seq(
      (1L, "a b c d e f"),
      (6L, "m n a b c d q")         // only windows (a b c),(b c d) dup
    ), w = 3)
    // covered tokens 2..5 — 'm n' and the trailing fragment 'q' stay
    assert(out(6L) == (("m n q", 7L, 4L)))
  }

  test("removeDuplicateSpans: NULL text passes through as NULL on all " +
    "three output columns (null in, null out — ADVICE r13)") {
    val out = Dedup.removeDuplicateSpans(Seq(
        (1L, "a b c d e f"),
        (2L, null.asInstanceOf[String]),
        (3L, "a b c d e f")           // exact dup of 1 → emptied
      ).toDF("doc_id", "text"), "doc_id", "text", windowTokens = 3)
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == "a b c d e f")
    assert(out(1).isNullAt(1) && out(1).isNullAt(2) && out(1).isNullAt(3))
    assert(out(2) .getString(1) == "" && out(2).getLong(3) == 6L)
    // the incremental path shares rebuildAt — same passthrough
    val inc = Dedup.removeDuplicateSpansAgainst(
        Seq((10L, null.asInstanceOf[String])).toDF("doc_id", "text"),
        Seq((1L, "a b c")).toDF("doc_id", "text"),
        "doc_id", "text", windowTokens = 3)
      .collect()
    assert(inc.length == 1 && inc(0).isNullAt(1) && inc(0).isNullAt(2)
      && inc(0).isNullAt(3))
  }

  test("removeDuplicateSpans: two-phase min(struct) rank equals the " +
    "row_number window formulation on a hot-window corpus (the " +
    "de-skew rewrite is drop-set-identical — VERDICT r13 #2)") {
    // one boilerplate window in ~30% of docs (the hot key the old
    // plan sorted in ONE reducer), plus per-doc unique tails and a
    // few cross-doc shared spans at other alignments
    val corpus = (0L until 300L).map { i =>
      val boiler = if (i % 3 == 0) "all rights reserved worldwide " else ""
      val shared = if (i % 7 == 0) "the shared middle span here " else ""
      (i, s"${boiler}doc $i has ${shared}unique tail t$i u$i v$i")
    }
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(df, "doc_id", "text",
        windowTokens = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    // independent reference: the ORIGINAL window-rank formulation,
    // inlined (row_number over partitionBy(digest) orderBy(id, pos))
    import org.apache.spark.sql.expressions.Window
    val w = 4
    val wins = df.select(col("doc_id"),
        posexplode(TextAnalysis.ngramsUdf(w, distinct = false)(col("text")))
          .as(Seq("pos", "win")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        md5(col("win")).as("d"))
    val ww = Window.partitionBy("d").orderBy(col("doc_id").asc, col("pos").asc)
    val dropsRef = wins.withColumn("occ", row_number().over(ww))
      .filter(col("occ") > 1)
      .select("doc_id", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // rebuild reference docs from the reference drop set, in Scala
    val ref = corpus.map { case (id, t) =>
      val toks = t.split(" ", -1)
      val covered = Array.fill(toks.length)(false)
      dropsRef.filter(_._1 == id).foreach { case (_, p) =>
        (p.toInt until math.min(toks.length, p.toInt + w))
          .foreach(covered(_) = true)
      }
      val kept = toks.zipWithIndex.collect { case (tk, j) if !covered(j) => tk }
      (id, kept.mkString(" "), toks.length.toLong,
        (toks.length - kept.length).toLong)
    }.toSet
    assert(got == ref)
  }

  test("removeDuplicateSpansAgainst: history always wins, batch-internal " +
    "dups collapse, and the result equals the batch op on hist ∪ new") {
    val hist = Seq(
      (1L, "a b c d e f"),
      (2L, "s t u v w")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "x y a b c d e z"),      // span a..e known to history
      (11L, "p q r p q r s t u o"),  // self-repeat + history span s t u
      (12L, "p q r fresh stuff here")// p q r seen FIRST in doc 11
    ).toDF("doc_id", "text")
    val inc = Dedup
      .removeDuplicateSpansAgainst(fresh, hist, "doc_id", "text",
        windowTokens = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    // hand checks: 10 loses tokens 2..6; 11 loses its second p-q-r
    // (pos 3..5) and s-t-u (pos 6..8); 12 keeps its p q r? NO — doc 11
    // holds the batch-first occurrence (id 11 < 12), so 12's is removed
    assert(inc(10L) == (("x y z", 8L, 5L)))
    assert(inc(11L) == (("p q r o", 10L, 6L)))
    assert(inc(12L) == (("fresh stuff here", 6L, 3L)))
    // parity with the batch op over hist ∪ new (hist ids all smaller,
    // so the global rank agrees with "history wins")
    val batch = Dedup
      .removeDuplicateSpans(hist.unionByName(fresh), "doc_id", "text",
        windowTokens = 3)
      .filter(col("doc_id") >= 10L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(inc == batch)
  }
}
