package graft

import graft.text.{Sampling, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

class SamplingSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val ids = spark.range(0L, 2000L).toDF("id")

  test("sampleFlag is deterministic and near the target rate") {
    val kept = ids.filter(Sampling.sampleFlag("s1", $"id", "3fff")).count()
    // 25% of 2000 = 500; md5 is uniform, allow ±5 σ (σ≈19)
    assert(kept > 400 && kept < 600, s"kept=$kept")
    val again = ids.filter(Sampling.sampleFlag("s1", $"id", "3fff")).count()
    assert(again == kept) // same salt → identical subset
    val other = ids.filter(Sampling.sampleFlag("s2", $"id", "3fff")).count()
    assert(other != kept || other == kept) // different salt: valid either way
  }

  test("splitAssign partitions every row into exactly one split") {
    val got = ids
      .withColumn("split", Sampling.splitAssign("sp", $"id"))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set("train", "val", "test"))
    assert(got.values.sum == 2000L)
    // 12/16 train expected = 1500, generous bounds
    assert(got("train") > 1300 && got("train") < 1700)
  }

  test("stratifiedExactSplit sizes are EXACT per stratum, not just in expectation") {
    // strata of deliberately awkward sizes: 997 (prime), 500, 3
    val df = spark.range(0L, 1500L).toDF("id")
      .withColumn("grp",
        when($"id" < 997L, "a").when($"id" < 1497L, "b").otherwise("c"))
    val got = Sampling
      .stratifiedExactSplit(df, "grp", "id", salt = "t", 800, 100)
      .groupBy("grp", "split").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // floor(997*.8)=797, floor(997*.9)=897 -> 797/100/100
    assert(got(("a", "train")) == 797L && got(("a", "val")) == 100L &&
      got(("a", "test")) == 100L)
    assert(got(("b", "train")) == 400L && got(("b", "val")) == 50L &&
      got(("b", "test")) == 50L)
    // n=3: floor(2.4)=2 train, floor(2.7)=2 -> 0 val, 1 test
    assert(got(("c", "train")) == 2L && got.getOrElse(("c", "val"), 0L) == 0L &&
      got(("c", "test")) == 1L)
    // determinism: same salt, same assignment
    val a = Sampling.stratifiedExactSplit(df, "grp", "id", "t", 800, 100)
      .orderBy("id").select("split").as[String].collect().toSeq
    val b = Sampling.stratifiedExactSplit(df, "grp", "id", "t", 800, 100)
      .orderBy("id").select("split").as[String].collect().toSeq
    assert(a == b)
  }

  test("perGroupSample keeps exactly k per group, deterministically") {
    val d = spark.range(0L, 300L).toDF("id")
      .withColumn("grp", ($"id" % 3L).cast("string"))
    val got = graft.text.Sampling.perGroupSample(d, "grp", "id", 7, "t")
    assert(got.count() == 21)
    assert(got.groupBy("grp").count().collect().forall(_.getLong(1) == 7L))
    val ids1 = got.select("id").collect().map(_.getLong(0)).toSet
    val ids2 = graft.text.Sampling.perGroupSample(d, "grp", "id", 7, "t")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2) // same salt → same subset
  }

  test("planMixture thresholds drive mixtureFlag to the planned token take") {
    // two sources, very different sizes; plan a budget that needs
    // ~50% of src_a and keeps all of src_b
    val docs = ((1 to 1000).map(i => (i.toLong, "src_a", "w " * 19 + "w")) ++
      (1 to 50).map(i => (1000L + i, "src_b", "w " * 19 + "w")))
      .toDF("doc_id", "source", "text") // 20 tokens per doc
    val weights = Seq(("src_a", 500000L), ("src_b", 500000L)).toDF("source", "weight_ppm")
    val plan = Sampling.planMixture(docs, "source", "text", weights, budgetTokens = 20000L)
    val byCfg = plan.collect().map(r =>
      r.getString(0) -> (r.getAs[Long]("n_tok_total"), r.getAs[Long]("target_tok"),
        r.getAs[Boolean]("keep_all"), r.getAs[String]("rate_hex4"))).toMap
    assert(byCfg("src_a")._1 == 20000L && byCfg("src_a")._2 == 10000L)
    assert(!byCfg("src_a")._3) // needs downsampling
    assert(byCfg("src_b")._3 && byCfg("src_b")._4 == "ffff") // 1000 < 10000 target
    // apply the planned thresholds through mixtureFlag: realized take
    // of src_a should be ~10000 tokens (binomial around p=0.5)
    val joined = docs.join(broadcast(plan.select("source", "rate_hex4")), "source")
    val kept = joined
      .filter(Sampling.mixtureFlag("mix", $"doc_id", $"rate_hex4"))
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("src_b") == 50L) // ffff keeps everything
    assert(kept("src_a") > 400L && kept("src_a") < 600L, s"kept=${kept("src_a")}")
  }

  test("ngramsUdf emits ordered n-grams; distinct dedupes") {
    val d = Seq((1L, "a b a b a")).toDF("doc_id", "text")
    val all = d.select(explode(TextAnalysis.ngramsUdf(2, distinct = false)($"text")))
      .as[String].collect().toSeq
    assert(all == Seq("a b", "b a", "a b", "b a"))
    val dis = d.select(explode(TextAnalysis.ngramsUdf(2, distinct = true)($"text")))
      .as[String].collect().toSeq
    assert(dis == Seq("a b", "b a"))
  }

  test("decontaminate flags only docs sharing an n-gram with the benchmark") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "completely unrelated words entirely here"),
      (3L, "quick brown fox again elsewhere")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "a quick brown fox appears")).toDF("doc_id", "text")
    val got = TextAnalysis
      .decontaminate(corpus, bench, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got(0) == ((1L, 1L, true)))  // shares "quick brown fox"
    assert(got(1) == ((2L, 0L, false)))
    assert(got(2) == ((3L, 1L, true)))
  }

  test("packSequences invariants on adversarial random input") {
    // fixed seed; ragged doc lengths incl. empty-ish and huge docs
    val rnd = new scala.util.Random(7)
    val docs = (0L until 500L).map { i =>
      val n = rnd.nextInt(50) match {
        case 0 => 1
        case k if k > 45 => 2000 + rnd.nextInt(500)
        case k => k
      }
      (i, Seq.fill(n)("w").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val seqLen = 128L
    val got = graft.text.TextAnalysis
      .packSequences(df, "doc_id", "text", seqLen)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tok"),
        r.getAs[Long]("start_off"), r.getAs[Long]("end_off"),
        r.getAs[Long]("first_seq"), r.getAs[Long]("last_seq"),
        r.getAs[Long]("n_seqs")))
    // offsets tile the token stream exactly, in id order, no gaps
    var expectedStart = 0L
    got.foreach { case (_, nTok, s, e, f, l, ns) =>
      assert(s == expectedStart)
      assert(e == s + nTok)
      assert(f == s / seqLen && l == (e - 1) / seqLen && ns == l - f + 1)
      expectedStart = e
    }
    assert(expectedStart == docs.map(_._2.split(" ", -1).length.toLong).sum)
  }

  test("repetitionMetrics: repeated bigram dominates, distinct ratio drops") {
    val d = Seq(
      (1L, "x y x y x y x y"),   // bigram "x y" 4/7, 2 distinct of 8 tokens
      (2L, "a b c d e f g h")    // all bigrams unique
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionMetrics(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    val r1 = got(0)
    assert(r1.getAs[Long]("n_tok") == 8L)
    assert(r1.getAs[Long]("n_distinct_tok") == 2L)
    assert(r1.getAs[Long]("n_2gram") == 7L)
    assert(r1.getAs[Long]("top_2gram_n") == 4L)
    assert(math.abs(r1.getAs[Double]("top_2gram_ratio") - 4.0 / 7.0) < 1e-12)
    val r2 = got(1)
    assert(r2.getAs[Long]("top_2gram_n") == 1L)
    assert(r2.getAs[Double]("distinct_tok_ratio") == 1.0)
  }

  test("lmQuality: hit tally, OOV, cross-multiplied keep, logp sign") {
    val reference = Seq(
      (10L, "the cat sat on the mat"),
      (20L, "the cat sat on the rug")
    ).toDF("doc_id", "text")
    // model at minCount=2: bigrams shared by both refs
    // "the cat", "cat sat", "sat on", "on the" (each c2=2)
    val model = TextAnalysis.bigramModel(reference, "text", minCount = 2L)
    val modelSet = model.collect().map(_.getString(0)).toSet
    assert(modelSet == Set("the cat", "cat sat", "sat on", "on the"))

    val docs = Seq(
      (1L, "the cat sat on the mat"), // 5 bigrams, 4 hits → keep
      (2L, "dogs bark at the moon"),  // 4 bigrams, 0 hits → drop
      (3L, "word")                    // 0 bigrams → drop
    ).toDF("doc_id", "text")
    def run(m: DataFrame) = TextAnalysis
      .lmQuality(docs, "doc_id", "text", m, minHitPermille = 500)
      .orderBy("doc_id")
      .collect()
    val got = run(model)
    // an int-typed c2 (a hand-built or external model) gives the same rows
    val intModel = model.withColumn("c2", col("c2").cast("int"))
    assert(intModel.schema("c2").dataType == IntegerType)
    assert(run(intModel).toSeq == got.toSeq)
    assert(got(0).getAs[Long]("n_bigrams") == 5L)
    assert(got(0).getAs[Long]("n_hits") == 4L)
    assert(got(0).getAs[Long]("n_oov") == 1L)
    assert(got(0).getAs[Boolean]("keep"))
    assert(got(0).getAs[Double]("mean_logp") < 0.0) // ln(2/8) per hit
    assert(math.abs(got(0).getAs[Double]("mean_logp") - math.log(2.0 / 8.0)) < 1e-12)
    assert(got(1).getAs[Long]("n_hits") == 0L)
    assert(!got(1).getAs[Boolean]("keep"))
    assert(got(2).getAs[Long]("n_bigrams") == 0L)
    assert(!got(2).getAs[Boolean]("keep"))
  }

  test("temperaturePlan targets sum EXACTLY to budget at every alpha") {
    import graft.text.Sampling
    // 3 sources with 1/4/16 tokens — powers of 4 so n^(1/4) chains are exact
    val docs = Seq(
      (1L, "a", "lo"),
      (2L, "a b c d", "mid"),
      (3L, "a b c d e f g h i j k l m n o p", "hi")
    ).toDF("doc_id", "text", "source")
    for (q <- 0 to 4; budget <- Seq(7L, 100L, 999L)) {
      val t = Sampling.temperaturePlan(docs, "source", "text", q, budget)
      assert(t.agg(sum("target_tok")).head.getLong(0) == budget,
        s"alphaQuarters=$q budget=$budget")
    }
  }

  test("temperaturePlan: alpha=1 proportional, alpha=0 uniform, alpha=1/2 between") {
    import graft.text.Sampling
    val docs = Seq(
      (1L, "a", "lo"),
      (2L, "a b c d", "mid"),
      (3L, "a b c d e f g h i j k l m n o p", "hi")
    ).toDF("doc_id", "text", "source")
    def targets(q: Int): Map[String, Long] =
      Sampling.temperaturePlan(docs, "source", "text", q, 2100L)
        .collect().map(r => r.getString(0) -> r.getAs[Long]("target_tok")).toMap
    val prop = targets(4) // 1:4:16 → 100/400/1600
    assert(prop == Map("lo" -> 100L, "mid" -> 400L, "hi" -> 1600L))
    val unif = targets(0) // 700 each
    assert(unif == Map("lo" -> 700L, "mid" -> 700L, "hi" -> 700L))
    val half = targets(2) // sqrt: 1:2:4 → 300/600/1200
    assert(half == Map("lo" -> 300L, "mid" -> 600L, "hi" -> 1200L))
    // upsampling is visible: lo repeats 300x its 1 token
    val ep = Sampling.temperaturePlan(docs, "source", "text", 2, 2100L)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("epochs_permille")).toMap
    assert(ep("lo") == 300000L && ep("hi") == 75000L)
  }

  test("epochExpand: emitted token mass meets the target, overshoot < one doc") {
    import graft.text.{Sampling, TextAnalysis}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "text")
    val withTok = docs.withColumn("n_tok", TextAnalysis.tokenCountWs(col("text")))
    val totals = withTok.groupBy("lang").agg(
      sum(col("n_tok")).as("total"), max(col("n_tok")).as("max_tok"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // fractional targets per source: 17/8 epochs (2 full + partial)
    val targets = withTok.groupBy(col("lang"))
      .agg(sum(col("n_tok")).as("t"))
      .select(col("lang"), expr("(17 * t) div 8").as("target_tok"))
    val out = Sampling
      .epochExpand(docs, "lang", "doc_id", "text", targets, salt = "spec")
      .groupBy("lang")
      .agg(sum(col("n_tok") * col("n_copies")).as("emitted"),
        min(col("n_copies")).as("min_c"), max(col("n_copies")).as("max_c"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val lang = r.getString(0)
      val (total, maxTok) = totals(lang)
      val target = 17L * total / 8L
      val emitted = r.getLong(1)
      // the scan-until rule: covered, overshoot bounded by ONE doc
      assert(emitted >= target, s"$lang under target: $emitted < $target")
      assert(emitted < target + maxTok,
        s"$lang overshot by a whole doc: $emitted vs $target (+$maxTok)")
      // 2.125 epochs → every doc at least twice, partial docs thrice
      assert(r.getLong(2) == 2L && r.getLong(3) == 3L, s"$lang copies")
    }
    // determinism: same salt → identical expansion
    val a = Sampling.epochExpand(docs, "lang", "doc_id", "text", targets, "s2")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    val b = Sampling.epochExpand(docs, "lang", "doc_id", "text", targets, "s2")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    assert(a == b)
  }
}
