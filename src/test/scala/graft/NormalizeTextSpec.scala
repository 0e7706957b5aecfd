package graft

import org.apache.spark.sql.functions._

/** Pins for the two round-15 native expressions:
  *
  *  - [[graft.plans.NormalizeTextExpr]] must be byte-identical to the
  *    built-in composition it replaced (lower → strip the four ASCII
  *    punct ranges → collapse \s+ → trim) on the real corpus AND on
  *    adversarial inputs that straddle its ASCII fast path / exact
  *    fallback boundary — the md5 of this string is an ORACLE OUTPUT
  *    (content_key) in exactNormalized/softDedupWeights, so any drift
  *    is a correctness bug, not a perf trade.
  *  - [[graft.dedup.Dedup.ngramJaccardPairs]]'s one-exchange
  *    groupBy-emission must equal the pre-r15 join-over-postings
  *    formulation, including the maxDf skew cap (now a free
  *    size(group) filter where the old form paid a count-over-window
  *    pass).
  */
class NormalizeTextSpec extends SparkTestBase {
  import spark.implicits._

  private def composed(c: org.apache.spark.sql.Column) =
    trim(regexp_replace(
      regexp_replace(lower(c), "[!-/:-@\\[-`{-~]", ""), "\\s+", " "))

  test("native normalizer equals the composed form on the real corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val diff = docs
      .select(graft.text.TextAnalysis.normalizedText(col("text")).as("a"),
        composed(col("text")).as("b"))
      .filter(col("a") =!= col("b") ||
        (col("a").isNull =!= col("b").isNull))
      .count()
    assert(diff == 0L)
  }

  test("native normalizer equals the composed form on adversarial inputs") {
    val cases = Seq(
      null.asInstanceOf[String],
      "",
      " ",
      "   \t\n  ",
      "!!! ... ???",              // punct-only → empty
      "  Hello,   WORLD!!  ",
      "a.b,c;d",
      "tabs\tand\nnewlines\f\r here",
      "digits 123 survive 456",
      "MiXeD CaSe With  Runs",
      "\u001Ca\u001Db\u001Ec\u001F", // file separators: isWhitespace=true but NOT java-regex \s
      "xy",
      "Çà et là — déjà vu",       // non-ASCII → exact fallback
      " İstanbul STRASSE ß",      // tricky case mappings (fallback path)
      "ｆｕｌｌｗｉｄｔｈ ＡＢＣ",    // fullwidth letters (fallback)
      "emoji 😀 mixed ASCII!",    // supplementary chars (fallback)
      "nbsp space",          // U+00A0 is not java-regex \s
      "ideographic　space",   // U+3000 is not java-regex \s
      "end with punct !",
      "! start with punct",
      "a  b   c"
    )
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val rows = df
      .select(col("id"),
        graft.text.TextAnalysis.normalizedText(col("text")).as("a"),
        composed(col("text")).as("b"))
      .collect()
    rows.foreach { r =>
      val a = if (r.isNullAt(1)) null else r.getString(1)
      val b = if (r.isNullAt(2)) null else r.getString(2)
      assert(a == b, s"case ${r.getLong(0)}: native '$a' != composed '$b'")
    }
  }

  test("ngram pairs: emission form equals the join form under a maxDf cap") {
    // a hot shingle shared by every doc (dropped at maxDf=3) plus rare
    // pair-carrying shingles that survive — the cap must remove the
    // hot shingle's contribution from n_common exactly as the old
    // window-df filter did
    val docs = Seq(
      (1L, "hot hot hot alpha beta gamma"),
      (2L, "hot hot hot alpha beta delta"),
      (3L, "hot hot hot epsilon zeta eta"),
      (4L, "hot hot hot epsilon zeta theta"),
      (5L, "hot hot hot unrelated words here")
    ).toDF("doc_id", "text")

    def oldJoinForm(maxDf: Long) = {
      import org.apache.spark.sql.expressions.Window
      val ex = docs
        .select(col("doc_id"),
          graft.text.TextAnalysis.ngramsUdf(3, distinct = false)(col("text")).as("g"))
        .select(col("doc_id"), array_distinct(col("g")).as("shs"))
        .select(col("doc_id"), size(col("shs")).cast("long").as("n_sh"),
          explode(col("shs")).as("shingle"))
      val rare =
        if (maxDf == Long.MaxValue) ex
        else ex
          .withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
          .filter(col("df") <= maxDf)
          .drop("df")
      val a = rare.select(col("doc_id").as("a"), col("n_sh").as("n_a"), col("shingle"))
      val b = rare.select(col("doc_id").as("b"), col("n_sh").as("n_b"), col("shingle"))
      a.join(b, Seq("shingle"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b", "n_a", "n_b")
        .agg(count(lit(1)).as("n_common"))
        .withColumn("jaccard", col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
        .filter(col("jaccard") >= 0.05)
        .select("a", "b", "n_common", "n_a", "n_b", "jaccard")
        .orderBy("a", "b").collect().map(_.toSeq).toSeq
    }

    // NOTE the old form joined on shingle STRINGS where the engine
    // hashes them; both count identical co-occurrence sets, so the
    // comparison is over (a, b, n_common, n_a, n_b, jaccard) — the
    // exact output contract. Collision risk ~n²/2^64 is absent on
    // this 5-doc fixture.
    for (cap <- Seq(3L, Long.MaxValue)) {
      val neu = graft.dedup.Dedup
        .ngramJaccardPairs(docs, "doc_id", "text", 3, 0.05, cap)
        .orderBy("a", "b").collect().map(_.toSeq).toSeq
      val old = oldJoinForm(cap)
      assert(neu == old, s"maxDf=$cap diverged:\nnew=$neu\nold=$old")
      graft.dedup.Dedup
        .ngramJaccardPairs(docs, "doc_id", "text", 3, 0.05, cap).unpersist()
    }
  }
}
