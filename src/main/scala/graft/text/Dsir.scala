package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DSIR-style hashed n-gram importance scoring (Xie et al. '23, "Data
  * Selection for Language Models via Importance Resampling",
  * arXiv:2302.03169): score every raw document by how much its hashed
  * token-feature mass looks like a TARGET corpus (the high-quality /
  * in-domain set) versus the RAW corpus it came from, then keep the
  * target-like ones.
  *
  * Shape at scale (the part that matters at 100 TB):
  *
  *  - Features are FNV-1a(token) folded to `buckets` (power of two,
  *    low-bits mask) — the same 64-bit FNV the SimHash family uses,
  *    so the DuckDB replay pattern (HUGEINT wraparound fold) carries
  *    over verbatim. The whole feature space is `buckets` cells
  *    regardless of vocabulary, exactly as in the paper.
  *  - The two corpus distributions aggregate to BUCKETS-sized count
  *    tables (one groupBy each over exploded tokens), collected once
  *    and broadcast — the IVF-codebook pattern: corpus-sized passes
  *    producing driver-metadata-sized state. No per-row join.
  *  - Per-document scoring is then ONE compiled scalar map over the
  *    broadcast arrays — zero shuffle, zero join on the hot path.
  *  - The KEEP decision is integer-exact: unsmoothed mass
  *    cross-multiplication in DECIMAL(38,0)
  *    (t_mass·Nr·1000 >= theta‰·r_mass·Nt), so the gate carries no
  *    float at all (QueryDef rule 8). The paper's smoothed
  *    log-likelihood ratio rides along as `llr` (fixed bucket-order
  *    summation) for ranking/Gumbel-resampling use, but never reaches
  *    an oracle face — same split as the WADA integer-core pattern.
  *
  * The actual top-k resampling draw composes with the existing
  * machinery: `dsirScore(...).filter(col("keep"))` piped into
  * [[Sampling.shuffleKey]] order or the native bottom-k sampler takes
  * the deterministic draw, exactly how the paper's resampling step
  * consumes its weights.
  *
  * BMP-only caveat (shared with the SimHash FNV replays): the Scala
  * fold hashes UTF-16 code units, DuckDB's unicode() codepoints —
  * identical on BMP text (the fixture corpus is ASCII).
  */
object Dsir {

  /** FNV-1a 64-bit over a token's UTF-16 units, folded to the low
    * log2(buckets) bits. Shared with [[QualityClassifier]] so both
    * hashed-feature gates replay through the one DuckDB FNV pattern.
    */
  private[text] def fnvBucket(tok: String, mask: Int): Int = {
    var h = 0xcbf29ce484222325L
    var k = 0
    while (k < tok.length) { h ^= tok.charAt(k).toLong; h *= 0x100000001b3L; k += 1 }
    (h & mask).toInt
  }

  /** Corpus feature distribution: counts[f] over hashed tokens — a
    * buckets-sized array (driver metadata), one corpus pass.
    */
  def bucketCounts(
      df: DataFrame,
      textCol: String,
      buckets: Int
  ): Array[Long] = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two >= 2, got $buckets")
    val mask = buckets - 1
    val bucketsUdf = udf { (text: String) =>
      if (text == null) Array.empty[Int]
      else text.split(" ", -1).filter(_.nonEmpty).map(fnvBucket(_, mask))
    }
    val counts = new Array[Long](buckets)
    df.select(explode(bucketsUdf(col(textCol))).as("f"))
      .groupBy("f")
      .agg(count(lit(1)).as("n"))
      .collect()
      .foreach(r => counts(r.getInt(0)) = r.getLong(1))
    counts
  }

  /** A fitted importance model: both corpus distributions plus the
    * precomputed smoothed log terms — buckets-sized driver metadata,
    * fit ONCE on a snapshot and applied statelessly ever after (the
    * production contract; StreamBatchParitySpec proves the stream
    * face under a frozen model equals the batch face).
    */
  final case class DsirModel(
      buckets: Int,
      nt: Array[Long],
      nr: Array[Long],
      bigNt: Long,
      bigNr: Long,
      logTerm: Array[Double])

  /** Fit the importance model: one corpus pass per distribution, each
    * aggregating to a buckets-sized table (driver metadata at any
    * corpus size).
    */
  def fitModel(
      raw: DataFrame,
      target: DataFrame,
      textCol: String,
      buckets: Int = 256
  ): DsirModel = {
    val nt = bucketCounts(target, textCol, buckets)
    val nr = bucketCounts(raw, textCol, buckets)
    val bigNt = nt.sum
    val bigNr = nr.sum
    // smoothed per-bucket log terms, precomputed once driver-side so
    // the executor loop is adds/multiplies only
    val logTerm = Array.tabulate(buckets) { f =>
      math.log((nt(f) + 1.0) / (bigNt + buckets.toDouble)) -
        math.log((nr(f) + 1.0) / (bigNr + buckets.toDouble))
    }
    DsirModel(buckets, nt, nr, bigNt, bigNr, logTerm)
  }

  /** Score `raw` docs against a `target` corpus: fit + apply in one
    * call — the batch face. Returns one row per raw doc:
    * (id, n_toks, t_mass, r_mass, llr, keep) where
    * t_mass = Σ_f c_f·target_counts[f] (long, exact), r_mass likewise
    * over the raw distribution, llr the smoothed log-likelihood ratio
    * Σ_f c_f·(ln((nt_f+1)/(Nt+B)) − ln((nr_f+1)/(Nr+B))) summed in
    * bucket order (float — ranking only, never oracled), and keep the
    * integer-exact decision t_mass/Nt >= (theta‰/1000)·r_mass/Nr via
    * DECIMAL cross-multiplication. Null/empty docs score
    * (0, 0, 0, 0.0, false).
    */
  def dsirScore(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 256,
      thetaPermille: Int = 1000
  ): DataFrame =
    dsirScoreWithModel(
      raw, fitModel(raw, target, textCol, buckets), idCol, textCol,
      thetaPermille)

  /** Apply a fitted model to any relation — batch table or streaming
    * micro-batch: the scoring is a stateless per-row map over the
    * broadcast model arrays, so it composes with readStream
    * unchanged.
    */
  def dsirScoreWithModel(
      raw: DataFrame,
      model: DsirModel,
      idCol: String,
      textCol: String,
      thetaPermille: Int = 1000
  ): DataFrame = {
    require(thetaPermille >= 0, s"thetaPermille must be >= 0, got $thetaPermille")
    val spark = raw.sparkSession
    val mask = model.buckets - 1
    val bigNt = model.bigNt
    val bigNr = model.bigNr
    val bNt = spark.sparkContext.broadcast(model.nt)
    val bNr = spark.sparkContext.broadcast(model.nr)
    val bLog = spark.sparkContext.broadcast(model.logTerm)
    val scoreUdf = udf { (text: String) =>
      val ntA = bNt.value; val nrA = bNr.value; val lgA = bLog.value
      val c = new Array[Int](mask + 1)
      var nToks = 0L
      if (text != null) {
        val toks = text.split(" ", -1)
        var i = 0
        while (i < toks.length) {
          val t = toks(i)
          if (t.nonEmpty) { c(fnvBucket(t, mask)) += 1; nToks += 1 }
          i += 1
        }
      }
      var tMass = 0L; var rMass = 0L; var llr = 0.0d
      var f = 0
      while (f < c.length) {
        val cf = c(f)
        if (cf > 0) {
          tMass += cf.toLong * ntA(f)
          rMass += cf.toLong * nrA(f)
          llr += cf.toDouble * lgA(f)
        }
        f += 1
      }
      (nToks, tMass, rMass, llr)
    }
    val dec = "decimal(38,0)"
    raw
      .select(col(idCol), scoreUdf(col(textCol)).as("s"))
      .select(
        col(idCol),
        col("s._1").as("n_toks"),
        col("s._2").as("t_mass"),
        col("s._3").as("r_mass"),
        col("s._4").as("llr"))
      .withColumn(
        "keep",
        col("n_toks") > 0L &&
          col("t_mass").cast(dec) * lit(bigNr).cast(dec) * lit(1000L).cast(dec) >=
            col("r_mass").cast(dec) * lit(bigNt).cast(dec) *
              lit(thetaPermille.toLong).cast(dec))
  }

  /** The resampling step: draw gate survivors in salted-md5 order
    * until `budgetTokens` whitespace tokens are reached — the
    * deterministic counterpart of the paper's weighted draw, with the
    * same scan-until rule the mixture planner uses (emit while tokens
    * BEFORE the doc < budget; overshoot < one document, docs whole).
    *
    * Scale: bef is the global running sum of n_toks in draw order
    * ([[graft.ops.GlobalSeq.withRunningSum]]: survivors range-partition
    * on the draw key and the native running-sum exec adds each
    * partition's offset), not a single-partition window.
    *
    * Returns (id, n_toks, bef) where bef is the exact token count
    * drawn before this doc — strictly increasing along the draw, so
    * it doubles as the selection sequence. The returned relation is
    * lazy; like [[TextAnalysis.packSequences]] it needs no cache for
    * correctness.
    */
  def resampleToBudget(
      scored: DataFrame,
      idCol: String,
      salt: String,
      budgetTokens: Long
  ): DataFrame = {
    val survivors = scored
      .filter(col("keep"))
      .select(col(idCol), col("n_toks"),
        Sampling.saltedHex(salt, col(idCol)).as("__hk"))
    graft.ops.GlobalSeq
      .withRunningSum(survivors, Seq(col("__hk"), col(idCol)), col("n_toks"), "bef")
      .filter(col("bef") < budgetTokens)
      .select(col(idCol), col("n_toks"), col("bef"))
  }
}
