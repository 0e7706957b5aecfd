package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-audit operators: the inspection faces a curation run uses to
  * DECIDE thresholds before applying the gates in `TextAnalysis` /
  * `Dedup`.
  */
object CorpusAudit {

  /** Most-duplicated token n-grams corpus-wide — the dedup audit from
    * Lee et al. '22 ("Deduplicating Training Data Makes Language
    * Models Better", §4: the most frequent duplicated 13-grams expose
    * boilerplate families before you pick dedup thresholds).
    *
    * Output per surviving gram: the gram text, total occurrence count,
    * number of distinct docs containing it, and the smallest doc id as
    * a quotable exemplar. Only grams seen more than once survive.
    *
    * Scale shape: occurrences are generated per-row by ONE compiled
    * loop per document ([[TextAnalysis.ngramsUdf]] — the same HOF-replacement
    * discipline as `GramHash.shingle_hashes`: transform/slice/concat_ws
    * lambdas are interpreted expression trees in Spark, measured ~4×
    * slower than the loop at 26M grams), then one count-by-gram
    * shuffle and a TakeOrderedAndProject top-k. At 100 TB the gram
    * STRING would dominate the exchange, so the aggregation keys on
    * the md5 digest (32 hex chars regardless of n) and carries one
    * exemplar gram via `min` — the same digests-not-text discipline as
    * `Dedup.paragraphDedup`.
    */
  def topDuplicatedNgrams(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      k: Int): DataFrame = {
    require(n >= 1 && k >= 1, "n >= 1 and k >= 1")
    val grams = docs
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.ngramsUdf(n, distinct = false)(col(textCol))).as("gram"))
      .where(length(col("gram")) > 0)
      .select(col("doc_id"), md5(col("gram")).as("g"), col("gram"))
    grams
      .groupBy("g")
      .agg(
        min("gram").as("gram"),
        count(lit(1)).as("occurrences"),
        countDistinct("doc_id").as("n_docs"),
        min("doc_id").as("example_doc"))
      .where(col("occurrences") > 1)
      .select("gram", "occurrences", "n_docs", "example_doc")
      .orderBy(col("occurrences").desc, col("gram").asc)
      .limit(k)
  }

  /** Robust length-outlier gate: median / MAD over an integer length
    * column, per group — the heavy-tail-safe alternative to mean±k·σ
    * for "drop truncated snippets and runaway concatenations" (the
    * length-outlier rule most curation recipes apply per source).
    *
    * Both statistics are EXACT lower medians picked by rank
    * (row_number over (len, id) at position ceil(cnt/2)), not
    * interpolated percentiles, so every derived column is integer and
    * the keep decision replays on any engine: keep ⇔
    * |len − med| · madDen ≤ k · MAD · madNum with integer arithmetic
    * (k supplied as the madNum/madDen rational).
    *
    * Scale shape: two rank-by-group passes (sort-based window over the
    * group key — the same shape as `TextAnalysis.lmBuckets`), each
    * shuffling (group, len, id) triples only; the gate itself is then
    * a broadcast of one (group, med, mad) row per group onto the
    * corpus — group cardinality is source-count-sized, never
    * corpus-sized.
    */
  def madLengthGate(
      docs: DataFrame,
      idCol: String,
      groupCol: String,
      lenCol: String,
      madNum: Long,
      madDen: Long): DataFrame = {
    require(madDen >= 1, "madDen >= 1")
    val base = docs.select(
      col(idCol).as("doc_id"),
      col(groupCol).as("grp"),
      col(lenCol).cast("long").as("len"))

    def lowerMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val w = Window.partitionBy("grp").orderBy(col(valueCol).asc, col("doc_id").asc)
      val cw = Window.partitionBy("grp")
      df.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(cw))
        // integer DIV: Column./ would promote to double and the odd-count
        // comparison rn === 2.5 could never match
        .where(col("rn") === expr("(cnt + 1) DIV 2"))
        .select(col("grp"), col(valueCol).as(out))
    }

    val med = lowerMedian(base, "len", "med")
    val dev = base.join(med, "grp")
      .withColumn("adev", abs(col("len") - col("med")))
    val mad = lowerMedian(dev, "adev", "mad")

    base
      .join(med, "grp")
      .join(mad, "grp")
      .select(
        col("doc_id"), col("grp"), col("len"), col("med"), col("mad"),
        (abs(col("len") - col("med")) * madDen <= col("mad") * madNum)
          .as("keep"))
  }
}
