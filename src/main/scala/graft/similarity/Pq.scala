package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. TPAMI'11, the FAISS IVF-PQ
  * building block): the vector splits into `m` subvectors, each
  * subspace learns a `k`-entry codebook by k-means, and a vector is
  * stored as `m` small codes — 64 float dims (256 B) become m bytes.
  * THIS is the ANN memory story at 100 TB: the corpus compresses
  * ~64×, codebooks are metadata (m·k·subDim doubles, broadcast), and
  * search is asymmetric distance computation (ADC): each probe builds
  * an m×k lookup table once, then every candidate costs m table adds.
  *
  * Determinism discipline matches ivfBuild: codebook means are the
  * same integer-exact Lloyd step (`Ann.cellMeans`), every distance is an
  * identical-order double chain, ties break on the smallest code /
  * candidate id. The whole path — both the k-means and the ADC
  * ranking — is replayable by a SQL oracle.
  */
object Pq {

  /** codebooks(s)(c)(d): subspace s, code c, local dim d. */
  final case class PqIndex(codebooks: Array[Array[Array[Double]]], codes: DataFrame)

  private def subDim(dim: Int, m: Int): Int = {
    require(dim % m == 0, s"PQ needs dim % m == 0, got $dim % $m")
    dim / m
  }

  /** Lloyd's mean updates see at most this many vectors by default —
    * the FAISS `max_points_per_centroid` posture (256 points/centroid
    * at the default k = 16 codes per subspace). Codebook quality
    * saturates long before the corpus is exhausted, so training over
    * the full relation is pure waste at scale: without a bound, every
    * pqBuild pays a corpus×dim explode + shuffle per iteration —
    * unrunnable at 10¹¹ vectors. ENCODING (the per-row nearest-code
    * map) still covers every vector; only the mean statistics are
    * sampled.
    */
  val DefaultTrainCap = 4096

  /** Train codebooks (init: the `k` smallest-id vectors' subvectors)
    * and encode every vector. Codes are the assignment of the LAST
    * iteration; `codebooks` carries the post-iteration means (the
    * table side of ADC) — mirroring ivfBuild's contract.
    *
    * Training is bounded by `trainCap` (≤ 0 disables): the mean
    * updates scan only the `trainCap` smallest rows under the
    * deterministic hash order (md5 of the id's decimal string, id
    * tiebreak) — a uniform, seedless, engine-replayable sample that
    * DuckDB reproduces verbatim as
    * `ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT cap`. The sample is
    * selected as an id-only TakeOrdered (bounded driver-side heap
    * merge of per-partition top-caps) and applied as a broadcast
    * semi-join, so the training scan stays partition-parallel and no
    * corpus-sized relation ever shuffles or collects. When the corpus
    * is under the cap the semi-join passes every row — bit-identical
    * to unbounded training.
    */
  def pqBuild(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 4,
      k: Int = 16,
      iters: Int = 1,
      trainCap: Int = DefaultTrainCap
  ): PqIndex = {
    require(k >= 1 && iters >= 1 && m >= 1, "pqBuild needs m, k, iters >= 1")
    require(trainCap <= 0 || trainCap >= k,
      s"pqBuild needs trainCap >= k (every code needs a chance at members), got $trainCap < $k")
    val init = df
      .orderBy(col(idCol).asc)
      .limit(k)
      .select(vecCol)
      .collect()
      .map(_.getSeq[Float](0))
    require(init.length == k,
      s"pqBuild needs >= $k vectors to seed the codebooks, got ${init.length}")
    val dim = init.head.length
    val sd = subDim(dim, m)
    val trainDf =
      if (trainCap <= 0) df
      else {
        // hash projected BEFORE the TakeOrdered: sort-order expressions
        // are re-evaluated per heap comparison, a projected column is
        // computed once per row
        val ids = df
          .select(col(idCol), md5(col(idCol).cast("string")).as("__train_h"))
          .orderBy(col("__train_h").asc, col(idCol).asc)
          .limit(trainCap)
          .select(col(idCol))
        df.join(broadcast(ids), Seq(idCol), "left_semi")
      }
    var codebooks: Array[Array[Array[Double]]] = Array.tabulate(m, k) { (s, c) =>
      Array.tabulate(sd)(j => init(c)(s * sd + j).toDouble)
    }
    var codes: DataFrame = null
    for (it <- 0 until iters) {
      // native codegen encoder (plans.PqEncodeExpr): the corpus-sized
      // encode pass runs as a primitive loop inside WholeStageCodegen
      // — no Seq[Float] UDF boxing per row
      val encode = graft.plans.ArrayOps.pq_encode(col(vecCol), codebooks)
      // final encoding covers EVERY vector under the last iteration's
      // pre-update codebooks (the ivfBuild contract); mean statistics
      // below come from the bounded training sample only
      if (it == iters - 1)
        codes = df.select(col(idCol), encode.as("codes"))
      // per-(subspace, code, local-dim) integer-exact means
      val comps = Ann
        .components(trainDf.select(encode.as("codes"), col(vecCol)), vecCol, col("codes"))
        .withColumn("s", (col("pos") / sd).cast("int"))
        .withColumn("d", (col("pos") % sd).cast("int"))
        .withColumn("code", element_at(col("codes"), col("s") + 1))
      val next = codebooks.map(_.map(_.clone()))
      Ann.cellMeans(comps, "s", "code", "d").foreach { case (Seq(s, c, d), mean) =>
        next(s)(c)(d) = mean
      }
      codebooks = next
    }
    PqIndex(codebooks, codes)
  }

  /** Per-probe ADC table: m×k squared distances probe-subvector →
    * codebook entry (identical-order double chains).
    */
  private def mkTableUdf(index: PqIndex, spark: org.apache.spark.sql.SparkSession) = {
    val cb = index.codebooks
    val m = cb.length
    val sd = cb(0)(0).length
    val bc = spark.sparkContext.broadcast(cb)
    udf { (v: Seq[Float]) =>
      val cbv = bc.value
      Array.tabulate(m, cbv(0).length) { (s, c) =>
        var d = 0.0
        var j = 0
        val cv = cbv(s)(c)
        val base = s * sd
        while (j < sd) {
          val t = v(base + j).toDouble - cv(j)
          d += t * t
          j += 1
        }
        d
      }.map(_.toSeq).toSeq
    }
  }

  /** Candidate cost under ADC: m table adds in subspace order —
    * expressed as a chain of native `element_at` lookups (+1: SQL
    * arrays are 1-based) so the per-(candidate, probe) hot loop stays
    * inside whole-stage codegen instead of boxing a Seq[Seq[Double]]
    * per row through a UDF. The `reduce(_ + _)` folds left, so the
    * double additions run in ascending subspace order — the exact
    * order the oracle's ORDER BY-controlled list_sum replays.
    */
  private def adcDist(table: org.apache.spark.sql.Column,
      codes: org.apache.spark.sql.Column, m: Int): org.apache.spark.sql.Column =
    (0 until m)
      .map(s => element_at(element_at(table, s + 1), element_at(codes, s + 1) + 1))
      .reduce(_ + _)

  /** ADC top-k: every probe materializes its m×k distance table once
    * (a per-row compiled loop over the broadcast codebooks), then a
    * candidate's approximate squared L2 is m table adds in subspace
    * order. Ranks ascend by distance with cand-id ties — bit-stable.
    */
  def pqTopK(
      index: PqIndex,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      kNn: Int
  ): DataFrame = {
    val spark = probes.sparkSession
    val tableUdf = mkTableUdf(index, spark)
    val p = probes.select(col(idCol).as("probe_id"), tableUdf(col(vecCol)).as("t"))
    val scored = index.codes
      .select(col(idCol).as("cand_id"), col("codes"))
      .crossJoin(broadcast(p))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("dist", adcDist(col("t"), col("codes"), index.codebooks.length))
    Ann.rankTopK(scored, "probe_id", Seq(col("dist").asc, col("cand_id").asc), kNn)
      .select(col("probe_id"), col("rank"), col("cand_id"), col("dist"))
  }

  /** ADC shortlist → exact re-rank (the FAISS refine/RFlat stage): PQ
    * compression quantizes distances, so the ADC rank near the cut is
    * noisy — recall@k against exact cosine plateaus well below 1 no
    * matter the codebooks. The production fix is NOT bigger codebooks
    * (memory) but a two-stage search: ADC ranks the whole corpus
    * cheaply (m table adds per candidate over m-byte codes), keeps a
    * `shortlist` of candidates per probe, and only those ~shortlist
    * rows join back to the full-precision vectors for an exact
    * re-rank. At 100 TB the full vectors never shuffle corpus-wide —
    * the shortlist join is id-keyed against the (bucketable) corpus
    * table and moves shortlist·|probes| rows.
    *
    * The re-rank is `Ann.exactRerank` — [[Ann.topKExact]]'s
    * ×2^20-quantized cosine and tie-break restricted to the shortlist
    * pairs — so the final ranks are bit-replayable by composing the
    * two existing oracle chains: pq-ADC at rank ≤ shortlist, then the
    * exact-cosine formula restricted to those pairs.
    */
  def pqTopKRerank(
      index: PqIndex,
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      kNn: Int,
      shortlist: Int = 64
  ): DataFrame =
    Ann.exactRerank(
      pqTopK(index, probes, idCol, vecCol, shortlist)
        .select(col("probe_id"), col("cand_id")),
      corpus, probes, idCol, vecCol, kNn)

  /** Full FAISS production chain: IVF coarse pruning → PQ ADC ranking
    * over compressed codes → exact re-rank of the shortlist (the
    * refine / IndexRefineFlat stage). Scan fraction ~nProbe/nLists,
    * ADC cost m adds per survivor, full-precision vectors touched for
    * only shortlist·|probes| rows.
    */
  def topKIvfPqRerank(
      ivf: Ann.IvfIndex,
      pq: PqIndex,
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      kNn: Int,
      nProbe: Int = 4,
      shortlist: Int = 64
  ): DataFrame =
    Ann.exactRerank(
      topKIvfPq(ivf, pq, probes, idCol, vecCol, shortlist, nProbe)
        .select(col("probe_id"), col("cand_id")),
      corpus, probes, idCol, vecCol, kNn)

  /** IVF-PQ — the FAISS production shape, composed from the two
    * indexes this library already builds: the IVF coarse quantizer
    * restricts each probe to its `nProbe` nearest lists (scan fraction
    * ~nProbe/nLists) and PQ's asymmetric distance ranks the surviving
    * candidates at m-table-adds each over m-byte codes (~64×
    * compression). Candidates are the id-keyed join of the IVF
    * assignment relation with the PQ code relation — both bucketable
    * on the corpus key at scale — and only (id, list_id, codes) rows
    * ever move; the probe side (ADC tables + probed lists) broadcasts.
    *
    * Codes quantize the RAW vectors (not list residuals): the residual
    * refinement is a recall/precision trade the paper discusses, and
    * skipping it keeps every distance an identical-order double chain
    * over already-proven replayable pieces, so the composite stays
    * bit-checkable end to end (q_ann_topk_ivfpq re-sources the two
    * existing oracles and intersects).
    */
  def topKIvfPq(
      ivf: Ann.IvfIndex,
      pq: PqIndex,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      kNn: Int,
      nProbe: Int = 4
  ): DataFrame = {
    val spark = probes.sparkSession
    val tableUdf = mkTableUdf(pq, spark)
    val p = probes.select(
      col(idCol).as("probe_id"),
      tableUdf(col(vecCol)).as("t"),
      Ann.probeLists(ivf, probes, vecCol, nProbe))
    val cands = ivf.assignments
      .select(col(idCol).as("cand_id"), col("list_id"))
      .join(pq.codes.select(col(idCol).as("cand_id"), col("codes")), Seq("cand_id"))
    val scored = cands
      .join(broadcast(p), Seq("list_id"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("dist", adcDist(col("t"), col("codes"), pq.codebooks.length))
    Ann.rankTopK(scored, "probe_id", Seq(col("dist").asc, col("cand_id").asc), kNn)
      .select(col("probe_id"), col("rank"), col("cand_id"), col("dist"))
  }
}
