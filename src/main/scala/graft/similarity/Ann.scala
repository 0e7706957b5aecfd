package graft.similarity

import graft.plans.ArrayOps.quantize_1m
import graft.plans.GroupPairs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an `array<float>` embedding column.
  *
  * Every cosine here is the exact quantized cosine: components round to
  * the ×2^20 integer grid ([[QuantScale]]), dots accumulate exactly and
  * the divide keeps one association order, so results are bit-identical
  * regardless of partitioning or engine (needed for the DuckDB oracle).
  * One private core computes it — a per-vector prep, one cosine
  * column, a probe-ranking tail, an exact re-rank of a pair set and a
  * self-pair tail — and the faces differ only in which pairs they
  * score:
  *  - [[topKExact]], [[hardNegatives]], [[cosineExactPairs]]: brute
  *    force against a broadcast side.
  *  - [[signLshBuckets]] + [[topKLsh]] / [[cosineNearDupPairs]]: the
  *    100 TB path — random hyperplane sign bits bucket the corpus; a
  *    probe only scans its bucket(s), turning a full scan into a
  *    1/2^bits scan at some recall cost.
  *  - [[ivfBuild]] + [[topKIvf]] / [[semanticDedup]] (and [[Pq]]):
  *    k-means lists restrict each probe or pair to its cells.
  */
object Ann {

  /** Shared ranking tail of every ANN face: top `k` rows per `keyCol`
    * by `order`, plus the 1-based `rank` column the faces emit. Rides
    * the native [[graft.plans.TopKPerKey]] operator — per-partition
    * partial heaps map-side, so the keyed exchange carries at most
    * tasks·k rows per key, and NO per-key sort of the scored stream
    * ever runs (a `row_number` window partitioned by a handful of
    * probe ids sorts a corpus-sized partition per probe — the exact
    * single-reducer shape the r14 GlobalSeq work shed elsewhere). The
    * ranking window after it touches ≤ k rows per key by construction
    * (the Search.scala post-limit argument) and reuses the exchange's
    * partitioning. Output is row-for-row the window+filter
    * formulation's: the heap keeps exactly the rows row_number would
    * rank ≤ k under the same total order (unique id tiebreak).
    */
  private[similarity] def rankTopK(
      scored: DataFrame,
      keyCol: String,
      order: Seq[Column],
      k: Int
  ): DataFrame = {
    val top = graft.plans.TopKPerKey
      .topKPerKey(scored, Seq(col(keyCol)), order, k)
    val w = Window.partitionBy(keyCol).orderBy(order: _*)
    top.withColumn("rank", row_number().over(w).cast("long"))
  }


  private lazy val log =
    org.apache.logging.log4j.LogManager.getLogger("graft.similarity.Ann")

  /** Embedding component quantized to an exact integer grid (×2^20,
    * rounded): float→double is exact, ×2^20 is exact scaling, products
    * stay below 2^42 and 64-term sums below 2^48 — exact in LONG and
    * in DOUBLE, so every engine computes identical bits with primitive
    * arithmetic (no BigDecimal). This is what makes the "exact"
    * variants bit-identical to the DuckDB oracle.
    */
  val QuantScale: Double = 1048576.0d // 2^20

  // ------------------------------------------------------------------
  // The one exact quantized-cosine core. A face is its join key, its
  // pair predicate and its output columns over these pieces.
  // ------------------------------------------------------------------

  /** Per-vector prep: `keys`, the quantized vector `q<side>`
    * (quantize_1m) and its exact self-dot `n<side>` — computed once per
    * vector, so each scored pair costs one long-dot.
    */
  private def prepQ(df: DataFrame, vecCol: String, side: String, keys: Column*): DataFrame = {
    val q = "q" + side
    df.select(keys :+ quantize_1m(col(vecCol)).as(q): _*)
      .withColumn("n" + side, quantDot(col(q), col(q)))
  }

  /** Cosine of a row carrying both preps: the exact long dot divided
    * as dot / (sqrt(na)·sqrt(nb)), the association order the oracle
    * replays.
    */
  private def cosCol: Column =
    quantDot(col("qa"), col("qb")) / (sqrt(col("na")) * sqrt(col("nb")))

  /** Probe-ranking tail: the top `k` candidates per probe by cosine,
    * ties to the smaller candidate id; emits (probe, rank, cand,
    * extra..., cos).
    */
  private def rankByCos(
      pairs: DataFrame,
      probe: String,
      cand: String,
      k: Int,
      extra: Column*
  ): DataFrame =
    rankTopK(pairs.withColumn("cos", cosCol), probe,
      Seq(col("cos").desc, col(cand).asc), k)
      .select(Seq(col(probe), col("rank"), col(cand)) ++ extra :+ col("cos"): _*)

  /** Exact re-rank of a (probe_id, cand_id) pair set — [[topKExact]]'s
    * metric and tie-break restricted to those pairs. Vectors enter
    * late: the corpus join is id-keyed (bucketable at scale) and the
    * probe side broadcasts, so the pair set can be formed and deduped
    * over ids alone.
    */
  private[similarity] def exactRerank(
      pairs: DataFrame,
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val c = prepQ(corpus, vecCol, "b", col(idCol).as("cand_id"))
    val p = prepQ(probes, vecCol, "a", col(idCol).as("probe_id"))
    rankByCos(pairs.join(c, Seq("cand_id")).join(broadcast(p), Seq("probe_id")),
      "probe_id", "cand_id", k)
  }

  /** Self-pair tail: (a, b, cos) for a < b with cos ≥ minCos. With a
    * `key` only rows sharing it pair up: the relation preps once and
    * the group-pairs exec pairs it inside each key group, the prep
    * riding along as the payload. Without one the whole prepped
    * relation broadcasts into a theta join.
    */
  private def selfPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double,
      key: Option[String]
  ): DataFrame = {
    def side(s: String) = prepQ(df, vecCol, s, col(idCol).as(s))
    val joined = key match {
      case Some(k) =>
        GroupPairs.pairs(prepQ(df, vecCol, "", col(k), col(idCol)),
          Seq(col(k)), col(idCol), Seq(col("q"), col("n")), Long.MaxValue)
          .select(col("a"), col("b"), col("q_a").as("qa"), col("n_a").as("na"),
            col("q_b").as("qb"), col("n_b").as("nb"))
      case None => side("a").join(broadcast(side("b")), col("a") < col("b"))
    }
    joined.withColumn("cos", cosCol)
      .filter(col("cos") >= minCos)
      .select("a", "b", "cos")
  }

  /** Brute-force top-k neighbors for each probe (exact, oracle-safe):
    * both sides prep once per vector, the (small) probe side
    * broadcasts, and each candidate row costs one long-dot per probe —
    * no posexplode, no position join, nothing but the candidate scan
    * shuffles.
    */
  def topKExact(
      probes: DataFrame,
      cands: DataFrame,
      idA: String,
      idB: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val p = prepQ(probes, vecCol, "a", col(idA))
    val c = prepQ(cands, vecCol, "b", col(idB))
    rankByCos(c.crossJoin(broadcast(p)).filter(col(idA) =!= col(idB)), idA, idB, k)
  }

  /** Johnson-Lindenstrauss random projection (Achlioptas '01 — the
    * database-friendly ±1 variant): reduce `vecCol` to `outDims`
    * integer coordinates y_i = Σ_j q(x_j)·planeInt(i, j), reusing the
    * sign-LSH hyperplane grid WITHOUT dropping to sign bits — the
    * reduced vectors preserve dot products in expectation (JL lemma),
    * so they serve as a cheap exact-integer prefilter distance, a
    * feature-hashing embedding, or the input to a coarser index.
    *
    * Everything is exact integer arithmetic (×2^20 quantizer, integer
    * planes, |term| < 2^41, 64-dim sums < 2^47), so projections are
    * bit-identical on any engine and fully oracle-checkable — no
    * float ever. One compiled per-row loop, zero shuffle; at 100 TB
    * this is a scan-speed map like the LSH bucketer it shares planes
    * with.
    */
  def randomProject(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      outDims: Int
  ): DataFrame = {
    require(outDims >= 1 && outDims <= 256, "outDims in [1,256]")
    // native codegen projection (plans.JlProjectExpr) on the exact
    // quantize_1m grid; null vectors keep the UDF form's empty-array
    // contract (the expression itself is null-intolerant)
    val proj = graft.plans.ArrayOps
      .jl_project(col(vecCol), lshPlanes(outDims), outDims, LshDimCap)
    df.select(
      col(idCol),
      when(col(vecCol).isNull, array().cast("array<long>"))
        .otherwise(proj).as("proj"))
  }

  /** ANCE-style hard-negative mining (Xiong et al. '21, "Approximate
    * Nearest Neighbor Negative Contrastive Learning") — the
    * contrastive-training data-prep op: for each probe, the k nearest
    * candidates whose label DIFFERS from the probe's (nearest
    * wrong-class examples are the informative negatives; random
    * negatives are too easy). Same exact quantized-cosine core as
    * [[topKExact]] with the label-mismatch predicate applied at pair
    * time, so excluded same-class rows never reach the ranking window.
    *
    * This face broadcasts the (bounded) probe side — the per-batch
    * mining shape ANCE actually runs between training epochs. For
    * corpus×corpus mining, compose the IVF chain instead: topKIvf
    * shortlist (k + max same-class overlap), then drop same-label
    * rows and re-rank — the FAISS refine pattern used by the
    * q_ann_topk_ivfpq_rerank face.
    */
  def hardNegatives(
      probes: DataFrame,
      cands: DataFrame,
      idA: String,
      idB: String,
      vecCol: String,
      labelCol: String,
      k: Int
  ): DataFrame = {
    val p = prepQ(probes, vecCol, "a", col(idA), col(labelCol).as("la"))
    val c = prepQ(cands, vecCol, "b", col(idB), col(labelCol).as("lb"))
    rankByCos(c.crossJoin(broadcast(p)).filter(col("la") =!= col("lb")), idA, idB, k,
      col("la").as("probe_label"), col("lb").as("neg_label"))
  }

  /** Deterministic pseudo-random hyperplanes: component j of plane i is
    * a fixed integer hash, the same plane set on every executor without
    * shipping state; hashed through catalyst's own XXH64 (seed 42, int
    * widening) so m = pmod(xxhash64(i, j), 1000003) is the SQL face's
    * number (AnnLshSpec asserts the grid). The component is the exact
    * INTEGER 2·m − 1000003: sign(Σ x_j·(m/1000003 − 0.5)) equals
    * sign(Σ x_j·planeInt) — scaling by the positive constant 2·1000003
    * never flips a sign.
    */
  private[graft] def planeInt(i: Int, j: Int): Long = {
    val h = XXH64.hashInt(j, XXH64.hashInt(i, 42L))
    2L * (((h % 1000003L) + 1000003L) % 1000003L) - 1000003L
  }

  /** All sign projections run in EXACT integer arithmetic: the vector
    * quantizes to the ×2^20 grid (the same HALF_UP quantizer as
    * quantize_1m — round() in every engine) and each projection is a
    * long dot against the integer planes. |q| < 2^36 keeps every term
    * below 2^57 and 64-term sums below 2^63, so bucket ids are
    * engine-portable and oracle-checkable — no float sign decision
    * anywhere (an FMA-contracting compiler cannot flip a near-zero
    * projection). Planes are deterministic in (row, dim) via
    * [[planeInt]]; the native expression (plans.SignLshExpr) embeds
    * them precomputed to `LshDimCap` dims — the UDF form it replaced
    * re-derived every component by hashing, per row. 256 covers every
    * vector relation in the engine; the expression fails loudly (no
    * silent truncation) past the cap.
    */
  private val LshDimCap = 256

  private def lshPlanes(rows: Int): Array[Long] = {
    val p = new Array[Long](rows * LshDimCap)
    var i = 0
    while (i < rows) {
      var j = 0
      while (j < LshDimCap) { p(i * LshDimCap + j) = planeInt(i, j); j += 1 }
      i += 1
    }
    p
  }

  /** One bucket id PER HASH TABLE, all tables as one native codegen
    * pass (see plans.SignLshExpr): quantize once, `tables`·`bits` exact
    * long dots, sign bits packed per table. Table t projects onto
    * hyperplane rows t·bits .. t·bits+bits−1 of the same planeInt grid,
    * so table 0 is [[signLshBuckets]] exactly and extra tables are new
    * independent projections — the standard LSH recall knob (union of
    * per-table candidates).
    */
  private def tableBucketsCol(vecCol: Column, bits: Int, tables: Int): Column =
    graft.plans.ArrayOps.sign_lsh_buckets(
      vecCol, lshPlanes(tables * bits), tables, bits, LshDimCap)

  /** Sign-random-projection bucket id over `bits` hyperplanes
    * (quantized-exact — see [[tableBucketsCol]]).
    */
  def signLshBuckets(df: DataFrame, idCol: String, vecCol: String, bits: Int): DataFrame =
    df.withColumn("bucket", tableBucketsCol(col(vecCol), bits, 1).getItem(0))

  /** LSH-bucketed top-k: probes only compare against candidates
    * sharing a bucket in ANY of `tables` independent hash tables.
    * 2^bits controls the per-table scan fraction; `tables` is the
    * recall knob (candidate union grows, misses shrink — the
    * multi-table construction of Indyk–Motwani / E2LSH). With
    * tables=1 this is exactly the single-table shape. In-bucket
    * scoring is the exact re-rank of the candidate pairs, so ranks
    * are bit-stable and the whole query — including the per-table
    * bucket routing — is oracle-checkable.
    *
    * Scale: the candidate join and the pair dedup move (t, bucket,
    * id) and (probe_id, cand_id) ONLY — no vector ever rides a
    * shuffle (ScaleSpec asserts the distinct's exchange feeder is
    * array-free). Vectors enter late, in the re-rank.
    */
  def topKLsh(
      df: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 8,
      tables: Int = 1
  ): DataFrame = {
    require(bits >= 1 && tables >= 1, "topKLsh needs bits >= 1 and tables >= 1")
    val candKeys = df
      .select(col(idCol).as("cand_id"),
        posexplode(tableBucketsCol(col(vecCol), bits, tables))
          .as(Seq("t", "bucket")))
    val probeKeys = probes
      .select(col(idCol).as("probe_id"),
        posexplode(tableBucketsCol(col(vecCol), bits, tables))
          .as(Seq("t", "bucket")))
    // a pair agreeing in several tables scores once; the dedup
    // exchange carries two ids per row, nothing else
    val pairs = candKeys
      .join(broadcast(probeKeys), Seq("t", "bucket"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select("probe_id", "cand_id")
      .distinct()
    exactRerank(pairs, df, probes, idCol, vecCol, k)
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN: k-means coarse quantizer → per-list
  // candidate scan. Centroids are metadata (k×dim doubles) and live on
  // the driver/broadcast; data never leaves its partition except the
  // one shuffle that groups vectors into lists.
  // ------------------------------------------------------------------

  final case class IvfIndex(centroids: Array[Array[Double]], assignments: DataFrame)

  private def toDense(v: Seq[Float]): Array[Double] = {
    val out = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { out(i) = v(i).toDouble; i += 1 }
    out
  }

  private def nearestCentroids(x: Array[Double], cs: Array[Array[Double]], n: Int): Seq[Int] =
    cs.indices
      .map { c =>
        var d = 0.0
        var i = 0
        val cv = cs(c)
        while (i < x.length) { val t = x(i) - cv(i); d += t * t; i += 1 }
        (c, d)
      }
      .sortBy { case (c, d) => (d, c) }
      .take(n)
      .map(_._1)

  /** The probe lists of the IVF faces: one `list_id` row per each of a
    * probe's `nProbe` nearest centroids (squared L2, ties to the
    * smaller list), the centroids broadcast once.
    */
  private[similarity] def probeLists(
      ivf: IvfIndex,
      probes: DataFrame,
      vecCol: String,
      nProbe: Int
  ): Column = {
    val bc = probes.sparkSession.sparkContext.broadcast(ivf.centroids)
    val lists = udf { (v: Seq[Float]) =>
      nearestCentroids(toDense(v), bc.value, nProbe)
    }
    explode(lists(col(vecCol))).as("list_id")
  }

  /** Vector components as (keys..., pos, x, xq) rows, where xq is the
    * one scalar quantizer: x on the ×2^20 grid, HALF_UP rounded like
    * quantize_1m.
    */
  private[similarity] def components(df: DataFrame, vecCol: String, keys: Column*): DataFrame =
    df.select(keys :+ posexplode(col(vecCol)).as(Seq("pos", "x")): _*)
      .withColumn("xq", round(col("x").cast("double") * QuantScale, 0).cast("long"))

  /** The Lloyd mean step of [[ivfBuild]] and [[Pq.pqBuild]]: for each
    * cell (its int coordinates `cell`) of the [[components]] rows, the
    * INTEGER-EXACT mean sum(xq) / (2^20·count). The long sum is
    * order-free — a float avg() would depend on partial-aggregation
    * order and make the index nondeterministic on a cluster — and the
    * mean is one double division, so the means are bit-reproducible at
    * any parallelism AND replayable by a SQL oracle. Cells are
    * codebook-sized, so collecting them is cheap at any corpus size.
    */
  private[similarity] def cellMeans(comps: DataFrame, cell: String*): Array[(Seq[Int], Double)] = {
    val n = cell.length
    comps
      .groupBy(cell.map(col): _*)
      .agg(sum(col("xq")), count(lit(1)))
      .collect()
      .map(r => ((0 until n).map(r.getInt),
        r.getLong(n).toDouble / (QuantScale * r.getLong(n + 1).toDouble)))
  }

  /** Build an IVF index: deterministic init (the `nLists` smallest ids
    * seed the centroids), `iters` Lloyd steps computed relationally
    * ([[cellMeans]] per (list, dim)), assignments as (id, vec,
    * list_id). The whole index is bit-reproducible at any parallelism
    * and replayable by a SQL oracle.
    *
    * Training bound for the Lloyd iterations, `trainCap` semantics:
    * -1 (default) auto-sizes to max(Pq.DefaultTrainCap, 64·nLists) —
    * the FAISS max_points_per_centroid posture, growing with the list
    * count so auto-scaled SemDeDup clusterings (nLists ≈ n/2048)
    * still see ~64 points per centroid while training only ~3% of the
    * corpus; 0 disables the bound. The sample is the trainCap
    * smallest rows under the deterministic hash order (md5 of the
    * id's decimal string, id tiebreak) — seedless, uniform, and
    * DuckDB-replayable as `ORDER BY md5(CAST(id AS VARCHAR)), id
    * LIMIT cap` — selected as an id-only TakeOrdered and applied as a
    * broadcast semi-join, so training stays partition-parallel and
    * nothing corpus-sized collects. ENCODING (the final assignment
    * relation) still covers every vector; under the cap the semi-join
    * passes all rows — bit-identical to unbounded training.
    */
  def ivfBuild(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int = 16,
      iters: Int = 3,
      trainCap: Int = -1
  ): IvfIndex = {
    require(nLists >= 1 && iters >= 1, "ivfBuild needs nLists >= 1 and iters >= 1")
    val cap =
      if (trainCap < 0) math.max(Pq.DefaultTrainCap, 64 * nLists)
      else trainCap
    require(cap <= 0 || cap >= nLists,
      s"ivfBuild needs trainCap >= nLists (every list needs a chance at members), got $cap < $nLists")
    var centroids: Array[Array[Double]] = df
      .orderBy(col(idCol).asc)
      .limit(nLists)
      .select(vecCol)
      .collect()
      .map(r => toDense(r.getSeq[Float](0)))
    val trainDf =
      if (cap <= 0) df
      else {
        // hash projected BEFORE the TakeOrdered: sort-order expressions
        // are re-evaluated per heap comparison, a projected column is
        // computed once per row
        val ids = df
          .select(col(idCol), md5(col(idCol).cast("string")).as("__train_h"))
          .orderBy(col("__train_h").asc, col(idCol).asc)
          .limit(cap)
          .select(col(idCol))
        df.join(broadcast(ids), Seq(idCol), "left_semi")
      }
    var assignments: DataFrame = null
    for (it <- 0 until iters) {
      // native codegen assignment (plans.PqEncodeExpr, m=1 special
      // case): the corpus-sized encode pass runs as a primitive loop
      // inside WholeStageCodegen — no Seq[Float] UDF boxing per row.
      // Argmin with strict < over ascending centroid index == the
      // nearestCentroids (d, c) sort's head — same tie-break.
      val assign = graft.plans.ArrayOps.kmeans_assign(col(vecCol), centroids)
      // final assignment relation covers EVERY vector under the last
      // iteration's pre-update centroids; mean statistics below come
      // from the bounded training sample only
      if (it == iters - 1)
        assignments =
          df.select(col(idCol), col(vecCol), assign.as("list_id"))
      val comps = components(
        trainDf.select(assign.as("list_id"), col(vecCol)), vecCol, col("list_id"))
      val next = centroids.map(_.clone())
      cellMeans(comps, "list_id", "pos").foreach { case (Seq(l, d), mean) =>
        next(l)(d) = mean
      }
      centroids = next
    }
    IvfIndex(centroids, assignments)
  }

  /** IVF search: each probe scans its `nProbe` nearest lists only —
    * the scan fraction is ~nProbe/nLists (FAISS-style coarse
    * quantization), trading recall for throughput at 100 TB.
    */
  def topKIvf(
      index: IvfIndex,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 4
  ): DataFrame = {
    val p = prepQ(probes, vecCol, "a", col(idCol).as("probe_id"),
      probeLists(index, probes, vecCol, nProbe))
    val c = prepQ(index.assignments, vecCol, "b", col(idCol).as("cand_id"), col("list_id"))
    rankByCos(c.join(broadcast(p), Seq("list_id")).filter(col("probe_id") =!= col("cand_id")),
      "probe_id", "cand_id", k)
  }

  /** Dot of two quantized long vectors via the native codegen'd
    * ArrayDotProduct (double accumulation — exact under the QuantScale
    * bounds: products < 2^42, 64-term sums < 2^48 < 2^53, identical to
    * the oracle's BIGINT-sum-then-cast).
    */
  def quantDot(x: Column, y: Column): Column =
    graft.plans.ArrayOps.array_dot(x, y)

  /** Exact all-pairs near-dup (a<b, quantized cos ≥ minCos) over one
    * relation: the keyless self-pair tail — vectors prep ONCE, then a
    * broadcast self theta-join leaves only one long-dot per pair — the
    * oracle-checkable brute-force face of embedding dedup. SCALE
    * CEILING: the broadcast side is the ENTIRE quantized relation, sent to
    * every executor — hard limit ~8 GB serialized / available driver
    * and executor memory, i.e. audit/oracle workloads only (≲ a few
    * million small vectors). Never run this on a corpus; use
    * cosineNearDupPairs' LSH buckets, which shuffle only bucket-local
    * candidates.
    */
  def cosineExactPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double
  ): DataFrame =
    selfPairs(df, idCol, vecCol, minCos, None)

  /** Seed-centroid similarity gate: score every corpus embedding by
    * cosine to the CENTROID of a small curated seed set — the
    * embedding-space analogue of the GPT-3 quality classifier (score
    * against "what good data looks like", keep the high-scorers;
    * the same shape SemDeDup-era pipelines use for seed-corpus
    * filtering). Cosine to the mean equals cosine to the sum, but the
    * centroid is materialized as an INTEGER mean on the QuantScale
    * grid so every downstream product stays inside the exact-in-double
    * bound regardless of seed count; the mean divides via the
    * +2^21-shift trick, making truncating (Spark `div`) and flooring
    * (DuckDB `//`) division agree on negative sums.
    *
    * Scale: the centroid is ONE aggregation over the seed set
    * collapsed to dim rows (codebook pattern — driver metadata at any
    * corpus size); scoring is a zero-shuffle per-row dot against the
    * broadcast literal. Nothing corpus-sized moves.
    *
    * Returns (idCol, dot_centroid [exact long], cos_centroid, keep =
    * cos ≥ minCos); the cos double is bit-identical across engines
    * (exact integer dot, IEEE sqrt/divide in fixed order).
    */
  def seedCentroidScores(
      corpus: DataFrame,
      seeds: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double
  ): DataFrame =
    seedCentroidApply(corpus, seedCentroidFit(seeds, idCol, vecCol),
      idCol, vecCol, minCos)

  /** The fitted seed model: integer-mean centroid on the QuantScale
    * grid + its precomputed norm. Driver metadata (dim longs) — the
    * fit/apply split is what makes the gate streaming-safe: fit once
    * on a seed snapshot, apply as a stateless per-row map on batch
    * tables and streaming micro-batches alike.
    */
  final case class SeedCentroid(cq: Seq[Long], norm: Double)

  def seedCentroidFit(
      seeds: DataFrame,
      idCol: String,
      vecCol: String
  ): SeedCentroid = {
    val half = 2097152L // 2 * QuantScale: |xq| <= 2^21, so csum+n*half >= 0
    val nSeeds = seeds.count()
    require(nSeeds > 0, "seedCentroidFit needs a non-empty seed set")
    val centRows = components(seeds, vecCol)
      .groupBy("pos")
      .agg(sum(col("xq")).as("csum"))
      .select(col("pos"),
        (expr(s"CAST((csum + ${nSeeds * half}L) div ${nSeeds}L AS BIGINT)")
          - lit(half)).as("cq"))
      .orderBy("pos")
      .collect()
    val cq = new Array[Long](centRows.length)
    centRows.foreach(r => cq(r.getAs[Int]("pos")) = r.getAs[Long]("cq"))
    var cn2 = 0L
    cq.foreach(c => cn2 += c * c)
    SeedCentroid(cq.toSeq, math.sqrt(cn2.toDouble))
  }

  /** Stateless scoring against a fitted [[SeedCentroid]]: one
    * codegen'd per-row projection (quantize, two dots, IEEE divide) —
    * zero shuffle, no aggregation, identical on batch tables and
    * streaming micro-batches.
    */
  def seedCentroidApply(
      corpus: DataFrame,
      model: SeedCentroid,
      idCol: String,
      vecCol: String,
      minCos: Double
  ): DataFrame = {
    val cqLit = typedLit(model.cq)
    prepQ(corpus, vecCol, "a", col(idCol))
      .withColumn("dot_centroid", quantDot(col("qa"), cqLit).cast("long"))
      .withColumn("cos_centroid",
        col("dot_centroid").cast("double") / (sqrt(col("na")) * lit(model.norm)))
      .withColumn("keep", col("cos_centroid") >= minCos)
      .select(col(idCol), col("dot_centroid"), col("cos_centroid"), col("keep"))
  }

  /** SemDeDup (Abbas et al. '23, arXiv:2303.09540): semantic dedup by
    * clustering embeddings (k-means via [[ivfBuild]]) and dropping,
    * within each cluster, every item that has a lower-id clustermate
    * with cosine ≥ minCos — one deterministic representative chain per
    * within-cluster duplicate group. Cross-cluster near-dups are
    * missed by construction; that recall/cost trade IS the method (the
    * pairwise work is bounded by cluster size, never corpus²).
    *
    * Returns one row per DROPPED item:
    * (drop_id, keeper_id, n_dups, cos) where keeper is the smallest
    * qualifying lower id, n_dups counts qualifying lower-id partners,
    * and cos is the (keeper, dropped) cosine. All decisions ride the
    * quantized-integer cosine recipe, so the full drop set is
    * oracle-checkable — k-means iterations included.
    *
    * Scale: k-means cost is iters relational passes (centroids are
    * driver metadata, k×dim); the pair join shuffles (id, quantized
    * vec) on list_id once. Cluster-size skew is the knob: nLists
    * should grow with corpus size to keep E[cluster] ≈ corpus/nLists
    * bounded (SemDeDup used 50k clusters for LAION-440M) — and since
    * r13 it DOES: above `autoScaleDocs` vectors, nLists auto-raises to
    * ceil(n / targetCluster) (measured 27×/decade at sf10 with the
    * fixed 16 lists — 200k²/16 within-cluster dots — vs near-linear
    * scaled). The clustering, and therefore the drop set, changes
    * with k: that is SemDeDup's own contract (cluster count is the
    * method's recall/cost knob, k-dependent by design); every emitted
    * drop still carries an exactly-verified cos ≥ minCos witness.
    * Below the bound nothing changes (every oracle face).
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double,
      nLists: Int = 16,
      iters: Int = 2,
      autoScaleDocs: Long = 50000L,
      targetCluster: Int = 2048,
      knownCount: Option[Long] = None
  ): DataFrame = {
    // the auto-scale pick needs |df| — an eager count is one full pass
    // over the vectors relation, so composed pipelines that already
    // counted the stage pass it via knownCount instead of re-scanning
    // (ADVICE r13; AnnLshSpec pins plan equality)
    val n = knownCount.getOrElse(df.count())
    val effLists =
      if (n <= autoScaleDocs) nLists
      else {
        val e = math.max(nLists,
          math.ceil(n.toDouble / targetCluster).toInt)
        log.warn(s"semanticDedup: corpus has $n vectors — raising " +
          s"nLists $nLists -> $e (cluster-bounded pairwork; see scaladoc)")
        e
      }
    val idx = ivfBuild(df, idCol, vecCol, effLists, iters)
    val pairs = selfPairs(idx.assignments, idCol, vecCol, minCos, Some("list_id"))
    val wb = Window.partitionBy(col("b")).orderBy(col("a").asc)
    pairs
      .withColumn("__rn", row_number().over(wb))
      .withColumn("n_dups", count(lit(1)).over(Window.partitionBy(col("b"))))
      .filter(col("__rn") === 1)
      .select(
        col("b").as("drop_id"),
        col("a").as("keeper_id"),
        col("n_dups"),
        col("cos"))
  }

  /** Cluster-balanced subset selection: cap every k-means cluster at
    * `quota` members, chosen in salted-md5 order — the
    * diversity-preserving downsample of embedding-space curation
    * (cluster-capped sampling; the balancing move DataComp/SemDeDup
    * -style pipelines apply after clustering so dominant modes are
    * trimmed while rare clusters survive intact).
    *
    * Selection order is (md5(salt:id), id): a reproducible "random"
    * draw within each cluster — pure function of (salt, id), so the
    * same subset falls out on any engine or partitioning, and a new
    * salt gives an independent draw (same contract as
    * [[graft.text.Sampling.saltedHex]]).
    *
    * Scale: rides the native [[graft.plans.TopKPerKey]] operator —
    * per-partition partial top-quota heaps before the single
    * (cluster)-keyed exchange, so the shuffle carries at most
    * partitions·quota rows per cluster and the output is bounded by
    * nLists·quota regardless of corpus size. A full window-sort per
    * cluster would shuffle the whole assignment table instead.
    *
    * Returns (cluster, id) — the kept subset.
    */
  def clusterBalancedSample(
      index: IvfIndex,
      idCol: String,
      quota: Int,
      salt: String
  ): DataFrame = {
    require(quota >= 1, s"quota must be >= 1, got $quota")
    val base = index.assignments.select(
      col("list_id").cast("long").as("cluster"),
      col(idCol),
      graft.text.Sampling.saltedHex(salt, col(idCol)).as("__hk"))
    graft.plans.TopKPerKey
      .topKPerKey(
        base,
        keyCols = Seq(col("cluster")),
        orderCols = Seq(col("__hk").asc, col(idCol).asc),
        k = quota)
      .select(col("cluster"), col(idCol))
  }

  /** Embedding near-duplicate pairs (cos ≥ minCos) via LSH buckets +
    * exact verification within bucket. Verification is the
    * quantized-exact cosine, so the threshold decision is bit-stable
    * and the whole pair set oracle-checkable.
    */
  def cosineNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double,
      bits: Int = 6,
      autoScaleDocs: Long = 50000L,
      targetBucket: Int = 2048,
      knownCount: Option[Long] = None
  ): DataFrame = {
    // AUTO-SCALED BUCKET GRANULARITY (r13, the simHashPairs precedent):
    // a FIXED bit width has an n²/2^bits candidate floor — measured
    // 64×/decade at sf10 (200k vectors / 2⁴ buckets = 1.25e9 in-bucket
    // dots AND only 16 parallel join groups; 90.5 s wall, the first
    // similarity decade pair caught it). Above `autoScaleDocs` vectors
    // the bit width grows to keep the expected bucket near
    // `targetBucket` (more sign planes = strictly FINER buckets: the
    // plane sequence is a prefix, so the scaled pair set is a PROVABLE
    // SUBSET of the requested-bits set — precision stays exact, every
    // emitted pair is verified cos ≥ minCos; recall of
    // threshold-grazing pairs drops, which is the inherent
    // single-table sign-LSH trade — AnnSpec pins the subset). Below
    // the bound nothing changes (every oracle face: sf0.001…sf1).
    // knownCount: see semanticDedup — callers with a counted stage
    // skip the extra full pass over the vectors relation (ADVICE r13)
    val n = knownCount.getOrElse(df.count())
    val effBits =
      if (n <= autoScaleDocs) bits
      else {
        val needed = math.ceil(
          math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt
        val e = math.max(bits, needed)
        log.warn(s"cosineNearDupPairs: corpus has $n vectors — raising " +
          s"sign-LSH bits $bits -> $e (bounded recall; see scaladoc)")
        e
      }
    selfPairs(signLshBuckets(df, idCol, vecCol, effBits), idCol, vecCol, minCos,
      Some("bucket"))
      .distinct()
  }
}
