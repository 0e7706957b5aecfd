package graft.similarity

import graft.plans.ArrayOps.quantize_1m
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** In-context pretraining document ordering (Shi et al. '24, ICLM —
  * arXiv:2310.10638): order a corpus so SEMANTICALLY RELATED documents
  * are adjacent, then pack contexts in that order — the paper's
  * retrieved-context curriculum, here as a deterministic engine op.
  *
  * Shape: k-means coarse clusters (the exact `Ann.ivfBuild` machinery
  * the IVF/SemDeDup family already certifies) split the corpus into
  * bounded cells; within each cell a greedy nearest-neighbor chain
  * (start at the smallest id, repeatedly hop to the most-similar
  * unvisited member) produces the local ordering — the paper's
  * traveling-salesman approximation, made reproducible:
  *
  *  - similarity is the quantized-exact cosine (×2^20 integer grid,
  *    long dot products < 2^48, IEEE sqrt/division in fixed
  *    association order) — bit-identical on any engine, so the greedy
  *    DECISION chain replays exactly (ties break to the smaller id);
  *  - the chain runs inside `flatMapGroups` per cluster: O(m²) dots
  *    for cluster size m, never corpus², and no driver involvement.
  *
  * Scale posture: cluster sizes are corpus∕nLists in expectation —
  * size nLists so cells fit one task (10⁹ docs / 2¹⁴ lists ≈ 60k per
  * cell ≈ 4·10⁹ dot products worst case: at that scale swap the exact
  * inner loop for the IVF-shortlist composition documented in
  * `Ann.hardNegatives`). The output (cluster, id, pos) feeds
  * `TextAnalysis.packSequences` in (cluster, pos) order in place of
  * id order — same packing machinery, semantic adjacency.
  */
object Iclm {

  /** @return one row per input vector: (cluster 1-based, idCol, pos
    *         1-based within the cluster's greedy chain).
    *
    * @param targetCell when > 0, the list count grows with the corpus
    *        (`max(nLists, ceil(n / targetCell))`) so expected cell size
    *        — and with it the O(cell²) chain cost per task — stays
    *        CONSTANT across scale decades instead of the cost growing
    *        n²/nLists. Total work is then n·targetCell dots ≈ linear.
    *        Corpora at or below nLists·targetCell are unaffected (the
    *        floor keeps small-scale output bit-identical), so oracle
    *        replays pinned to nLists stay green while the 100× run
    *        stops being quadratic (measured 29×/decade at sf10 with a
    *        fixed 16 lists; ~8×/decade with targetCell=4096).
    */
  def iclmOrder(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int = 16,
      iters: Int = 2,
      maxClusterSize: Int = 1 << 20,
      targetCell: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val lists =
      if (targetCell <= 0) nLists
      else {
        val n = df.count()
        math.max(nLists.toLong, (n + targetCell - 1) / targetCell).toInt
      }
    val idx = Ann.ivfBuild(df, idCol, vecCol, lists, iters)
    val ds = idx.assignments
      .select(
        col("list_id").cast("int").as("li"),
        col(idCol).cast("long").as("id"),
        quantize_1m(col(vecCol)).as("q"))
      .as[(Int, Long, Seq[Long])]

    ds.groupByKey(_._1)
      .flatMapGroups { (li, it) =>
        val members = it.map { case (_, id, qv) => (id, qv.toArray) }
          .toArray.sortBy(_._1)
        require(members.length <= maxClusterSize,
          s"cluster $li has ${members.length} members > $maxClusterSize — " +
            "raise nLists (cells must fit one task)")
        val n = members.length
        val nsq = members.map { m =>
          var s = 0L; val a = m._2
          var k = 0; while (k < a.length) { s += a(k) * a(k); k += 1 }
          s
        }
        val visited = new Array[Boolean](n)
        val order = new Array[Int](n)
        visited(0) = true // members sorted by id → index 0 is the min-id seed
        var cur = 0
        var pos = 1
        while (pos < n) {
          var best = -1
          var bestCos = 0.0d
          var j = 0
          while (j < n) {
            if (!visited(j)) {
              var dot = 0L
              val a = members(cur)._2; val b = members(j)._2
              var k = 0; while (k < a.length) { dot += a(k) * b(k); k += 1 }
              // exact-operand double chain: dot < 2^48 and nsq < 2^48 are
              // exactly representable; sqrt is correctly rounded IEEE —
              // the comparison replays bit-identically in the oracle
              val cos = dot.toDouble /
                (math.sqrt(nsq(cur).toDouble) * math.sqrt(nsq(j).toDouble))
              // strict > with ascending j = ties break to the smaller id
              if (best < 0 || cos > bestCos) { best = j; bestCos = cos }
            }
            j += 1
          }
          visited(best) = true
          order(pos) = best
          cur = best
          pos += 1
        }
        (0 until n).iterator.map { p =>
          (li + 1L, members(order(p))._1, (p + 1).toLong)
        }
      }
      .toDF("cluster", idCol, "pos")
  }
}
