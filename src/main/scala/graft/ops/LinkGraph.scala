package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph ranking: integer-exact PageRank (Page et al. '99), the
  * domain-quality weighting a crawl-scale corpus runs before sampling
  * (CommonCrawl publishes exactly this as its harmonic/PageRank domain
  * ranks; quality-weighted mixtures consume it as a per-domain prior).
  *
  * Beside `Dedup.connectedComponents` (the only other iterative graph
  * op in the engine) this adds the weighted-propagation family:
  * rank mass flows along out-edges with damping.
  *
  * Determinism: all arithmetic is scaled BIGINT with floor division —
  * rank_0 = `scale`, each round
  *
  *   rank'(v) = base + Σ_{(u,v)∈E} (rank(u)·dampNum) div (dampDen·out(u))
  *
  * with base = (scale·(dampDen−dampNum)) div dampDen. No float touches
  * a rank, so any engine replays it bit-for-bit (DuckDB: `//`). Floor
  * division leaks ≤1 unit per edge per round — irrelevant at
  * scale=10⁶ — and dangling-node mass evaporates (the standard
  * simplification; ranks are relative weights, not a distribution).
  *
  * Scale shape (the 100 TB story): this is the canonical Pregel/GraphX
  * iteration expressed as DataFrame joins, with a two-posture plan
  * keyed on the RANK-TABLE size (the same broadcast-or-shuffle
  * discipline as `Dedup.verifyPairs`):
  *   - **node count ≤ `spark.graft.pagerank.broadcastMaxNodes`
  *     (default 4M)**: the rank table is a few MB per round, so it is
  *     BROADCAST into a map-side hash join against the edge list
  *     cached pre-partitioned by `dst` — the per-round contribution
  *     sum then needs NO exchange at all (the aggregate's required
  *     `dst` distribution is satisfied by the cache partitioning
  *     flowing through the broadcast join), and the rank rebuild joins
  *     two co-partitioned caches. Zero edge-sized shuffle per round;
  *     the only per-round traffic is one n-row broadcast. This is the
  *     domain-graph regime: CommonCrawl's domain rank covers ~90M
  *     domains — node tables orders of magnitude smaller than the
  *     edge set they rank.
  *   - **above the bound** (true page-level web graphs): the classic
  *     two-shuffle Pregel round — the rank table re-keys to `src` and
  *     sort-merge-joins the src-partitioned edge cache (only the
  *     n-row rank side moves), then one sum-by-dst shuffle — both on
  *     8-byte keys carrying 8-byte values, never adjacency payloads.
  *   - either way, `edges` is pre-joined with out-degrees ONCE and
  *     cached, and lineage is truncated with `localCheckpoint` every
  *     `checkpointEvery` rounds so 50-round runs don't build a
  *     50-deep plan (the classic iterative-Spark failure mode).
  * Overflow headroom: max rank ≤ n·scale, so rank·dampNum needs
  * n·scale·dampNum < 2⁶³ — at scale=10⁶ that admits ~10¹¹ nodes.
  */
object LinkGraph {

  /** @param edges  (src: Long, dst: Long) — caller pre-distincts.
    * @return (node: Long, rank: Long) after `iters` rounds.
    */
  def pageRank(
      edges: DataFrame,
      iters: Int,
      scale: Long = 1000000L,
      dampNum: Long = 85L,
      dampDen: Long = 100L,
      checkpointEvery: Int = 5): DataFrame =
    pageRankWithCleanup(edges, iters, scale, dampNum, dampDen,
      checkpointEvery)._1

  /** [[pageRank]] plus an explicit storage release handle, mirroring
    * [[graft.dedup.Dedup.connectedComponentsDistributedWithCleanup]]:
    * the returned frame is backed by the final localCheckpoint, whose
    * blocks DataFrame.unpersist cannot free (no-op on a
    * LogicalRDD-backed frame) — callers that materialize a derivative
    * call `cleanup()` to release them immediately instead of leaking
    * storage across repeated invocations (RepeatGuardSpec pins this).
    * Intermediate cadence checkpoints are freed inside the loop as
    * soon as the next one materializes.
    */
  def pageRankWithCleanup(
      edges: DataFrame,
      iters: Int,
      scale: Long = 1000000L,
      dampNum: Long = 85L,
      dampDen: Long = 100L,
      checkpointEvery: Int = 5): (DataFrame, () => Unit) = {
    require(iters >= 1, "iters >= 1")
    val spark = edges.sparkSession
    // the edge input is scanned three times before the rounds even
    // start (out-degrees, sink-node distinct, degree annotation) — an
    // uncached relational preamble would re-execute per scan, so pin
    // it for the state build (GraphX caches its graph for the same
    // reason); released with the other shared state below
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .persist()
    // out-degrees are node-table-sized and reused three times (node
    // build, posture pick, edge annotation) — cache them
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).persist()

    // node table = sources (free from outDeg) ∪ distinct sinks: one
    // single-column edge-sized shuffle instead of dedup-ing the
    // 2|E|-row src∪dst union
    val nodes = outDeg.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")).distinct())
      .distinct()
      .persist()
    // posture pick: one count over the (cached, needed-anyway) node
    // table decides whether the per-round rank table broadcasts.
    // Driver-memory note (ADVICE r13): the broadcast posture collects
    // the rank table (16 B/row -> ~64 MB at the 4M default) to the
    // driver EVERY round, and dead rounds' broadcast blocks are only
    // reaped when GC notices the weak refs — so the default bound
    // assumes a multi-GB driver heap; size broadcastMaxNodes to
    // roughly driverHeap / (16 B x a few in-flight rounds) on small
    // drivers, or the shuffle posture kicks in safely above it
    val broadcastMaxNodes = spark.conf
      .getOption("spark.graft.pagerank.broadcastMaxNodes")
      .map(_.toLong).getOrElse(4000000L)
    val useBroadcast = nodes.count() <= broadcastMaxNodes

    // edge list annotated with out-degree, built once, reused per
    // round. Broadcast posture: out-degrees (≤ bound rows) broadcast
    // into a map-side join and the single edge-sized shuffle is spent
    // where the rounds need it — partitioning by dst, so the
    // contribution sum aggregates with no exchange at all. Shuffle
    // posture: the out-degree join is pinned to sort-merge — a
    // broadcast out-degree join would leave the cache with the scan's
    // (unpartitioned) layout and EVERY round would reshuffle the full
    // edge list by src; born hash(src)-partitioned and sorted, each
    // round moves only the n-row rank table
    val eo = (if (useBroadcast)
                e.join(broadcast(outDeg), "src").repartition(col("dst"))
              else e.join(outDeg.hint("shuffle_merge"), "src"))
      .persist()

    val base = (scale * (dampDen - dampNum)) / dampDen
    var ranks = nodes.select(col("node"), lit(scale).as("rank"))
    var prevCheckpoint: Option[org.apache.spark.rdd.RDD[_]] = None
    def releasePrev(next: DataFrame): Unit = {
      // the new checkpoint is eager, so the previous cadence
      // checkpoint has no readers left — free its blocks now
      prevCheckpoint.foreach(_.unpersist(blocking = false))
      prevCheckpoint = graft.core.Graft.checkpointRdd(next)
    }
    for (i <- 1 to iters) {
      val rsrc = ranks.withColumnRenamed("node", "src")
      val contribs = eo
        .join(if (useBroadcast) broadcast(rsrc) else rsrc, "src")
        .select(col("dst"),
          expr(s"(rank * ${dampNum}L) DIV (${dampDen}L * outdeg)").as("c"))
        .groupBy("dst")
        .agg(sum("c").as("in_mass"))
      ranks = nodes
        .join(contribs.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("in_mass"), lit(0L))).as("rank"))
      if (i % checkpointEvery == 0 && i < iters) {
        ranks = ranks.localCheckpoint()
        releasePrev(ranks)
      }
    }
    // materialize before dropping the shared caches (localCheckpoint is
    // eager) so the returned frame never recomputes the edge build
    val out = ranks.localCheckpoint()
    releasePrev(out)
    eo.unpersist()
    nodes.unpersist()
    outDeg.unpersist()
    e.unpersist()
    (out, () => prevCheckpoint.foreach(_.unpersist(blocking = false)))
  }
}
