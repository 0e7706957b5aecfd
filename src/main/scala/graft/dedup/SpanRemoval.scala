package graft.dedup

import graft.plans.RebuildUnitsExpr.Tokens
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ExactSubstr-style duplicated-span removal (Lee et al. '22 §3.1) —
  * the span-removal third of the exact-dedup family, split from
  * Dedup.scala for file hygiene (VERDICT r14 #6). Mixed into
  * [[Dedup]]; every call site keeps the `Dedup.removeDuplicateSpans*`
  * API. The shared occurrence core (unit digest, first-occurrence
  * rank, position gather) and the one join-and-rebuild tail
  * ([[Dedup.rebuildAt]], token units in drop mode here) stay in
  * Dedup.scala, where the other sub-document faces use them too.
  */
private[dedup] trait SpanRemovalOps { self: Dedup.type =>

  /** ExactSubstr-style duplicated-SPAN removal (Lee et al. '22,
    * "Deduplicating Training Data Makes Language Models Better" §3.1:
    * remove the repeated substring itself, everywhere past its first
    * occurrence, rather than dropping or keeping whole documents —
    * their suffix-array ExactSubstr tool, here as the standard
    * distributed sliding-window approximation at token granularity).
    *
    * Contract: every `windowTokens`-token sliding window that occurs
    * more than once in the corpus (any doc, any alignment — including
    * a second occurrence inside the SAME doc) keeps its globally first
    * occurrence (lexicographic (id, pos)) and is removed everywhere
    * else; removed windows union into maximal spans per doc (token-set
    * semantics, so overlapping windows merge for free). A duplicated
    * span of length L ≥ windowTokens is covered end-to-end by its own
    * sliding windows, so the whole span disappears — contrast
    * [[windowDedup]], whose NON-overlapping chunks miss any duplicate
    * shifted off chunk alignment. Returns (id, clean_text, n_tokens,
    * n_removed); docs shorter than the window pass through untouched;
    * NULL text passes through as NULL on all three output columns.
    * Known ExactSubstr edge (documented, spec-pinned): a doc can win
    * one window and lose an overlapping one, leaving sub-window
    * fragments at span borders — exactly the reference tool's
    * behavior.
    *
    * Scale shape (the [[paragraphDedup]] discipline, token-granular):
    * the first-occurrence rank shuffles ONLY (16-byte digest, id,
    * pos) triples — one row per corpus token, never the text — and is
    * the sort-free two-phase min of [[firstOccurrenceRank]], so a hot
    * boilerplate window repeated across 10⁸ docs cannot pin one sort
    * reducer; the removal relation is duplication-bound and id-keyed;
    * text moves once, and each doc is rebuilt in-row by the native unit
    * rebuild ([[rebuildAt]]). Window generation is one compiled loop
    * per doc ([[spanWindows]]).
    */
  def removeDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 50
  ): DataFrame =
    spanScrub(df, None, idCol, textCol, windowTokens, batchInternal = true)

  /** Incremental [[removeDuplicateSpans]] — the refresh/ingest shape:
    * scrub from each NEW document every `windowTokens`-token window
    * that occurs anywhere in the STANDING corpus (the curated history
    * always wins — no rank, its copy is by definition first), plus —
    * when `batchInternal` (default) — any window already seen EARLIER
    * in the new batch itself ((id, pos) order, so batch-internal
    * duplication collapses exactly as the batch version would).
    * History documents are never rewritten. `batchInternal = false` is
    * the order-free posture
    * [[graft.streaming.Incremental.spanScrubStream]] runs: the scrub
    * is then a pure function of (doc, history), invariant under any
    * micro-batching, and the rank shuffle is skipped entirely.
    *
    * Scale shape: the history side reduces to its DISTINCT window
    * digests (16 bytes per distinct window, built once per refresh —
    * at a standing 100 TB corpus this is the persisted window index a
    * refresh loop maintains incrementally, the same posture as
    * [[containmentPairsAgainst]]'s history postings); the join keys
    * new-batch digests against it — batch-sized, not corpus-sized —
    * and the rebuild runs over the batch only.
    */
  def removeDuplicateSpansAgainst(
      newDf: DataFrame,
      histDf: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 50,
      batchInternal: Boolean = true
  ): DataFrame =
    removeDuplicateSpansAgainstIndex(newDf,
      historySpanIndex(histDf, idCol, textCol, windowTokens),
      idCol, textCol, windowTokens, batchInternal)

  /** The history side of [[removeDuplicateSpansAgainst]] — the
    * standing corpus's DISTINCT window digests — precomputed so a
    * STREAMING ingest ([[graft.streaming.Incremental.spanScrubStream]])
    * can build (and cache) it once per stream instead of re-scanning
    * the history per micro-batch. Pure function of
    * (histDf, windowTokens); caller owns any persistence.
    */
  def historySpanIndex(
      histDf: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int
  ): DataFrame =
    spanWindows(histDf, idCol, textCol, windowTokens)
      .select("__digest").distinct()

  /** [[removeDuplicateSpansAgainst]] with the history digest index
    * supplied by [[historySpanIndex]] — identical output rows.
    */
  def removeDuplicateSpansAgainstIndex(
      newDf: DataFrame,
      histIdx: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 50,
      batchInternal: Boolean = true
  ): DataFrame =
    spanScrub(newDf, Some(histIdx), idCol, textCol, windowTokens, batchInternal)

  /** The one span scrub: drop from each doc of `df` every window known
    * to the history digest index (when there is one) plus, when
    * `batchInternal`, every window past its first occurrence in `df`
    * itself; gather the drop positions per doc and rebuild in-row
    * ([[rebuildAt]]: token units, each position drops `windowTokens`).
    * [[removeDuplicateSpans]] is the no-history case.
    */
  private def spanScrub(
      df: DataFrame,
      histIdx: Option[DataFrame],
      idCol: String,
      textCol: String,
      windowTokens: Int,
      batchInternal: Boolean
  ): DataFrame = {
    require(windowTokens >= 1, "windowTokens >= 1")
    val wins = spanWindows(df, idCol, textCol, windowTokens)
    // window known to history (semi-join on 16-byte digests)
    val inHist = histIdx.map(h =>
      wins.join(h, Seq("__digest"), "left_semi").select(col(idCol), col("pos")))
    // `batchInternal = false` is the STREAMING posture: each doc's
    // scrub is then a pure function of (doc, static history), so any
    // micro-batching of the input emits the same rows — the rank
    // (and its shuffle) is skipped entirely
    val inBatch =
      if (batchInternal) Some(laterOccurrences(wins, idCol, "pos")) else None
    // duplicate (id, pos) rows across the two branches are fine — the
    // rebuild marks covered tokens, which is idempotent on repeated
    // positions, so no distinct (and its shuffle) needed
    val drops = (inHist ++ inBatch).reduce(_ union _)
    val nToks = when(col(textCol).isNotNull,
      size(split(col(textCol), " ")).cast("long"))
    rebuildAt(df.select(col(idCol), col(textCol), nToks.as("n_tokens")),
      positionsById(drops, idCol, "pos"), idCol, textCol,
      Tokens, 1, windowTokens, keep = false)
      .select(col(idCol), col("__r.text").as("clean_text"), col("n_tokens"),
        (col("n_tokens") - col("__r.kept")).as("n_removed"))
  }

  /** (id, pos, __digest) of every `windowTokens`-token window — the
    * unit cut of the span faces ([[graft.text.TextAnalysis.ngramsUdf]],
    * one compiled loop per doc). */
  private def spanWindows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int
  ): DataFrame = df
    .select(col(idCol),
      posexplode(
        graft.text.TextAnalysis.ngramsUdf(windowTokens, distinct = false)(
          col(textCol))).as(Seq("pos", "__win")))
    .select(col(idCol), col("pos").cast("long").as("pos"),
      unitDigest(col("__win")))
}
