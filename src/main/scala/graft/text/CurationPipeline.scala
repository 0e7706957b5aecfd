package graft.text

import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed training-data curation pass — the text counterpart of
  * the audio flagship (SURVEY §3.1): [optional canonical-URL dedup] →
  * language gate → quality gate → [optional Gopher gate] → [optional
  * CCNet LM gate] → exact dedup → [optional paragraph dedup] →
  * near-dup dedup (keep cluster canonicals) → [optional exact
  * substring dedup] → PII redaction → chunking → sequence packing.
  * Every stage is one of the library's operators; the whole pass is a
  * single lazy plan tree plus the dedup joins. Corpus-global optional
  * stages (URL dedup, LM gate, paragraph/substring dedup) are
  * batch-only; the streaming face applies the stateless gates and
  * keyed exact dedup only.
  */
object CurationPipeline {

  final case class Config(
      allowedLangs: Seq[String] = Seq("en", "fr", "es", "de", "zh"),
      minQuality: Double = 0.25,
      minTokens: Long = 8L,
      nearDupN: Int = 3,
      nearDupJaccard: Double = 0.8,
      /** near-dup candidate strategy: LSH banding (the corpus-scale
        * path, ~98.5% recall at j=0.8 with 8×4) vs the exact
        * all-shingle self-join (oracle-checkable, but its candidate
        * volume grows with shingle df² — use for audits)
        */
      nearDupUseLsh: Boolean = true,
      /** additionally require TextAnalysis.gopherSignals' pass_gopher
        * (integer-exact Gopher rules) at the gate stage — applied
        * identically by the batch funnel and the streaming face
        */
      useGopherGate: Boolean = false,
      gopherMinWords: Long = 50L,
      /** additionally require TextAnalysis.repetitionKeep (Gopher's
        * repetition rules: top-2gram fraction cap + distinct-token
        * fraction floor, integer cross-multiplied) at the gate stage —
        * per-row (one compiled pass, no shuffle), so batch and
        * streaming faces apply it identically
        */
      useRepetitionGate: Boolean = false,
      maxTop2gramPermille: Int = 200,
      minDistinctPermille: Int = 300,
      /** optional CCNet-style LM quality gate (TextAnalysis.lmQuality)
        * against `lmModel` — corpus-global (needs a trained counts
        * relation), so it is a BATCH-only stage: the streaming face
        * applies only the stateless per-row gates
        */
      useLmGate: Boolean = false,
      lmModel: Option[DataFrame] = None,
      lmMinHitPermille: Int = 500,
      /** optional EXACT substring dedup (Dedup.substringDedup, Lee et
        * al. '22) after near-dup: duplicated windows are cut from all
        * but their canonical occurrence and fully-emptied docs drop.
        * Corpus-global (one shuffle on window hashes) — batch-only.
        */
      useSubstringDedup: Boolean = false,
      substringL: Int = 20,
      /** optional canonical-URL dedup front door (UrlOps): when the
        * relation carries a URL column, keep the min-id row per
        * canonical URL before any text work — the cheapest duplicate
        * kill in a web corpus. Corpus-global (first occurrence) —
        * batch-only.
        */
      urlCol: Option[String] = None,
      /** optional sub-document exact dedup (Dedup.windowDedup, the
        * C4/Dolma first-occurrence recipe over fixed-width word
        * windows — the corpus tables carry no newline structure; use
        * Dedup.paragraphDedup directly for newline-structured text)
        * after exact dedup: first corpus-wide occurrence survives,
        * docs reassembled; docs emptied by the cut drop out.
        * Corpus-global — batch-only.
        */
      paragraphDedupWords: Option[Int] = None,
      chunkTokens: Int = 256,
      chunkOverlap: Int = 32,
      seqLen: Long = 2048L
  )

  final case class Outputs(
      /** surviving documents with redacted text + provenance columns */
      docs: DataFrame,
      /** exploded training chunks of the survivors */
      chunks: DataFrame,
      /** packing offsets of the survivors in the global token stream */
      packing: DataFrame,
      /** per-stage row counts for the curation funnel */
      funnel: Seq[(String, Long)]
  ) {
    /** Release the cached survivor set once chunks/packing/docs have
      * been consumed.
      */
    def unpersist(): Unit = docs.unpersist()
  }

  /** The shared (batch + streaming) optional Gopher-rule predicate. */
  def gopherPredicate(text: org.apache.spark.sql.Column, cfg: Config): org.apache.spark.sql.Column =
    if (!cfg.useGopherGate) lit(true)
    else TextAnalysis
      .gopherSignals(text, minWords = cfg.gopherMinWords)
      .toMap.apply("pass_gopher")

  /** The shared (batch + streaming) optional repetition predicate. */
  def repetitionPredicate(text: org.apache.spark.sql.Column, cfg: Config): org.apache.spark.sql.Column =
    if (!cfg.useRepetitionGate) lit(true)
    else TextAnalysis.repetitionKeep(text,
      cfg.maxTop2gramPermille, cfg.minDistinctPermille)

  /** The shared (batch + streaming) gate over [[TextAnalysis.withGateSignals]]
    * columns: allowed language, quality floor, token floor, and the
    * optional Gopher and repetition rules on `text`.
    */
  def gatePredicate(text: org.apache.spark.sql.Column, cfg: Config): org.apache.spark.sql.Column =
    col("lang_pred").isin(cfg.allowedLangs: _*) &&
      col("quality") >= cfg.minQuality &&
      col("n_tok") >= cfg.minTokens &&
      gopherPredicate(text, cfg) &&
      repetitionPredicate(text, cfg)

  def run(input: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): Outputs = {
    require(!cfg.useLmGate || cfg.lmModel.isDefined,
      "useLmGate requires lmModel: a run with useLmGate=true and no model " +
        "would silently skip the LM quality gate")
    val n0 = input.count()

    // ---- optional canonical-URL dedup front door: one window over
    // the canonical key (a pure codegen'd projection), min id survives
    val (urlDeduped, urlFunnel) = cfg.urlCol match {
      case Some(u) =>
        // rank (canonical-url, id) ONLY — the full rows (text included)
        // must not ride the rank exchange; survivors come back via an
        // id semi-join (column pruning keeps the rank branch's scan to
        // two columns, and the text side moves at most once, id-keyed).
        // min(id) per canonical url IS row_number()===1 over (url, id)
        // — as a hash aggregate it is map-side combinable (a hot
        // boilerplate URL reduces to one row per map task) and never
        // sorts, where the window form pins every occurrence of a hot
        // key in one sort reducer (the r14 paragraph-dedup lesson).
        val keepIds = input
          .select(col(idCol), UrlOps.canonicalizeUrl(col(u)).as("__cu"))
          .groupBy(col("__cu"))
          .agg(min(col(idCol)).as(idCol))
          .select(col(idCol))
        // cached before its eager funnel count — otherwise the
        // corpus-wide dedup recomputes when the next stage (gated)
        // materializes (same discipline as every other funnel stage;
        // unpersisted once gated is counted below)
        val kept = input.join(keepIds, Seq(idCol), "left_semi").cache()
        (kept, Seq("url_dedup" -> kept.count()))
      case None => (input, Nil)
    }

    // Each funnel stage is counted eagerly (the funnel is part of the
    // output), so each stage is cached before its count and upstream
    // caches are dropped as soon as the next stage is materialized —
    // otherwise every downstream consumer (clusters, chunks, packing)
    // re-runs the whole upstream funnel including the near-dup join.

    // ---- language + quality gates (per-row, no shuffle). Fused: ONE
    // text traversal per doc instead of the ~8 the composed columns
    // cost (GateFusionSpec proves output equality with the composed
    // formulation, which stays the oracle face in q_text_langid /
    // q_text_tokens_quality).
    val gated = TextAnalysis
      .withGateSignals(urlDeduped, textCol)
      .filter(gatePredicate(col(textCol), cfg))
      .cache()
    val n1 = gated.count()
    if (cfg.urlCol.isDefined) urlDeduped.unpersist()

    // ---- optional CCNet LM gate: keep documents the reference model
    // explains (integer cross-multiplied decision). The model join is
    // a broadcast; the per-doc tally re-reads gated, which is cached.
    val (lmGated, lmFunnel) = cfg.lmModel match {
      case Some(model) if cfg.useLmGate =>
        val keepIds = TextAnalysis
          .lmQuality(gated.select(col(idCol), col(textCol)), idCol, textCol,
            model, cfg.lmMinHitPermille)
          .filter(col("keep"))
          .select(idCol)
        val kept = gated.join(keepIds, Seq(idCol), "left_semi").cache()
        val nLm = kept.count()
        gated.unpersist()
        (kept, Seq("lm_gate" -> nLm))
      case _ => (gated, Nil)
    }

    // ---- exact dedup: keep the min-id representative (same keep rule
    // as Dedup.exact, which stays the oracle face with per-digest copy
    // counts). The rank runs over (digest, id) ONLY — a window over
    // the full relation would push the corpus text through the
    // digest-keyed exchange; here the rank exchange carries 16-byte
    // digests and the survivors come back via an id semi-join
    // (broadcast at small survivor counts, id-keyed shuffle at scale —
    // the text moves at most once either way).
    // min(id) per digest ≡ row_number()===1 over (digest, id): hash
    // aggregate, map-side combinable, no sort — a corpus-duplicated
    // boilerplate digest cannot pin one sort reducer (same rewrite as
    // the url front door above; the keep RULE is unchanged and stays
    // oracled by q_text_curation_e2e's exact-dedup stage count)
    val keepExact = lmGated
      .select(col(idCol), md5(col(textCol)).as("__dg"))
      .groupBy(col("__dg"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val exactDeduped = lmGated.join(keepExact, Seq(idCol), "left_semi").cache()
    val n2 = exactDeduped.count()
    lmGated.unpersist()

    // ---- optional paragraph-level exact dedup: rewrite each doc to
    // its surviving paragraphs; docs emptied by the cut drop out (the
    // inner join against n_kept > 0)
    val paraDeduped = cfg.paragraphDedupWords match {
      case Some(wpp) =>
        // passthrough face: the dedup's own id-keyed join carries every
        // column, so the text replacement happens in THAT join — no
        // second corpus join to graft clean_text back on. Cached:
        // consumed by BOTH the near-dup cluster build and the anti-join.
        Dedup.windowDedupKeep(exactDeduped, idCol, textCol, wpp)
          .filter(col("__pos").isNotNull)
          .withColumn(textCol, col("__r.text"))
          .drop("__pos", "__r")
          .cache()
      case None => exactDeduped
    }

    // ---- near-dup dedup: drop non-canonical cluster members
    val clusters =
      if (cfg.nearDupUseLsh)
        Dedup.lshClusters(paraDeduped, idCol, textCol, cfg.nearDupN, cfg.nearDupJaccard)
      else
        Dedup.jaccardClusters(paraDeduped, idCol, textCol, cfg.nearDupN, cfg.nearDupJaccard)
    val drop = clusters.filter(!col("is_canonical")).select(idCol)
    val nearDeduped = paraDeduped.join(drop, Seq(idCol), "left_anti")

    // ---- optional EXACT substring dedup: cut duplicated windows from
    // non-canonical occurrences; docs emptied by the cut drop out (the
    // inner join). Runs on the cached exactDeduped's anti-join output.
    val subDeduped =
      if (!cfg.useSubstringDedup) nearDeduped
      else {
        val cut = Dedup
          .substringDedup(nearDeduped.select(col(idCol), col(textCol)),
            idCol, textCol, cfg.substringL)
          .filter(col("clean_len") > 0L)
          .select(col(idCol), col("clean_text").as("__substr_text"))
        nearDeduped
          .join(cut, Seq(idCol))
          .withColumn(textCol, col("__substr_text"))
          .drop("__substr_text")
      }

    // ---- PII redaction on the survivors; this is the surface every
    // output reads, so it is the one cache that outlives the call
    val clean = subDeduped
      .withColumn("clean_text", TextAnalysis.redactPii(col(textCol)))
      .cache()
    val n3 = clean.count()
    exactDeduped.unpersist()
    if (paraDeduped ne exactDeduped) paraDeduped.unpersist()
    // clean is materialized, so the cluster-label cache (owned by the
    // caller per clusterize's contract) is no longer reachable
    clusters.unpersist()

    val chunks = TextAnalysis.chunkByTokens(
      clean.select(col(idCol), col("clean_text")),
      idCol, "clean_text", cfg.chunkTokens, cfg.chunkOverlap)
    val packing = TextAnalysis.packSequences(
      clean.select(col(idCol), col("clean_text")),
      idCol, "clean_text", cfg.seqLen)

    Outputs(
      docs = clean,
      chunks = chunks,
      packing = packing,
      funnel = Seq("input" -> n0) ++ urlFunnel ++ Seq(
        "lang_quality_gate" -> n1
      ) ++ lmFunnel ++ Seq(
        "exact_dedup" -> n2,
        ("near" +
          (if (cfg.paragraphDedupWords.isDefined) "_paragraph" else "") +
          (if (cfg.useSubstringDedup) "_substring" else "") +
          "_dedup") -> n3
      )
    )
  }
}
