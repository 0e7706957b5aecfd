package graft.dedup

import graft.plans.{ArrayOps, GramHash, GroupPairs}
import graft.plans.RebuildUnitsExpr.{Chars, Lines, Tokens}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for training-data pipelines: exact,
  * n-gram-Jaccard, MinHash+LSH, SimHash. All are pure DataFrame
  * transforms; candidate generation always goes through a bucketing
  * key so the pairwise work is bounded by bucket size, never O(n²)
  * over the corpus — the property that keeps these viable at 100 TB.
  */
object Dedup extends SpanRemovalOps with SimHashOps {

  private[dedup] lazy val log =
    org.apache.logging.log4j.LogManager.getLogger("graft.dedup.Dedup")

  /** Exact dedup: hash-groupBy on content digest, keep the smallest id.
    * One shuffle on the digest; digest computed map-side so only
    * (digest, id) shuffles, never the payload.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("content_key"))
      .groupBy("content_key")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Normalization-insensitive exact dedup (the RefinedWeb / C4
    * "fuzzy-exact" recipe): the content key is
    * [[graft.text.TextAnalysis.normalizedDigest]] — lowercase, strip
    * punctuation, collapse whitespace — so trivially-reformatted
    * copies collapse while real edits survive. Same shuffle shape as
    * [[exact]]: (digest, id) only, payload never moves.
    */
  def exactNormalized(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = graft.text.TextAnalysis.normalizedText(col(textCol))
    // a doc whose normalization is empty (pure punctuation/whitespace)
    // OR null (null text normalizes to null, and length(null)/md5(null)
    // are null — without the guard every null-text doc would collapse
    // into one null content_key group) shares no CONTENT with any
    // other such doc, so each gets a per-doc key and survives as its
    // own group
    val key = when(norm.isNull || length(norm) === 0,
      concat(lit("empty:"), col(idCol).cast("string"))).otherwise(md5(norm))
    df.select(col(idCol), key.as("content_key"))
      .groupBy("content_key")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
  }

  /** SoftDeDup-style duplicate REWEIGHTING (He et al. '24, "SoftDedup:
    * an Efficient Data Reweighting Method for Speeding Up Language
    * Model Pre-training"): instead of dropping duplicate documents,
    * every member of a duplicate group keeps a training weight equal
    * to the inverse of its group's multiplicity — the corpus-level
    * token mass of each distinct content is preserved at exactly one
    * copy's worth, but no individual document (with its surrounding
    * metadata, domain mix, ordering) is discarded. Grouping is the
    * [[exactNormalized]] key (lowercase / strip punctuation / collapse
    * whitespace), so reformatted copies share a group; empty- or
    * null-normalized documents get per-doc keys and weight 1.
    *
    * Returns one row per input document:
    * (idCol, content_key, dup_count, n_tok, eff_tok, weight) where
    * eff_tok = n_tok div dup_count (the document's surviving token
    * budget, integer) and weight = 1.0 / dup_count (IEEE-exact, the
    * per-example loss multiplier a trainer consumes).
    *
    * Scale: text never shuffles — the map side reduces every document
    * to (id, digest, n_tok); the group count is one digest-keyed
    * aggregation and one digest-keyed join back, both metadata-width.
    */
  def softDedupWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = graft.text.TextAnalysis.normalizedText(col(textCol))
    val key = when(norm.isNull || length(norm) === 0,
      concat(lit("empty:"), col(idCol).cast("string"))).otherwise(md5(norm))
    val keyed = df.select(
      col(idCol),
      key.as("content_key"),
      graft.text.TextAnalysis.tokenCountWs(col(textCol)).as("n_tok"))
    val counts = keyed
      .groupBy("content_key")
      .agg(count(lit(1)).as("dup_count"))
    keyed
      .join(counts, Seq("content_key"))
      .withColumn("eff_tok", expr("CAST(n_tok div dup_count AS BIGINT)"))
      .withColumn("weight", lit(1.0d) / col("dup_count").cast("double"))
      .select(col(idCol), col("content_key"), col("dup_count"),
        col("n_tok"), col("eff_tok"), col("weight"))
  }

  /** Paragraph-level exact dedup (the C4 / Dolma recipe one level below
    * document dedup): split every document into NEWLINE-delimited
    * paragraphs (trimmed; blank lines dropped), keep only the FIRST
    * occurrence of each distinct paragraph corpus-wide (first =
    * smallest (id, paragraph index)), and reassemble each document
    * from its surviving paragraphs, newline-joined. Boilerplate that
    * repeats across pages (nav text, footers, license blurbs) dies
    * here while the unique prose survives. Because paragraphs are the
    * document's OWN line structure, a duplicate paragraph is caught
    * wherever it sits in the page: an insertion above it shifts every
    * fixed-width window out of alignment but leaves the paragraph
    * itself — and its digest — intact (TextDedupSpec pins this).
    *
    * For corpora without newline structure use [[windowDedup]], the
    * fixed word-count-window face of the same first-occurrence rule.
    * Scale shape: [[firstOccurrenceCore]]. Docs whose every paragraph
    * was seen before survive with clean_text='' (downstream length
    * gates drop them, auditable rather than silently vanished).
    *
    * Returns (id, clean_text, n_kept, n_dropped).
    */
  def paragraphDedup(
      df: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame =
    keptCounts(firstOccurrenceCore(
      df.select(col(idCol), col(textCol), paragraphCount(textCol).as("n_paras")),
      paragraphUnits(df, idCol, textCol), idCol, textCol, Lines, 1),
      idCol)

  /** (id, para_idx, __digest) of every nonblank trimmed line — the
    * paragraph units of [[paragraphDedup]] and [[boilerplateRemove]].
    */
  private def paragraphUnits(
      df: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = df
    .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("para_idx", "__raw")))
    .withColumn("para", trim(col("__raw")))
    .filter(col("para") =!= "")
    .select(col(idCol), col("para_idx").cast("long").as("para_idx"),
      unitDigest(col("para")))

  /** How many paragraph units a doc has — arithmetic over the doc's own
    * lines, no second explode pass over the corpus. */
  private def paragraphCount(textCol: String): Column =
    when(col(textCol).isNotNull,
      size(filter(split(col(textCol), "\n"), p => trim(p) =!= "")).cast("long"))
      .otherwise(0L)

  /** The (id, clean_text, n_kept, n_dropped) output of the kept-units
    * faces, over a keep-mode [[rebuildAt]] and an `n_paras` unit count;
    * n_kept counts kept positions (paragraphs or windows). */
  private def keptCounts(out: DataFrame, idCol: String): DataFrame = {
    val nKept = when(col("__pos").isNull, lit(0L)).otherwise(size(col("__pos")).cast("long"))
    out.select(col(idCol), col("__r.text").as("clean_text"), nKept.as("n_kept"),
      (col("n_paras") - nKept).as("n_dropped"))
  }

  /** CCNet-style boilerplate line REMOVAL (Wenzek et al. '20 §3.1
    * line-level dedup; RefinedWeb's repeated-line scrub): drop EVERY
    * occurrence of any line whose corpus document-frequency reaches
    * `maxDf` — navigation chrome, cookie banners, subscribe footers —
    * and reassemble each document from its surviving lines. Contrast
    * with [[paragraphDedup]], which keeps a repeated paragraph's FIRST
    * occurrence: a line frequent enough to be boilerplate is noise in
    * every document, including the first one crawled.
    *
    * Scale shape (the paragraphDedup contract): text never shuffles.
    * Document frequencies aggregate over distinct (16-byte digest, id)
    * pairs; the kept-index relation joins digests to per-digest counts
    * (both digest-keyed, co-partitioned by the one exchange) and
    * collapses to one compact (id, sorted kept-idx array) row per doc;
    * `clean_text` is rebuilt in-row by the native unit rebuild after the
    * one id-keyed join ([[rebuildAt]]). A doc of pure boilerplate
    * survives with clean_text='' (auditable, not silently vanished).
    *
    * Returns (id, clean_text, n_kept, n_dropped).
    */
  def boilerplateRemove(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDf: Long
  ): DataFrame = {
    require(maxDf >= 2L, s"maxDf < 2 would drop every line, got $maxDf")
    val paras = paragraphUnits(df, idCol, textCol)
    // document frequency = distinct docs containing the line (a doc
    // repeating its own header doesn't make it corpus boilerplate)
    val dfc = paras
      .select(col("__digest"), col(idCol))
      .distinct()
      .groupBy(col("__digest"))
      .agg(count(lit(1)).as("__df"))
    val kept = positionsById(
      paras.join(dfc, Seq("__digest")).filter(col("__df") < maxDf),
      idCol, "para_idx")
    keptCounts(rebuildAt(
      df.select(col(idCol), col(textCol), paragraphCount(textCol).as("n_paras")),
      kept, idCol, textCol, Lines, 1, 1, keep = true), idCol)
  }

  /** Fixed word-count-window exact dedup: the [[paragraphDedup]]
    * first-occurrence rule over fixed-width word windows
    * ([[graft.text.TextAnalysis.chunkByTokens]], overlap 0) — for
    * corpora whose text carries no newline structure. Windows misalign
    * under insertions (a shifted duplicate region stops matching), so
    * prefer true paragraphs whenever the text has them — or
    * [[cdcChunkDedup]], whose content-defined boundaries survive
    * insertions. Returns (id, clean_text, n_kept, n_dropped).
    */
  def windowDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      wordsPerPara: Int
  ): DataFrame = {
    // chunkByTokens' own nChunks formula at overlap 0
    val nWindows = greatest(
      ceil(size(split(col(textCol), " ")).cast("double") / wordsPerPara),
      lit(1)).cast("long")
    keptCounts(windowDedupKeep(
      df.select(col(idCol), col(textCol), nWindows.as("n_paras")),
      idCol, textCol, wordsPerPara), idCol)
  }

  /** Content-defined chunking dedup (LBFS, Muthitacharoen et al. '01;
    * FastCDC, Xia et al. '16 — the storage-dedup technique applied to
    * corpus text): chunk boundaries fall where the FNV-1a hash of the
    * trailing `window` characters has its low `maskBits` bits zero
    * (expected chunk ≈ 2^maskBits chars), then the
    * [[paragraphDedup]]-style first-occurrence rule runs over chunk
    * digests. Because boundaries are functions of CONTENT, not
    * position, an insertion shifts only the chunks it touches — the
    * rest of a duplicated region keeps its exact boundaries and
    * deduplicates, which is precisely what [[windowDedup]]'s fixed
    * windows cannot do (documented there).
    *
    * Boundary hashing recomputes FNV per position (O(window·n) per
    * row — window is 8; production CDC swaps in a Gear/Rabin rolling
    * hash for O(n), same boundary contract). UTF-16 code-unit fold —
    * the repo's documented BMP-only hashing caveat applies. One
    * compiled per-row pass produces the chunks; the dedup shuffles
    * (16-byte digest, id, idx) triples through [[firstOccurrenceRank]],
    * never chunk text; the clean doc reassembles from the row's own
    * chunk array after one id-keyed graft join.
    *
    * Returns (idCol, n_chunks, n_kept, n_dropped, clean_text).
    */
  def cdcChunkDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 8,
      maskBits: Int = 5
  ): DataFrame = {
    require(window >= 2 && maskBits >= 1 && maskBits <= 20,
      "window >= 2, maskBits in [1,20]")
    val mask = (1L << maskBits) - 1L
    val chunksUdf = udf { (text: String) =>
      if (text == null || text.isEmpty) Seq.empty[String]
      else {
        val n = text.length
        val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
        var i = window - 1
        while (i < n - 1) {
          var h = 0xcbf29ce484222325L
          var j = i - window + 1
          while (j <= i) {
            h = (h ^ text.charAt(j).toLong) * 0x100000001b3L
            j += 1
          }
          if ((h & mask) == 0L) cuts += (i + 1)
          i += 1
        }
        cuts += n
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var s = 0
        cuts.foreach { c => if (c > s) { out += text.substring(s, c); s = c } }
        out.toSeq
      }
    }
    val withChunks = df.select(col(idCol), chunksUdf(col(textCol)).as("__chunks"))
    val units = withChunks
      .select(col(idCol),
        posexplode(col("__chunks")).as(Seq("chunk_idx", "__chunk")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        unitDigest(col("__chunk")))
    val keptArr = coalesce(col("__pos"), array().cast("array<bigint>"))
    withChunks.join(firstOccurrences(units, idCol, "chunk_idx"), Seq(idCol), "left")
      .select(
        col(idCol),
        size(col("__chunks")).cast("long").as("n_chunks"),
        size(keptArr).cast("long").as("n_kept"),
        (size(col("__chunks")) - size(keptArr)).cast("long").as("n_dropped"),
        array_join(
          transform(keptArr, i =>
            element_at(col("__chunks"), (i + 1L).cast("int"))),
          "").as("clean_text"))
  }

  // ---- the sub-document occurrence core -----------------------------
  // Every exact sub-document face (paragraph, boilerplate line, fixed
  // window, CDC chunk, the span scrubs, ExactSubstr) cuts a doc into
  // units and then runs the same three steps: digest each unit
  // ([[unitDigest]]), rank the digests corpus-wide
  // ([[firstOccurrenceRank]]), and gather the kept or dropped positions
  // per doc ([[positionsById]]). All but CDC then rebuild each doc in
  // one tail ([[rebuildAt]]). A face owns only its unit cut, its
  // keep/drop rule, its unit geometry and its output columns.

  /** The one unit digest of the sub-document family: the 16-byte
    * binary md5 of the unit, named `__digest`. Rank exchanges carry it
    * instead of the unit text (and instead of md5's 32-char hex). */
  private[dedup] def unitDigest(unit: Column): Column =
    unhex(md5(unit)).as("__digest")

  /** Global first-occurrence rank WITHOUT a per-digest sort: annotate
    * each `(__digest, id, pos)` occurrence with the digest's global
    * minimum `(id, pos)` so callers keep (`__k === __first`) or drop
    * (`__k =!= __first`) — exactly `row_number() over
    * (partitionBy(__digest) orderBy(id, pos)) === 1`, but skew-proof.
    *
    * Why not the window: `row_number` materializes EVERY occurrence of
    * a digest in one sort reducer — at the design point, one
    * boilerplate paragraph/window repeated across 10⁷–10⁸ documents is
    * a single skewed sort partition (the classic hot-n-gram failure).
    * Only the global minimum is needed to rank the rest: a two-phase
    * `min(struct(id, pos))` aggregate is map-side combinable (each map
    * task emits ONE row per distinct digest, so the hot key's reduce
    * input is bounded by the task count), and the join back is a
    * shuffled HASH join whose build side holds one row per distinct
    * digest in the partition while the hot probe side STREAMS — no
    * sort buffer, no spill, and AQE's skew-join splitting still
    * applies. Returns the input columns plus `__k`
    * (= struct(id, pos)) and `__first`.
    *
    * The occurrence stream IS computed twice (agg branch + probe
    * branch — column pruning makes the two subtrees structurally
    * different, so ReuseExchange cannot collapse them). Measured
    * (NOTES.md Round 15, sf0.1, 32-word windows, min-of-3): window 0.58 s,
    * this 0.54 s, shared-repartition 0.50 s, localCheckpoint 0.39 s —
    * the double compute costs ≈0.1 s at bench scale, and the two
    * alternatives that remove it either add an unreused exchange at
    * scale (repartition) or make query CONSTRUCTION eager
    * (localCheckpoint), so the stateless formulation stays.
    */
  private[dedup] def firstOccurrenceRank(
      occ: DataFrame,
      idCol: String,
      posCol: String
  ): DataFrame = {
    val withKey = occ.withColumn("__k", struct(col(idCol), col(posCol)))
    val firsts = withKey
      .groupBy(col("__digest"))
      .agg(min(col("__k")).as("__first"))
    withKey.join(firsts.hint("shuffle_hash"), Seq("__digest"))
  }

  /** The one position gather: `(id, __pos)`, each doc's `posCol`
    * values over `rows` as one sorted array. Docs without rows are
    * absent; callers left-join the result back by id. */
  private[dedup] def positionsById(
      rows: DataFrame,
      idCol: String,
      posCol: String
  ): DataFrame =
    rows.groupBy(col(idCol)).agg(sort_array(collect_list(col(posCol))).as("__pos"))

  /** `(id, __pos)` of each doc's first occurrences in `units`
    * (`(id, posCol, __digest)`). */
  private def firstOccurrences(
      units: DataFrame,
      idCol: String,
      posCol: String
  ): DataFrame =
    positionsById(firstOccurrenceRank(units, idCol, posCol)
      .filter(col("__k") === col("__first")), idCol, posCol)

  /** `(id, posCol)` of every occurrence in `units` past its digest's
    * first — the drop rows of the span faces. */
  private[dedup] def laterOccurrences(
      units: DataFrame,
      idCol: String,
      posCol: String
  ): DataFrame =
    firstOccurrenceRank(units, idCol, posCol)
      .filter(col("__k") =!= col("__first"))
      .select(col(idCol), col(posCol))

  /** First-occurrence dedup of `units` (`(id, para_idx, __digest)`)
    * with column passthrough: every column of `df` survives, plus
    * `__pos` (the kept positions, null when none survived) and `__r`,
    * whose `text` is the doc rewritten to its surviving units (see
    * [[rebuildAt]]). Lets a composed funnel
    * (CurationPipeline) replace the text column in the SAME join that
    * computes the dedup instead of paying a second corpus join to
    * graft `clean_text` back on.
    *
    * Scale shape: TEXT NEVER SHUFFLES. The rank exchange carries only
    * (digest, id, idx) — 16-byte digests, never paragraphs (ScaleSpec
    * asserts the feeder projection); the per-doc survivor relation is
    * one compact (id, sorted kept-idx array) row; and `clean_text` is
    * rebuilt in-row (position p keeps units [p·stride, (p+1)·stride))
    * AFTER the one id-keyed join, so the corpus text stays on its own
    * scan side end-to-end.
    */
  private def firstOccurrenceCore(
      df: DataFrame,
      units: DataFrame,
      idCol: String,
      textCol: String,
      unit: Int,
      stride: Int
  ): DataFrame =
    rebuildAt(df, firstOccurrences(units, idCol, "para_idx"),
      idCol, textCol, unit, stride, stride, keep = true)

  /** The one join-and-rebuild tail of the sub-document faces: left-join
    * the per-doc positions `(id, __pos)` ([[positionsById]]) onto `df`
    * and rebuild each doc in-row ([[graft.plans.RebuildUnitsExpr]]).
    * Returns `df`'s columns plus `__pos` and `__r` = (text, kept, runs).
    */
  private[dedup] def rebuildAt(
      df: DataFrame,
      pos: DataFrame,
      idCol: String,
      textCol: String,
      unit: Int,
      stride: Int,
      width: Int,
      keep: Boolean
  ): DataFrame =
    df.join(pos, Seq(idCol), "left")
      .withColumn("__r",
        ArrayOps.rebuild_units(col(textCol), col("__pos"), unit, stride, width, keep))

  /** [[windowDedup]] with column passthrough (see
    * [[firstOccurrenceCore]]): returns `df`'s full schema plus
    * `__pos`/`__r`. The composed-funnel face.
    */
  private[graft] def windowDedupKeep(
      df: DataFrame,
      idCol: String,
      textCol: String,
      wordsPerPara: Int
  ): DataFrame = {
    val units = graft.text.TextAnalysis
      .chunkByTokens(df.select(col(idCol), col(textCol)), idCol, textCol,
        maxTokens = wordsPerPara, overlap = 0)
      .select(col(idCol), col("chunk_idx").as("para_idx"), unitDigest(col("chunk")))
    firstOccurrenceCore(df, units, idCol, textCol, Tokens, wordsPerPara)
  }

  /** Letter histogram (a-z counts) in ONE compiled pass over the text
    * — the edit-distance prefilter's per-doc feature. (An expression
    * formulation would scan the text 26 times via replace().)
    */
  private[graft] val letterHistUdf =
    udf { (t: String) =>
      val h = new Array[Int](26)
      if (t != null) {
        var i = 0
        while (i < t.length) {
          val c = t.charAt(i) - 'a'
          if (c >= 0 && c < 26) h(c) += 1
          i += 1
        }
      }
      h
    }

  /** L1 distance of two letter histograms — lossless edit-distance
    * lower bound: one edit op moves the histogram by at most 2 in L1,
    * so lev(a,b) >= L1/2. A 26-term compiled loop per candidate pair
    * vs the O(len·maxDist) DP it avoids.
    */
  private[graft] val histL1Udf =
    udf { (a: Seq[Int], b: Seq[Int]) =>
      var s = 0
      var i = 0
      while (i < 26) { s += math.abs(a(i) - b(i)); i += 1 }
      s
    }

  /** Edit-distance (Levenshtein) near-dup pairs: all (a, b), a.id <
    * b.id, with distance ≤ maxDist. Candidate generation blocks on
    * length bands — LOSSLESS, because dist ≤ maxDist forces
    * |len(a) − len(b)| ≤ maxDist, so with band ≥ maxDist the two
    * bucket indices differ by at most 1; each left row probes
    * {b−1, b, b+1} and every qualifying pair is formed exactly once.
    * The distance itself uses Spark's threshold variant (early-exits
    * once the band of the DP matrix exceeds maxDist — O(len·maxDist),
    * not O(len²)).
    *
    * Scale role: length-banding bounds candidates only as well as the
    * length histogram is flat; at corpus scale this is the VERIFY
    * stage composed behind a real candidate generator (MinHash/LSH or
    * [[ngramJaccardPairsPrefix]]), exactly how fuzzy-dedup pipelines
    * deploy edit distance. As a standalone scan it is for
    * band-limited relations (titles, URLs, short fields).
    */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int
  ): DataFrame = {
    require(maxDist >= 1, "editDistancePairs needs maxDist >= 1")
    // null text has no edit distance to anything — drop up front so the
    // compiled histogram/DP path never sees a null row
    val nn = df.filter(col(textCol).isNotNull)
    val base = nn.select(
      col(idCol).as("id_a"),
      col(textCol).as("t_a"),
      length(col(textCol)).cast("long").as("len_a"))
      .withColumn("h_a", letterHistUdf(col("t_a")))
    val probe = base
      .withColumn("bucket0", floor(col("len_a") / maxDist))
      .withColumn(
        "bucket",
        explode(array(col("bucket0") - 1, col("bucket0"), col("bucket0") + 1)))
      .drop("bucket0")
    val build = nn.select(
      col(idCol).as("id_b"),
      col(textCol).as("t_b"),
      length(col(textCol)).cast("long").as("len_b"),
      floor(length(col(textCol)).cast("long") / maxDist).as("bucket"))
      .withColumn("h_b", letterHistUdf(col("t_b")))
    probe
      .join(build, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(abs(col("len_a") - col("len_b")) <= maxDist)
      .filter(histL1Udf(col("h_a"), col("h_b")) <= 2 * maxDist)
      // survivors are few and bucket-skewed; spread the DP work evenly
      .repartition(col("id_a"), col("id_b"))
      .withColumn("dist", levenshtein(col("t_a"), col("t_b"), maxDist).cast("long"))
      .filter(col("dist") >= 0) // threshold variant yields -1 above maxDist
      .select("id_a", "id_b", "len_a", "len_b", "dist")
  }

  /** First `|xs| − max(1, ceil(t·|xs| − 1e-9)) + 1` elements of the
    * sorted shingle array — the prefix-filter index window (Bayardo
    * '07 / Xiao '08; a J ≥ t or C ≥ t pair must share a shingle inside
    * it). A pure codegen slice: the former UDF formulation re-boxed
    * every prefix as a Seq[Long] per row on three corpus-sized paths
    * (jaccard-prefix, containment, containment-against). Arithmetic is
    * bit-identical to the UDF's (`ceil(double)` / `greatest` are the
    * same IEEE ops; the 1e-9 slack can only lengthen a prefix), and
    * the greatest(0, ·) guard keeps slice total (take(k≤0) = empty).
    */
  private def prefixSlice(
      xs: org.apache.spark.sql.Column,
      t: Double): org.apache.spark.sql.Column = {
    val s = size(xs)
    val minOverlap = greatest(
      lit(1L), ceil(lit(t) * s.cast("double") - lit(1e-9)))
    slice(xs, lit(1),
      greatest(lit(0L), s.cast("long") - minOverlap + lit(1L)).cast("int"))
  }

  /** Distinct word n-gram shingles per document: (id, shingle). The
    * exploded relation is the common substrate for Jaccard and MinHash.
    * Generation is one compiled loop per doc
    * ([[graft.text.TextAnalysis.ngramsUdf]], spec-pinned equal to the
    * transform/slice/concat_ws HOF pipeline it replaced — interpreted
    * lambda trees, measured ~10× slower); a doc with fewer than n
    * tokens yields none, and shingle STRINGS are byte-identical, so
    * every downstream hash (xxhash64-mod-P minhash, oracle replays)
    * is unchanged.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol),
      explode(graft.text.TextAnalysis.ngramsUdf(n, distinct = true)(
        col(textCol))).as("shingle"))

  /** (idCol, xs) per doc — its sorted, distinct shingle-hash array,
    * docs with none dropped — cached: the docs side every exact pair
    * finder probes and [[verifyPairs]] reads. The caller unpersists.
    */
  private def shingleHashDocs(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), GramHash.shingle_hashes(col(textCol), n).as("xs"))
      .filter(size(col("xs")) > 0)
      .cache()

  /** J = |A∩B| / (|A| + |B| − |A∩B|) over a verified pair's counts. */
  private def jaccard: Column =
    col("n_common").cast("double") /
      (col("n_a") + col("n_b") - col("n_common")).cast("double")

  /** Exact n-gram Jaccard similar pairs (a<b, J ≥ minJaccard) via a
    * shingle inverted index: postings shuffle ONCE into shingle-
    * clustered, (shingle, id)-sorted runs and every co-occurring pair
    * is emitted in-stage by the streaming
    * [[graft.plans.GroupPairsExec]]; common = |A∩B| falls out of the
    * (a,b) count; |A|,|B| ride along as per-doc counts,
    * J = common/(|A|+|B|−common). No cross product, no self-join.
    * Skew guard: shingles shared by more than `maxDf` docs are dropped
    * (stopword shingles explode quadratically and carry no dedup
    * signal) — the exec skips overflowing groups as it streams.
    * Null ids are dropped up front, so they do not count toward a
    * shingle's df.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minJaccard: Double,
      maxDf: Long = 1000L
  ): DataFrame = {
    // per-doc distinct-shingle count rides along through the explode as
    // the pair payload, so |A| and |B| come out of the group itself —
    // no sizes join. The group-pairs exec buffers only the current
    // group's postings and emits pairs lazily (no d² array), skipping
    // groups past maxDf.
    val ex = df
      .filter(col(idCol).isNotNull)
      .select(col(idCol), GramHash.shingle_hashes(col(textCol), n).as("xs"))
      .select(col(idCol), size(col("xs")).cast("long").as("n"),
        explode(col("xs")).as("shingle"))
    val pairs = GroupPairs
      .pairs(ex, Seq(col("shingle")), col(idCol), Seq(col("n")), maxDf)
      .groupBy("a", "b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard", jaccard)
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("n_common"), col("n_a"), col("n_b"), col("jaccard"))
    // materialize the (small) pair set — callers (clusterize's CC
    // iterations, the recall-audit twins) re-read it and own the
    // unpersist, as before
    val out = pairs.cache()
    out.count()
    out
  }

  /** Exact Jaccard pairs via PREFIX FILTERING (Bayardo et al. WWW'07
    * AllPairs / Xiao et al. PPJoin): same output contract as
    * [[ngramJaccardPairs]], different candidate generation. For
    * threshold t, J(A,B) >= t forces |A∩B| >= ceil(t·|A|), so two
    * similar docs MUST share a shingle within their first
    * |X| − ceil(t·|X|) + 1 shingles under ANY fixed global order (here:
    * ascending hash) — only those prefixes are indexed. At t=0.8 the
    * index holds ~20% of the shingles and candidate pairs shrink
    * ~quadratically; verification then merge-intersects the two SORTED
    * hash arrays (compiled, O(|A|+|B|)) for the TRUE overlap.
    *
    * Pick this path for high thresholds (t >= ~0.5, the dedup regime);
    * at low thresholds the prefix is nearly the whole set and
    * [[ngramJaccardPairs]]'s count-from-the-group shape wins (it never
    * rejoins the full arrays).
    *
    * `maxDf` here caps candidate-generation postings only — verified
    * pairs always carry their exact n_common/jaccard (the base path's
    * cap also perturbs n_common). The ceiling uses a 1e-9 slack so an
    * upward float error can only LENGTHEN a prefix (extra candidates,
    * never lost exactness).
    *
    * Cap interaction with the positional filter (same contract as
    * [[containmentPairs]]): the filters are exactly lossless at
    * maxDf = Long.MaxValue. Under a finite cap the pair's true first
    * common shingle may itself be a pruned hot posting, so the
    * surviving min(pa)/min(pb) belong to a LATER common element, the
    * overlap upper bound under-estimates, and the positional filter
    * can drop a qualifying pair that pre-filter candidate generation
    * (any surviving common prefix posting) would have kept — i.e.
    * finite-maxDf recall loss is confined to hot-shingle pairs but is
    * strictly larger than the r10 prefix path's. That is the cap's
    * documented contract (hot cross-corpus shingles are boilerplate);
    * oracle faces run at maxDf = Long.MaxValue where both filters are
    * proven lossless against the brute-force truth.
    */
  def ngramJaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minJaccard: Double,
      maxDf: Long = 1000L
  ): DataFrame = {
    val t = minJaccard
    // xs is sorted ascending + distinct (shingle_hashes) — the global
    // prefix order and the merge-intersect both rely on it
    val docs = shingleHashDocs(df, idCol, textCol, n)
    // prefix tokens carry their 0-based POSITION and the doc's set
    // size — the two integers the PPJoin filters below run on
    val pre = docs
      .withColumn("sz", size(col("xs")).cast("long"))
      .select(col(idCol), col("sz"),
        posexplode(prefixSlice(col("xs"), t)).as(Seq("pos", "shingle")))
    // PPJoin candidate pruning (Xiao et al., WWW'08) — both filters
    // LOSSLESS at any t when maxDf = Long.MaxValue (1e-9 slack absorbs
    // the float boundary; the exact merge-intersect verify below is
    // unchanged; for finite maxDf the positional filter's recall
    // caveat is in the scaladoc above):
    //  * length filter, per posting pair so pruned rows never reach
    //    the pair aggregation: J ≥ t forces min(sa,sb) ≥ t·max(sa,sb);
    //  * positional filter: both shingle arrays are sorted in the SAME
    //    global order, so the first prefix-prefix match (min pa / min
    //    pb — simultaneously minimized by the smallest common element)
    //    has zero common elements before it, bounding the achievable
    //    overlap by 1 + min(sa−pa−1, sb−pb−1), which must reach the
    //    t/(1+t)·(sa+sb) overlap a ≥t pair needs. It runs PER POSTING
    //    PAIR too, ahead of the pair-agg shuffle (lossless: the first
    //    common element's posting — the simultaneous minimizer of pa
    //    and pb for a qualifying pair — always satisfies it, so the
    //    min-aggregated values and the post-agg filter outcome are
    //    unchanged; pruned rows are redundant-for-min or belong to
    //    non-qualifying pairs).
    // Postings pair up inside each shingle group of at most maxDf rows;
    // the pair aggregation carries four small ints, and its filter keeps
    // the array-fetch verify joins off every pair the bounds kill.
    val positional =
      (lit(1L) + least(col("sa") - col("pa") - 1L, col("sb") - col("pb") - 1L)).cast("double") >=
        lit(t / (1.0 + t)) * (col("sa") + col("sb")).cast("double") - lit(1e-9)
    val cand = GroupPairs
      .pairs(pre, Seq(col("shingle")), col(idCol), Seq(col("sz"), col("pos")), maxDf)
      .select(col("a"), col("b"), col("sz_a").as("sa"), col("pos_a").as("pa"),
        col("sz_b").as("sb"), col("pos_b").as("pb"))
      .filter(least(col("sa"), col("sb")).cast("double") >=
        lit(t) * greatest(col("sa"), col("sb")).cast("double") - lit(1e-9) && positional)
      .groupBy("a", "b")
      .agg(min("pa").as("pa"), min("pb").as("pb"),
        min("sa").as("sa"), min("sb").as("sb"))
      .filter(positional)
      .select("a", "b")
    val out = verifyPairs(docs, docs, cand, idCol) { v =>
      v.withColumn("jaccard", jaccard)
        .filter(col("jaccard") >= minJaccard)
        .select(col("a"), col("b"), col("n_common"), col("n_a"), col("n_b"),
          col("jaccard"))
    }
    docs.unpersist()
    out
  }

  /** Docs-side row count at or under which both verify joins broadcast
    * their arrays (≈0.8 GB at ~1 kB/doc of hashes — sized for 8 GiB+
    * executors). A session with broadcast joins switched off
    * (`spark.sql.autoBroadcastJoinThreshold` < 0) co-locates at any
    * size.
    */
  private val VerifyBroadcastMaxDocs = 1000000L

  /** The one exact verify of every near-dup pair finder: attach the
    * sorted shingle-hash arrays of a (from `docsA`) and of b (from
    * `docsB`) to each (a, b) candidate of `cand`, count the true
    * intersection with the native codegen merge loop
    * ([[graft.plans.SortedIntersectCount]] — the former Seq[Long] UDF
    * boxed ~10¹⁰ longs at sf10 and was ~80% of the operator wall), and
    * hand (a, b, n_common, n_a, n_b) to `finish` for the metric filter.
    * Both docs frames carry (idCol, xs); pass the same frame twice for
    * the self-join shape — it is then broadcast or co-located once. The
    * result is materialized (cache + count) before returning.
    *
    * Two physical postures:
    *
    *  - larger side ≤ [[VerifyBroadcastMaxDocs]] and broadcast joins
    *    allowed: both array sides broadcast — candidate rows never
    *    re-shuffle (the 25 GB regression the r11 broadcast killed),
    *    arrays move once per executor.
    *  - otherwise both joins co-locate on an id hash partitioning. A
    *    side that already lives hash-partitioned by id (a bucketed
    *    corpus scan; projections and the cache keep its partitioning)
    *    is used as is. Any other side becomes a cached id-repartition
    *    of its (id, xs), counted before the joins are planned, so they
    *    are planned against a materialized cache and its settled hash
    *    partitioning. The docs-side scans are then exchange-free
    *    (PlanShapeSpec): the a-side join shuffles only the narrow id
    *    pairs, and exactly one intermediate exchange carries one array
    *    per candidate (the a-side's xs, en route to the b-side join) —
    *    the irreducible minimum for exact pairwise verification without
    *    broadcast (Vernica et al., SIGMOD'10 §5 ship exactly one
    *    record's token set per candidate; any exact |A∩B| needs both
    *    sets in one place, and one partitioning co-locates one join key
    *    at a time). Total verify shuffle volume is |cand| × (2 ids) +
    *    |cand| × |xs_a| plus the one-time docs repartition. The
    *    repartition caches are released once the result is
    *    materialized; `unpersist` does not cascade, so the result keeps
    *    its cached rows.
    */
  private[graft] def verifyPairs(
      docsA: DataFrame,
      docsB: DataFrame,
      cand: DataFrame,
      idCol: String)(finish: DataFrame => DataFrame): DataFrame = {
    import graft.plans.ArrayOps.sorted_intersect_count
    val spark = docsA.sparkSession
    val same = docsA eq docsB
    // Both array sides project to the SAME column shape/constraints so
    // their broadcast subtrees canonicalize equal — a prerequisite for
    // exchange reuse, though AQE's TableCacheQueryStage wrapping still
    // materializes the two stages separately today (PlanShapeSpec pins
    // the exchange count). The session-memory story for whole-catalog
    // big-SF runs is therefore the GC nudge in Verify/ScaleBench: dead
    // plans' ~0.8 GB broadcasts are only reaped once a JVM GC notices
    // the weak refs.
    def verified(sideA: DataFrame, sideB: DataFrame): DataFrame =
      cand
        .join(sideA, col("a") === sideA("__vid"))
        // counts computed IN the post-join projections: the arrays are
        // consumed and dropped inside the join stage, never
        // materialized into downstream rows
        .select(col("a"), col("b"), sideA("__vxs").as("__xs_a"))
        .join(sideB, col("b") === sideB("__vid"))
        .select(col("a"), col("b"),
          sorted_intersect_count(col("__xs_a"), sideB("__vxs")).as("n_common"),
          size(col("__xs_a")).cast("long").as("n_a"),
          size(sideB("__vxs")).cast("long").as("n_b"))
    // the explicit isNotNull pair pins BOTH sides' scan predicates to
    // the same set in the same order — without it each join infers its
    // own isnotnull constraints in a different order, the canonical
    // plans diverge, and ReuseExchange silently builds two broadcasts
    def proj(d: DataFrame) =
      d.select(col(idCol).as("__vid"), col("xs").as("__vxs"))
        .where(col("__vid").isNotNull && col("__vxs").isNotNull)
    // the VERDICT r11 "accept a pre-bucketed input" posture — at 100 TB
    // the corpus is born bucketed (SCALE.md) and the verify is then
    // pure join work
    def bucketedById(d: DataFrame): Boolean =
      d.queryExecution.sparkPlan.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions match {
            case Seq(a: org.apache.spark.sql.catalyst.expressions.AttributeReference) =>
              a.name == idCol
            case _ => false
          }
        case _ => false
      }
    def colocated(d: DataFrame): DataFrame =
      if (bucketedById(d)) d
      else {
        val c = d.select(col(idCol), col("xs"))
          .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
            col(idCol))
          .cache()
        c.count()
        c
      }
    def materialized(res: DataFrame): DataFrame = {
      val out = res.cache()
      out.count()
      out
    }
    val broadcastOk =
      spark.sessionState.conf.autoBroadcastJoinThreshold >= 0 &&
        (if (same) docsA.count()
         else math.max(docsA.count(), docsB.count())) <= VerifyBroadcastMaxDocs
    if (broadcastOk)
      materialized(finish(
        verified(broadcast(proj(docsA)), broadcast(proj(docsB)))))
    else {
      val sideA = colocated(docsA)
      val sideB = if (same) sideA else colocated(docsB)
      val out = materialized(finish(verified(proj(sideA), proj(sideB))))
      if (sideA ne docsA) sideA.unpersist()
      if (!same && (sideB ne docsB)) sideB.unpersist()
      out
    }
  }

  /** ASYMMETRIC containment pairs: (a, b) where C(a→b) =
    * |sh(a) ∩ sh(b)| / |sh(a)| >= t, a != b (mutual containment emits
    * both directions). This is the quotation / boilerplate-wrap face
    * symmetric Jaccard misses entirely: a paragraph pasted into a
    * 50×-longer page has J ≈ |a|/|b| ≈ 0.02 but C(a→b) = 1.0 — real
    * curation pipelines drop the short copy, which no Jaccard
    * threshold can find.
    *
    * Candidate generation is ONE-SIDED prefix filtering: a qualifying
    * pair needs overlap >= ceil(t·sa), so the globally-smallest common
    * shingle must sit within a's first sa − ceil(t·sa) + 1 hashes —
    * only that prefix is probed. The contained-in side has no upper
    * length bound, so b indexes ALL its shingles (the inherent
    * asymmetric-join cost; `maxDf` caps hot postings). Lossless prunes
    * before the exact merge-intersect verify:
    *  * length: overlap <= sb, so sb >= t·sa;
    *  * positional: for qualifying pairs min(pa)/min(pb) belong to the
    *    first common element (a's hit is in the prefix, b indexes
    *    everything), so overlap <= 1 + min(sa−pa−1, sb−pb−1) >= t·sa
    *    must hold (1e-9 slack — float error only admits extras).
    *    Both prunes are exactly lossless at maxDf = Long.MaxValue;
    *    under a finite cap the first common element may itself be a
    *    pruned hot posting, so the positional bound can discard pairs
    *    the cap already made unreachable — recall loss stays confined
    *    to hot-shingle pairs, which is the cap's documented contract.
    * Same contract shape as [[ngramJaccardPairsPrefix]]; the verify is
    * the identical compiled merge-intersect, so emitted n_common /
    * containment are exact.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minContainment: Double,
      maxDf: Long = 1000L
  ): DataFrame = {
    // the self shape of the prepared cross path: the docs are both the
    // index and the probe, so the verify sees ONE docs frame
    val hist = containmentIndex(
      shingleHashDocs(df, idCol, textCol, n), idCol, n, maxDf)
    val out = containmentProbe(hist.histDocs, hist, minContainment)(
      _.select(col("a"), col("b"), col("n_common"), col("n_a"), col("n_b"),
        col("containment")))
    hist.unpersist()
    out
  }

  /** Incremental (refresh-shape) containment join: every NEW document
    * checked for ≥ t containment IN a standing-history document, with
    * no history-internal and no new-internal pairwork — the T2
    * resumability face of [[containmentPairs]], mirroring
    * [[minHashLshPairsAgainst]] / [[hammingPairsAgainst64]]. Real
    * curation pipelines containment-check a new crawl against the
    * corpus (drop the freshly-crawled quote of a standing page), not
    * the corpus against itself; the one-sided index is already
    * direction-aware, so index = history (every posting), probe = new
    * (prefix postings only). `maxDf` caps hot HISTORY postings — the
    * true document frequency of the standing corpus, which is the df
    * that matters across refreshes. Same lossless length + positional
    * prunes and exact merge-intersect verify as the batch face;
    * returns (new_id, hist_id, n_common, n_a, n_b, containment) where
    * containment = |new ∩ hist| / |new| ≥ t. A doc id present on both
    * sides never pairs with itself.
    */
  def containmentPairsAgainst(
      newDf: DataFrame,
      histDf: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minContainment: Double,
      maxDf: Long = 1000L
  ): DataFrame = {
    val hist = prepareContainmentHistory(histDf, idCol, textCol, n, maxDf)
    val out =
      containmentPairsAgainstPrepared(newDf, textCol, minContainment, hist)
    hist.unpersist()
    out
  }

  /** The history (containing) side of [[containmentPairsAgainst]],
    * precomputed and cached so a STREAMING ingest can pay the standing
    * corpus's shingle pass, posting explode, and hot-set aggregation
    * ONCE per stream instead of once per micro-batch — the history
    * side is a pure function of (histDf, n, maxDf), independent of
    * both the probe batch and the containment threshold (t only
    * shapes the probe-side prefix). Caller owns the caches: call
    * [[ContainmentHistory.unpersist]] when the stream ends.
    */
  final class ContainmentHistory private[dedup] (
      private[dedup] val histDocs: DataFrame, // (idCol, xs), cached
      private[dedup] val prb: DataFrame, // hot-pruned full postings
      private[dedup] val hot: Option[DataFrame],
      private[dedup] val idCol: String,
      private[dedup] val n: Int) {
    def unpersist(): Unit = {
      hot.foreach(_.unpersist())
      histDocs.unpersist(): Unit
    }
  }

  def prepareContainmentHistory(
      histDf: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxDf: Long = 1000L
  ): ContainmentHistory =
    containmentIndex(shingleHashDocs(histDf, idCol, textCol, n), idCol, n, maxDf)

  /** The containing-side index over cached (idCol, xs) docs: EVERY
    * posting, with the hot set (document frequency > `maxDf`) pruned.
    */
  private def containmentIndex(
      histDocs: DataFrame,
      idCol: String,
      n: Int,
      maxDf: Long): ContainmentHistory = {
    val pb0 = histDocs.withColumn("sz", size(col("xs")).cast("long"))
      .select(col(idCol).as("b"), col("sz").as("sb"),
        posexplode(col("xs")).as(Seq("pb", "shingle_b")))
    // df computed over the FULL index side (true document frequency);
    // the probe side prunes against the same hot set
    val hot =
      if (maxDf == Long.MaxValue) None
      else Some(
        pb0.groupBy(col("shingle_b").as("shingle"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf)
          .select("shingle")
          .cache())
    val prb = hot match {
      case None => pb0
      case Some(h) =>
        pb0.join(h.select(col("shingle").as("shingle_b")),
          Seq("shingle_b"), "left_anti")
    }
    new ContainmentHistory(histDocs, prb, hot, idCol, n)
  }

  /** [[containmentPairsAgainst]] with the history side supplied by
    * [[prepareContainmentHistory]] — identical pair output (the same
    * probe-and-verify body as the batch form, reading the prepared
    * relations instead of rebuilding them).
    */
  def containmentPairsAgainstPrepared(
      newDf: DataFrame,
      textCol: String,
      minContainment: Double,
      hist: ContainmentHistory
  ): DataFrame = {
    val newDocs = shingleHashDocs(newDf, hist.idCol, textCol, hist.n)
    val out = containmentProbe(newDocs, hist, minContainment)(
      _.select(col("a").as("new_id"), col("b").as("hist_id"),
        col("n_common"), col("n_a"), col("n_b"), col("containment")))
    newDocs.unpersist()
    out
  }

  /** Probe the prefix postings of the contained-candidate `docs`
    * (cached (idCol, xs)) against the `hist` index, prune, and verify:
    * `finish` receives the verified (a, b, n_common, n_a, n_b,
    * containment ≥ t) rows. `docs` may be `hist.histDocs` itself — the
    * batch self shape — and the verify then reads one docs frame.
    */
  private def containmentProbe(
      docs: DataFrame,
      hist: ContainmentHistory,
      t: Double)(finish: DataFrame => DataFrame): DataFrame = {
    val idCol = hist.idCol
    // probe: prefix postings of the CONTAINED candidate a (codegen
    // slice — see [[prefixSlice]])
    val pa0 = docs.withColumn("sz", size(col("xs")).cast("long"))
      .select(col(idCol).as("a"), col("sz").as("sa"),
        posexplode(prefixSlice(col("xs"), t)).as(Seq("pa", "shingle")))
    val pra = hist.hot match {
      case None    => pa0
      case Some(h) => pa0.join(h, Seq("shingle"), "left_anti")
    }
    // Positional filter PER POSTING, inside the join condition — ahead
    // of the pair-aggregation shuffle. Lossless: a qualifying pair's
    // first common element e has >= ceil(t*sa) common elements at
    // positions >= pb(e) in b, so sb - pb(e) >= t*sa and e's posting
    // survives; min(pa)/min(pb) are achieved AT e, so the aggregated
    // values are unchanged. Every pruned row was either a non-first
    // posting of a surviving pair (redundant for the min-agg) or a
    // candidate no qualifying pair needs — at scale this is the cut
    // that keeps hot cross-corpus shingles (boilerplate, numerics)
    // from exploding the shuffle. The cross shape changes nothing in
    // the bound: a still needs ceil(t·sa) common elements inside b.
    val cand = pra
      .join(hist.prb,
        col("shingle") === col("shingle_b") && col("a") =!= col("b") &&
          col("sb").cast("double") >= lit(t) * col("sa").cast("double") - lit(1e-9) &&
          (col("sb") - col("pb")).cast("double") >=
            lit(t) * col("sa").cast("double") - lit(1e-9))
      .groupBy("a", "b")
      .agg(min("pa").as("pa"), min("pb").as("pb"),
        min("sa").as("sa"), min("sb").as("sb"))
      .filter(
        (lit(1L) + least(col("sa") - col("pa") - 1L,
          col("sb") - col("pb") - 1L)).cast("double") >=
          lit(t) * col("sa").cast("double") - lit(1e-9))
      .select("a", "b")
    // the exchange-crossing array of the co-located verify is xs_a:
    // the CONTAINED side, the smaller one on the quotation face this
    // operator exists for
    verifyPairs(docs, hist.histDocs, cand, idCol) { v =>
      finish(v.withColumn("containment",
          col("n_common").cast("double") / col("n_a").cast("double"))
        .filter(col("containment") >= t))
    }
  }

  /** The ACTION face of [[containmentPairsAgainst]] — the ingest
    * filter itself: drop every NEW doc that is ≥ t contained in ANY
    * standing-corpus doc, keep the rest. Unlike the batch
    * [[containmentDedup]] there is no size tie-break: the standing
    * corpus always wins (its copy is already curated/indexed), so a
    * new doc dies on any qualifying hit regardless of relative
    * length. New docs with no shingles pass through (no containment
    * signal; exact dedup owns empties).
    */
  def containmentDedupAgainst(
      newDf: DataFrame,
      histDf: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minContainment: Double,
      maxDf: Long = 1000L
  ): DataFrame = {
    val pairs = containmentPairsAgainst(
      newDf, histDf, idCol, textCol, n, minContainment, maxDf)
    val doomed = pairs.select(col("new_id").as(idCol)).distinct()
    newDf.join(doomed, Seq(idCol), "left_anti")
  }

  /** The ACTION face of [[containmentPairs]]: drop each doc that is
    * >= t contained in a LARGER doc (strictly more shingles; equal
    * sizes tie-break on smaller id so a mutual-containment pair —
    * near-identical docs — keeps exactly one). This is the curation
    * step real pipelines take on a containment hit: the short quoted
    * copy dies, the page that quotes it survives. Docs with no
    * shingles (shorter than n tokens) pass through untouched — they
    * carry no containment signal either way.
    */
  def containmentDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minContainment: Double,
      maxDf: Long = 1000L
  ): DataFrame = {
    val pairs = containmentPairs(df, idCol, textCol, n, minContainment, maxDf)
    val doomed = pairs
      .filter(col("n_b") > col("n_a") ||
        (col("n_b") === col("n_a") && col("b") < col("a")))
      .select(col("a").as(idCol))
      .distinct()
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** MinHash modulus: [[minHashSig]]'s h_i(doc) = min over the doc's
    * shingle hashes x of ((a_i·x + b_i) mod p). Permutation seeds are
    * fixed → fully deterministic across runs and executors.
    */
  val MinHashP: Long = 2147483647L // 2^31-1, prime

  /** Permutation coefficients stay < 2^27 and x < 2^31 so a·x+b < 2^60:
    * no ANSI long overflow on any executor.
    */
  private def perm(i: Int): (Long, Long) =
    (104729L * i + 12345L, 15485863L * (i + 1))

  /** Full MinHash signature of a hashed-shingle array column under
    * the first `numHashes` permutations of [[perm]] (shared by the
    * batch LSH join and the streaming bucket-state face); the native
    * [[graft.plans.MinHashSigExpr]] evaluates it.
    */
  private[graft] def minHashSig(numHashes: Int): Column => Column = {
    val coeffs = (0 until numHashes).map(perm)
    c => GramHash.minhash_sig(
      c, coeffs.map(_._1).toArray, coeffs.map(_._2).toArray, MinHashP)
  }

  /** Band keys of a signature column named `sig`: one (band, xxhash64
    * of the band's quad) struct per band.
    */
  private[graft] def bandKeyStructs(bands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { bIdx =>
      val cols = (0 until rowsPerBand)
        .map(r => element_at(col("sig"), bIdx * rowsPerBand + r + 1))
      struct(lit(bIdx).as("band"), xxhash64(cols: _*).as("h"))
    }

  /** Sorted-array intersection count — the streaming state face's
    * exact verify (the batch faces count with [[verifyPairs]]).
    */
  private[graft] def interCount(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    c
  }

  /** Band-bucket rows (idCol, band, h) of cached (idCol, xs) docs: the
    * `bands` band keys of each doc's MinHash signature — the candidate
    * generator of both LSH pair finders. One primitive-loop signature
    * per doc beats numHashes interpreted HOF lambdas per element
    * (~80×32 boxed evals per row).
    */
  private def lshBuckets(
      docs: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame =
    docs
      .select(col(idCol), minHashSig(bands * rowsPerBand)(col("xs")).as("sig"))
      .select(col(idCol),
        explode(array(bandKeyStructs(bands, rowsPerBand): _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.h").as("h"))

  /** LSH banding over MinHash signatures: a pair agreeing on any band
    * becomes a candidate; candidates are then verified with exact
    * Jaccard. bands*rowsPerBand hash functions total. Returns verified
    * pairs (a<b, jaccard ≥ minJaccard).
    */
  def minHashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.5
  ): DataFrame = {
    // Explode-free: the doc's distinct hashed-shingle SET rides as one
    // array column (built by the compiled shingle_hashes loop, not an
    // interpreted HOF chain); signatures are per-row primitive loops
    // and exact verification counts on the (few) candidate pairs. The
    // only shuffles are the band-bucket pairs' one exchange and the
    // verify.
    // cache: tiny (|docs| × shingle-count longs) and read by the band
    // buckets and both verify sides — without it Spark recomputes the
    // hashes per branch (no cross-branch CSE)
    val base = shingleHashDocs(df, idCol, textCol, n)
    val cand = GroupPairs
      .pairs(lshBuckets(base, idCol, bands, rowsPerBand),
        Seq(col("band"), col("h")), col(idCol), Nil, Long.MaxValue)
      .distinct()
    // the verified pairs are orders of magnitude smaller than the
    // corpus; release the corpus-sized intermediate — the cache must
    // not outlive the call in a long-lived session
    val out = verifyPairs(base, base, cand, idCol)(
      _.withColumn("jaccard", jaccard)
        .filter(col("jaccard") >= minJaccard)
        .select("a", "b", "jaccard"))
    base.unpersist()
    out
  }

  /** Incremental near-dup: pairs between a NEW batch and the HISTORY
    * corpus — the refresh-time face of MinHash-LSH. A corpus refresh
    * must not re-cluster 100 TB to admit a 0.1% batch; this joins the
    * new batch's band buckets against the history's (at scale the
    * history's (band, h, id, xs) relation is a bucketed table built
    * once per epoch and appended like any other), exact-verifies the
    * candidates with the same shingle-set intersection as the
    * self-join path, and returns every (new_id, hist_id, jaccard ≥
    * min) match. Composition contract: new-batch-internal duplicates
    * are [[minHashLshPairs]] over the (small) batch alone; the union
    * of the two pair sets equals the full-corpus self-join's pairs
    * that touch the batch.
    */
  def minHashLshPairsAgainst(
      newDf: DataFrame,
      histDf: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.5
  ): DataFrame = {
    val nb = shingleHashDocs(newDf, idCol, textCol, n)
    val hb = shingleHashDocs(histDf, idCol, textCol, n)
    val cand = lshBuckets(nb, idCol, bands, rowsPerBand)
      .select(col(idCol).as("a"), col("band"), col("h"))
      .join(lshBuckets(hb, idCol, bands, rowsPerBand)
        .select(col(idCol).as("b"), col("band"), col("h")), Seq("band", "h"))
      // a re-delivered id present in both batch and history would pair
      // with itself at jaccard 1.0 and be flagged a duplicate of
      // itself, breaking the composition contract with the self-join
      // path (which enforces a < b) — drop self-pairs at candidate time
      .filter(col("a") =!= col("b"))
      .select("a", "b")
      .distinct()
    val out = verifyPairs(nb, hb, cand, idCol)(
      _.withColumn("jaccard", jaccard)
        .filter(col("jaccard") >= minJaccard)
        .select(col("a").as("new_id"), col("b").as("hist_id"), col("jaccard")))
    nb.unpersist(); hb.unpersist()
    out
  }

  /** Connected components over a near-dup pair graph: iterative
    * min-label propagation (the alternating-star algorithm's simple
    * cousin — adequate because dup-cluster diameters are tiny). Each
    * iteration is one join + aggregate; convergence checked with a
    * count. Returns (node, component) with component = min reachable
    * node id.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "a",
      bCol: String = "b",
      maxIters: Int = 20,
      /** below this edge count the graph is solved driver-side with
        * union-find (one job instead of one per iteration) — the same
        * small-side-threshold idea as broadcast joins; identical output
        */
      localThreshold: Long = 500000L
  ): DataFrame = localComponents(pairs, aCol, bCol, localThreshold) match {
    case Some((labels, idType)) =>
      val spark = pairs.sparkSession
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", idType),
        org.apache.spark.sql.types.StructField("comp", idType)
      ))
      spark.createDataFrame(spark.sparkContext.parallelize(
        labels.map { case (n, c) => org.apache.spark.sql.Row(n, c) }, 1), schema)
    case None => connectedComponentsDistributed(pairs, aCol, bCol, maxIters)
  }

  /** The driver-side components tier shared by [[connectedComponents]]
    * and [[clusterize]]: (node, component = min member) for every node
    * of the (a, b) edge graph plus the id type, or None when the graph
    * has more than `localThreshold` edges.
    *
    * The ORIGINAL id type is kept end-to-end: casting to long would
    * turn non-numeric string ids into null and silently corrupt
    * components, and the distributed path (no cast) would then
    * disagree with this one. Row values (Long/Integer/String/...) are
    * all Comparable, so min-labeling works generically.
    *
    * ONE job decides the tier AND fetches the edges: limit(threshold+1)
    * collects every edge iff the graph is local-sized (the +1 row is
    * the over-threshold sentinel) — a count()-then-collect() shape
    * would pay two jobs over the pair relation.
    */
  private def localComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      localThreshold: Long
  ): Option[(Seq[(Any, Any)], org.apache.spark.sql.types.DataType)] = {
    val rawEdges = pairs.select(col(aCol), col(bCol))
    val es = rawEdges.limit(localThreshold.toInt + 1).collect()
    if (es.length > localThreshold) None
    else {
      // path-compressed union-find, components labeled by min member
      @inline def less(x: Any, y: Any): Boolean =
        x.asInstanceOf[Comparable[Any]].compareTo(y.asInstanceOf[Comparable[Any]]) < 0
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      es.foreach { row =>
        val a = row.get(0); val b = row.get(1)
        if (a != null && b != null) {
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (ufFind(parent, a), ufFind(parent, b))
          if (ra != rb) { if (less(ra, rb)) parent(rb) = ra else parent(ra) = rb }
        }
      }
      Some((parent.keys.toSeq.map(n => n -> ufFind(parent, n)),
        rawEdges.schema.head.dataType))
    }
  }

  private def ufFind(
      parent: scala.collection.mutable.HashMap[Any, Any], x: Any): Any = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent(r)
    var c = x
    while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  /** Distributed connected components — the path for graphs too big to
    * collect. Alternating large-star/small-star contraction (Kiveris
    * et al. '14, "Connected Components in MapReduce and Beyond"):
    *
    *   large-star: every node points its LARGER neighbors at the
    *     minimum of its neighborhood (min(Γ(u) ∪ {u}));
    *   small-star: every node points its smaller-or-equal neighbors
    *     (and itself) at the minimum of its smaller neighborhood.
    *
    * Each round halves long paths, so convergence is O(log n) rounds
    * versus min-label propagation's O(diameter) — the difference
    * between ~5 and ~60 rounds on a chain-structured near-dup graph
    * (StarContractionSpec measures exactly this). At the fixed point
    * the edge set is a star forest: every edge is (member → component
    * minimum), which is the label table.
    *
    * Two shuffles per star phase, all carrying bare id pairs. Every
    * round's edge set is localCheckpoint'ed: the phases reference the
    * previous round's frame multiple times, and an un-truncated
    * lineage doubles per round (the measured sf0.1 bench wedge —
    * plan stringification alone took hours by round 15).
    *
    * Convergence test is EXACT set equality (ss ⊆ prev via left_anti
    * emptiness + equal counts on distinct sets), not a hash signature.
    *
    * A loop that exhausts `maxIters` without reaching the fixed point
    * THROWS instead of deriving labels from a non-star-forest edge set
    * — wrong components would silently mis-drop documents downstream,
    * and O(log n) convergence means non-convergence at the default 20
    * rounds is a pathological graph, not a tuning matter.
    */
  def connectedComponentsDistributed(
      pairs: DataFrame,
      aCol: String = "a",
      bCol: String = "b",
      maxIters: Int = 20
  ): DataFrame =
    connectedComponentsDistributedWithCleanup(pairs, aCol, bCol, maxIters)._1

  /** [[connectedComponentsDistributed]] plus an explicit storage
    * release handle: the returned frame is backed by the final round's
    * localCheckpoint, so callers that materialize a derivative (as
    * [[clusterize]] does) call `cleanup()` afterwards to free the
    * checkpoint blocks immediately instead of waiting for the
    * ContextCleaner. Intermediate rounds' checkpoint blocks are freed
    * inside the loop as soon as the next round materializes.
    */
  def connectedComponentsDistributedWithCleanup(
      pairs: DataFrame,
      aCol: String = "a",
      bCol: String = "b",
      maxIters: Int = 20
  ): (DataFrame, () => Unit) = {
    // the pair graph is orders of magnitude smaller than the corpus —
    // pin the iteration to a few partitions so each contraction job is
    // not dominated by task scheduling (at true scale raise this, or
    // let AQE coalesce)
    val p = math.max(2, pairs.sparkSession.sparkContext.defaultParallelism / 8)
    var e = pairs
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
      .repartition(p, col("u"))
      .localCheckpoint()
    var eCount = e.count()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // large-star: u's neighborhood minimum m; larger neighbors v > u
      // re-attach as (v, m)
      val sym = e.select(col("u"), col("v"))
        .unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("cu"), col("m").as("cv"))
        .filter(col("cu") =!= col("cv"))
        .select(col("cu").as("u"), col("cv").as("v"))
        .distinct()
      // small-star on the (u > v)-directed result: all smaller
      // neighbors and u itself attach to the smaller-neighborhood min
      val d = ls.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins2 = d.groupBy("u").agg(min("v").as("m"))
      val ss = d.join(mins2, "u")
        .select(col("v").as("n"), col("m"))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .unionAll(mins2.select(col("u"), col("m").as("v")))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()
        .repartition(p, col("u"))
        .localCheckpoint()
      val ssCount = ss.count()
      val newEdges = ss.join(e, Seq("u", "v"), "left_anti").limit(1).count()
      converged = ssCount == eCount && newEdges == 0L
      // this round's frame is materialized and the convergence probe
      // above was the previous round's last reader — free the previous
      // checkpoint's BLOCKS now (DataFrame.unpersist would be a no-op
      // on the LogicalRDD-backed frame)
      graft.core.Graft.checkpointRdd(e).foreach(_.unpersist(blocking = false))
      e = ss
      eCount = ssCount
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsDistributed did not reach the star-forest " +
          s"fixed point in $maxIters rounds ($eCount edges at exit) — " +
          "labels from a non-fixed-point edge set would be WRONG; " +
          "raise maxIters (O(log n) rounds suffice on any real graph)")
    // fixed point: a star forest — (u, v) = (member, component min);
    // roots appear only on the v side and label themselves. NOT
    // checkpointed: the per-round checkpoints already pin lineage at
    // O(1) depth, and leaving this last step declarative keeps the
    // distributed tier's plan (joins over the checkpointed edge set)
    // distinguishable from the driver tier's collected-rows scan —
    // ScaleSpec asserts exactly that.
    val members = e.select(col("u").as("node"), col("v").as("comp"))
    val roots = e.select(col("v").as("node")).distinct()
      .join(members.select("node"), Seq("node"), "left_anti")
      .withColumn("comp", col("node"))
    val lastCheckpoint = graft.core.Graft.checkpointRdd(e)
    (members.unionByName(roots).repartition(p, col("node")),
      () => lastCheckpoint.foreach(_.unpersist(blocking = false)))
  }

  /** Components + canonical (min id) + cluster size from any near-dup
    * pair relation (columns a, b) — the keep/drop decision surface of
    * a corpus-dedup pass, shared by the exact-Jaccard and LSH paths.
    *
    * Local-sized graphs come back as a driver-built local relation
    * (recompute-free, nothing to unpersist); above `localThreshold`
    * the distributed label-propagation result is cached (consumed at
    * least twice in every caller: drop-set build + funnel count) and
    * ownership transfers to the caller — unpersist it once its
    * consumers have materialized, as CurationPipeline.run does after
    * the clean corpus count (unpersist on the local tier is a no-op).
    * Internal iteration caches are released before returning.
    */
  def clusterize(
      pairs: DataFrame,
      idCol: String,
      localThreshold: Long = 500000L): DataFrame =
    // Local-sized graphs (the common case: near-dup pair relations are
    // orders of magnitude smaller than the corpus) finish entirely
    // driver-side in the ONE job that fetched the edges — components,
    // sizes, and canonical flags all come from the union-find labels,
    // with no count, collect or shuffle-stage materialization job.
    localComponents(pairs, "a", "b", localThreshold) match {
      case Some((labels, idType)) =>
        val spark = pairs.sparkSession
        val rows = labels.groupBy(_._2).toSeq.flatMap { case (comp, members) =>
          val size = members.size.toLong
          members.map { case (n, _) =>
            org.apache.spark.sql.Row(n, comp, size, n == comp) }
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(idCol, idType),
          org.apache.spark.sql.types.StructField("component", idType),
          org.apache.spark.sql.types.StructField("cluster_size",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("is_canonical",
            org.apache.spark.sql.types.BooleanType)
        ))
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      case None =>
        val (comps, releaseCheckpoint) =
          connectedComponentsDistributedWithCleanup(pairs)
        val sizes = comps.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
        // materialize the (small — one row per node that appears in a
        // pair) label table, then release the distributed-path iteration
        // storage (the final round's localCheckpoint blocks — a plain
        // comps.unpersist() would be a no-op on the checkpoint-backed
        // frame); intermediates must not outlive the call
        val out = comps
          .join(sizes, Seq("comp"))
          .select(
            col("node").as(idCol),
            col("comp").as("component"),
            col("cluster_size"),
            (col("node") === col("comp")).as("is_canonical")
          )
          .cache()
        out.count()
        releaseCheckpoint()
        out
    }

  /** Quality-aware representative selection over near-dup clusters:
    * instead of [[clusterize]]'s min-id canonical, keep per cluster
    * the member with the HIGHEST score (ties → smallest id) — the
    * "keep the longest/best document" policy real dedup pipelines
    * apply, where near-dup groups mix truncated and full versions of
    * the same page and min-id would keep whichever was crawled first.
    *
    * `clusters` is any [[clusterize]]-shaped relation (idCol,
    * component, cluster_size, ...); `scored` supplies (idCol,
    * scoreCol). Rows of `scored` absent from `clusters` are singleton
    * clusters and come back as their own representative (component =
    * own id, cluster_size 1), so the output is a total keep/drop
    * decision for the corpus: one row per scored doc,
    * (idCol, component, cluster_size, scoreCol, is_representative).
    *
    * Scale: one broadcast-or-shuffle join on id (clusters is
    * pair-graph-sized, far smaller than the corpus) + one window over
    * components (dup-cluster-sized partitions).
    */
  def clusterRepresentatives(
      clusters: DataFrame,
      scored: DataFrame,
      idCol: String,
      scoreCol: String
  ): DataFrame = {
    val joined = scored
      .select(col(idCol), col(scoreCol))
      .join(clusters.select(col(idCol), col("component"), col("cluster_size")),
        Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
    val w = Window
      .partitionBy(col("component"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    joined
      .withColumn("__rn", row_number().over(w))
      .withColumn("is_representative", col("__rn") === 1)
      .drop("__rn")
  }

  /** Near-dup clusters from exact n-gram Jaccard pairs (the
    * oracle-checkable path; use lshClusters at corpus scale).
    *
    * `maxDf` defaults to the library-safe skew guard (1000): a shingle
    * shared by d docs fans out d² join rows, so the unguarded join is
    * the scale-killer path. An exactness-requiring caller (the DuckDB
    * oracle query) must OPT OUT explicitly with `maxDf = Long.MaxValue`.
    *
    * The intermediate pair cache is released here once the (small)
    * cluster labels materialize — it must not outlive the call.
    */
  def jaccardClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minJaccard: Double,
      maxDf: Long = 1000L,
      /** forwarded to [[connectedComponents]]; 0 forces the
        * distributed label-propagation tier — the components path a
        * 100 TB corpus actually runs
        */
      localThreshold: Long = 500000L
  ): DataFrame = {
    val pairs = ngramJaccardPairs(df, idCol, textCol, n, minJaccard, maxDf)
    val out = clusterize(pairs, idCol, localThreshold) // materialized by clusterize
    pairs.unpersist()
    out
  }

  /** Near-dup clusters from MinHash-LSH candidate pairs with exact
    * Jaccard verification — the 100 TB path: candidate generation is
    * band-bucketed (never an all-shingle self-join), recall at
    * s=minJaccard is 1-(1-s^r)^b (≈98.5% at s=0.8, b=8, r=4).
    * Releases the intermediate pair cache once clusters materialize.
    */
  def lshClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minJaccard: Double,
      bands: Int = 8,
      rowsPerBand: Int = 4
  ): DataFrame = {
    val pairs = minHashLshPairs(df, idCol, textCol, n, bands, rowsPerBand, minJaccard)
    val out = clusterize(pairs, idCol) // materialized by clusterize
    pairs.unpersist()
    out
  }

  /** Bloom-prefiltered anti-join: rows of `newDf` whose key is NOT in
    * `hist` — exactly `newDf LEFT ANTI JOIN hist`, computed with a
    * Bloom filter front door. The filter has no false negatives, so
    * rows it rejects are DEFINITELY novel and skip the join entirely;
    * the ~fpp fraction it (maybe falsely) accepts goes through the
    * exact anti-join, which kills false positives. Output is therefore
    * bit-identical to the plain anti-join while the join input shrinks
    * from |new| to ~fpp·|new| + true-dup rows.
    *
    * The filter is driver metadata (−n·ln(fpp)/ln²2 bits ≈ 1.2 GB for
    * 10⁹ keys at 1%) broadcast once; at larger history sizes raise
    * fpp (the verify join stays exact) or shard the history and chain
    * the pass. The scale win is on mostly-novel batches — the common
    * resumability shape — where almost nothing reaches the shuffle.
    */
  def bloomAntiJoin(
      newDf: DataFrame,
      hist: DataFrame,
      keyCol: String,
      expectedItems: Long = 1000000L,
      fpp: Double = 0.01
  ): DataFrame = {
    val spark = newDf.sparkSession
    // An EMPTY history admits everything: stat.bloomFilter over zero
    // rows returns a null buffer (engine NPE on readFrom), and the
    // anti-join against nothing is the identity — short-circuit. This
    // is the cold-start shape of every resume loop (first run, no
    // manifest yet), so it must work, not throw.
    if (hist.isEmpty) return newDf
    // Build and probe MUST hash the same representation: stat
    // .bloomFilter hashes integral columns as longs and strings as
    // bytes, so the probe is typed to match: integral keys as longs,
    // every other key as its string form (a string probe against a
    // long-built filter never hits -> every history row would leak
    // through as "definitely novel"; caught by the refresh composite,
    // regression-pinned in TextDedupSpec).
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val mightContain = newDf.schema(keyCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        val bc = spark.sparkContext.broadcast(
          hist.select(col(keyCol).cast("long").as(keyCol))
            .stat.bloomFilter(keyCol, expectedItems, fpp))
        udf { (k: java.lang.Long) =>
          k != null && bc.value.mightContainLong(k)
        }.apply(col(keyCol).cast("long"))
      case _ =>
        val bc = spark.sparkContext.broadcast(
          hist.select(col(keyCol).cast("string").as(keyCol))
            .stat.bloomFilter(keyCol, expectedItems, fpp))
        udf { (k: String) =>
          k != null && bc.value.mightContainString(k)
        }.apply(col(keyCol).cast("string"))
    }
    val definitelyNovel = newDf.filter(!mightContain)
    val candidates = newDf.filter(mightContain)
    definitelyNovel.unionByName(
      candidates.join(
        hist.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti"))
  }

  /** Rolling 64-bit polynomial window hashes: h(w) = Σ c_j·B^(L-1-j)
    * mod 2^64 for every L-char window, computed in O(n) by the
    * Karp-Rabin recurrence on wrapping longs. Mod-2^64 with an odd
    * base is collision-safe at n²/2^64 for non-adversarial corpora
    * (document-scale: ~10^12 windows → a handful of collisions, each
    * costing one L-char span — negligible).
    */
  private[graft] def rollingWindowHashesUdf(
      l: Int): org.apache.spark.sql.expressions.UserDefinedFunction = udf {
    (text: String) =>
      if (text == null || text.length < l) Array.empty[Long]
      else {
        val b = 0x100000001b3L
        var pw = 1L
        var i = 0
        while (i < l - 1) { pw *= b; i += 1 }
        val n = text.length
        val out = new Array[Long](n - l + 1)
        var h = 0L
        i = 0
        while (i < l) { h = h * b + text.charAt(i).toLong; i += 1 }
        out(0) = h
        i = l
        while (i < n) {
          h = (h - text.charAt(i - l).toLong * pw) * b + text.charAt(i).toLong
          out(i - l + 1) = h
          i += 1
        }
        out
      }
  }

  /** EXACT substring deduplication (Lee et al. '22, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * variant, window-hash formulation): every L-char window that
    * occurs more than once in the corpus is removed from every
    * occurrence EXCEPT the canonical one (smallest (doc, pos));
    * overlapping/adjacent removed windows merge into spans, and each
    * document's cleaned text is the original with those spans cut.
    *
    * Dataflow: one compiled rolling-hash pass per document cuts the
    * L-char units and digests them in the same O(n) pass (the 8-byte
    * Karp-Rabin hash stands in for [[unitDigest]] here: an md5 per
    * character position would cost L× the hashing) → explode
    * (doc, pos, h) → the sort-free first-occurrence rank
    * ([[laterOccurrences]]; one shuffle on the 8-byte hash — ~16
    * bytes/char of shuffle, the honest cost of corpus-wide substring
    * dedup; suffix-array builds move comparable volume) → one sorted
    * dup-position array per doc ([[positionsById]]) → the in-row
    * rebuild ([[rebuildAt]], char units): windows that overlap or touch
    * merge into one cut span (a new span starts iff `pos − prev > l`).
    * Nothing is ever pairwise, and nothing is windowed.
    *
    * Returns one row per input document:
    * (id, n_dup_spans, removed_chars, clean_len, clean_md5, clean_text).
    */
  def substringDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      l: Int = 20
  ): DataFrame = {
    val occ = df.select(
      col(idCol),
      posexplode(rollingWindowHashesUdf(l)(col(textCol))).as(Seq("pos", "__digest")))
    val dups = positionsById(laterOccurrences(occ, idCol, "pos"), idCol, "pos")
    rebuildAt(df, dups, idCol, textCol, Chars, 1, l, keep = false)
      .withColumn("clean_text", col("__r.text"))
      .select(
        col(idCol),
        col("__r.runs").as("n_dup_spans"),
        (length(col(textCol)) - length(col("clean_text"))).cast("long").as("removed_chars"),
        length(col("clean_text")).cast("long").as("clean_len"),
        md5(col("clean_text")).as("clean_md5"),
        col("clean_text"))
  }
}
