package graft.dedup

import graft.plans.GroupPairs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SimHash / Hamming-distance near-dup family (Charikar '02 prints,
  * Manku et al. '07 rotation covers): 64- and 128-bit fingerprints,
  * banded Hamming pair joins, rep-level clustering. Split from
  * Dedup.scala for file hygiene (VERDICT r14 #6); mixed into [[Dedup]]
  * so every call site keeps the `Dedup.simHash*` / `Dedup.hamming*`
  * API. Generic connected components (`clusterize`) stays in
  * Dedup.scala — MinHash and containment clustering share it.
  */
private[dedup] trait SimHashOps { self: Dedup.type =>

  /** 64-bit SimHash over whitespace tokens: per token h = FNV-1a(tok);
    * each bit contributes ±1; fingerprint bit j = sign of the sum.
    * ONE compiled loop per row — a pure scalar map with zero shuffle
    * (the earlier relational explode→64-column-aggregate formulation
    * shuffled the whole token stream; at corpus scale the per-row form
    * is strictly better and the bench agrees ~4×).
    *
    * The fold iterates Unicode CODEPOINTS (not UTF-16 units), matching
    * DuckDB's codepoint-based `unicode()` replay exactly on ALL text —
    * including supplementary-plane characters (emoji, historic
    * scripts), which a charAt fold would hash as surrogate halves.
    */
  val simHashUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) 0L
      else {
        val counts = new Array[Int](64)
        val toks = text.split(" ", -1)
        var i = 0
        while (i < toks.length) {
          val t = toks(i)
          if (t.nonEmpty) {
            var h = 0xcbf29ce484222325L
            var k = 0
            while (k < t.length) {
              val cp = t.codePointAt(k)
              h ^= cp.toLong; h *= 0x100000001b3L
              k += Character.charCount(cp)
            }
            var j = 0
            while (j < 64) {
              if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
              j += 1
            }
          }
          i += 1
        }
        var fp = 0L
        var j = 0
        while (j < 64) { if (counts(j) > 0) fp |= (1L << j); j += 1 }
        fp
      }
    }

  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), simHashUdf(col(textCol)).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming: 64-bit
    * prints through [[hammingPairs64]], the Manku C(k+2,2) two-chunk
    * cover of [[hammingCover]] (complete, so the pair set equals any
    * complete cover's, which is what the oracle checks; against the
    * single-chunk cover the measured sf0.1→sf1 wall ratio falls from
    * 23× to near-linear).
    *
    * `maxPerBucket`: optional skew guard for production corpora — keep
    * only the first `cap` DISTINCT fingerprints (by value) of each band
    * bucket before the self-join (an adversarial or degenerate corpus
    * can still pile one key). Trades bounded recall for a hard
    * O(m·d·cap) candidate ceiling over d distinct prints, while a hot
    * key still contributes its first cap prints' pairs instead of
    * vanishing; leave None on oracle-checked faces (exact cover).
    *
    * AUTO-ESCALATION (round 11, re-measured round 13): any fixed
    * 64-bit banding has a random-collision floor ∝ n²/2^w (SCALE.md).
    * Round 11 answered it by auto-capping band buckets above 200k
    * docs; round 13's SimHashStageProbe measured that posture against
    * the exact cover it replaced at sf10 (500k docs) and found the
    * cap GUARDING THE WRONG STAGE there: the per-bucket row_number
    * window costs 12.9 s while the uncapped band join it protects
    * costs 7.7 s — and canonical-cover emission (r13) removes the
    * exact path's distinct() on top.
    *
    * The posture is therefore: EXACT 2-chunk cover up to `autoCapDocs`
    * = 1M docs (raised from 200k — recall 100% where r12 had 99.1%,
    * and faster), bucket cap `autoCap` above it (the n²-growth guard
    * the next decade genuinely needs: ~4.4B raw candidates at 1M docs
    * is the handoff point where the linear window undercuts the
    * quadratic join). Pass `maxPerBucket = Some(Int.MaxValue)` to
    * force the exact cover at any size, or migrate to
    * [[simHashPairs128]] (the committed ≥10⁸-doc configuration —
    * wider fingerprints move the floor itself).
    *
    * MEASURED recall of the capped posture (NOTES.md, Round 12 #4:
    * capped-vs-forced-exact at maxHamming=7, cap=512): 99.33% at sf1,
    * 99.09% at sf10, strict subset both times; adversarial
    * one-hot-bucket floor 27.4% (SimHashRecallSpec). Under the r13
    * bound both those corpora are now EXACT; the capped numbers
    * describe the >1M-doc tier and the explicit-cap contract.
    *
    * CAP OUTPUT CONTRACT (r12, restated for pair-relation consumers):
    * with any cap in effect, identical-fingerprint groups larger than
    * the cap emit a linear min-id rep→member STAR instead of the full
    * hamming-0 clique — connected components (what clusterize/drop
    * consume) are preserved exactly, but edge multiplicity/coverage
    * semantics over the raw pair list are not; see [[hammingPairs64]].
    */
  def simHashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxPerBucket: Option[Int] = None,
      autoCapDocs: Long = 1000000L,
      autoCap: Int = 512
  ): DataFrame = {
    val fps = simHash(tokenful(df, textCol), idCol, textCol).cache()
    val cap = maxPerBucket match {
      case Some(c) if c == Int.MaxValue => None // explicit exact cover
      case Some(c)                      => Some(c)
      case None =>
        // one count over the cached 16-byte-row fingerprint relation —
        // metadata-priced next to the banding join it sizes
        if (fps.count() > autoCapDocs) {
          log.warn(
            s"simHashPairs: corpus exceeds $autoCapDocs docs — " +
              s"capping band buckets at $autoCap distinct prints " +
              "(bounded recall; see scaladoc / SCALE.md, or use " +
              "simHashPairs128 for an exact wider-key cover)")
          Some(autoCap)
        } else None
    }
    val out = hammingPairs64(fps, idCol, "simhash", maxHamming, cap)
    fps.unpersist() // out is eagerly materialized inside hammingPairs64
    out
  }

  /** MinHash-LSH banding planner: for a target Jaccard threshold t
    * (percent), choose the (bands, rowsPerBand) factorization of
    * `nHashes` whose S-curve inflection s* = (1/b)^(1/r) sits closest
    * to t — the standard Datasketch/MMDS §3.4.3 rule, so a user asks
    * for "dedup at 0.8 Jaccard" and the planner picks the banding
    * instead of hand-tuning. Ties (equal |s*−t|) break toward MORE
    * bands (higher recall at the threshold). Pure driver-side planning
    * arithmetic — the output configures [[minHashLshPairs]].
    *
    * The float comparison is decision-only (rule 9 of the QueryDef
    * determinism contract): LshPlanMarginSpec proves every grid
    * decision at the committed nHashes values carries ≥1e-6 margin, 3+
    * orders above cross-libm pow noise.
    */
  def lshBandPlan(nHashes: Int, tPct: Int): (Int, Int) = {
    require(nHashes >= 1 && tPct >= 1 && tPct <= 99, s"bad plan inputs: $nHashes, $tPct")
    val t = tPct / 100.0
    val cands = (1 to nHashes).filter(nHashes % _ == 0).map(b => (b, nHashes / b))
    cands.minBy { case (b, r) =>
      (math.abs(math.pow(1.0 / b, 1.0 / r) - t), -b)
    }
  }

  /** Manku-style combinatorial-blocking Hamming join over ANY 64-bit
    * fingerprint relation (one row per id, `fpCol` LongType) — the
    * banding of [[simHashPairs]], shared with the non-text
    * fingerprints (image dHash, audio energy hashes). Returns
    * (a, b, hamming) with a < b and hamming ≤ maxHamming: the self face
    * of [[hammingCover]] over one word.
    *
    * `maxPerBucket` bounds BOTH candidate and output volume: band
    * buckets rank-limit to the first `cap` distinct prints by value,
    * and identical-fingerprint groups larger than the cap emit a linear
    * star (min-id rep → member) instead of their ~n²/2 clique —
    * connected components are preserved exactly either way. Unset,
    * both are exact.
    */
  def hammingPairs64(
      fpDf: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int,
      maxPerBucket: Option[Int] = None
  ): DataFrame =
    hammingCover(fpDf, None, idCol, Seq(fpCol), maxHamming, maxPerBucket)

  /** Incremental (refresh-shape) Hamming join: every NEW fingerprint
    * against the STANDING HISTORY's, with no history-internal pairwork
    * — the T2 resumability story for 64-bit fingerprints (image dHash,
    * SimHash), mirroring [[minHashLshPairsAgainst]]. The cross face of
    * [[hammingCover]]: the pigeonhole completeness argument is
    * unchanged by the cross shape, so the result equals the all-pairs
    * new×history predicate. Returns (new_id, hist_id, hamming ≤
    * maxHamming).
    */
  def hammingPairsAgainst64(
      newFp: DataFrame,
      histFp: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int
  ): DataFrame =
    hammingCover(newFp, Some(histFp), idCol, Seq(fpCol), maxHamming, None,
      "new_id", "hist_id")

  /** Token-less docs (null/empty/space-only text) all fingerprint to
    * zero — banding them would emit every such pair as a hamming-0
    * "near-dup". They carry no similarity signal (exact dedup owns
    * empty docs), so the SimHash faces drop them before banding.
    */
  private def tokenful(df: DataFrame, textCol: String): DataFrame =
    df.filter(coalesce(translate(col(textCol), " ", ""), lit("")) =!= "")

  /** THE Hamming pair join: Manku et al. (WWW'07) combinatorial
    * blocking over a fingerprint of one or more 64-bit words
    * (`fpCols`, LongType each). Every Hamming pair finder is a face of
    * it: self (`right` = None → (outA, outB) with outA < outB) or
    * cross (`left` × `right`, outA from left, outB from right).
    *
    * Layout: m = maxHamming + 2 chunks, rounded up to a multiple of
    * the word count so no chunk straddles two words (m / words per
    * word), banded on every C(m,2) two-chunk combination. A pair
    * within hamming k dirties ≤ k chunks, so ≥ 2 stay clean and the
    * pair shares at least one band — a complete cover, so the uncapped
    * pair set equals the all-pairs predicate. Against the minimal
    * single-chunk cover the band key widens from 64/(k+1) to
    * ~2·64/(k+2) bits per word, so random band collisions drop from
    * C(k+1,1)·n²/2^(64/(k+1)) to C(k+2,2)·n²/2^(128/(k+2)) — for k=7,
    * ~28× fewer candidates (a 3-chunk C(k+3,3) cover was measured and
    * LOST at sf10, 65.7 s vs 17.4 s: this corpus's band collisions are
    * near-dup-structure-dominated, so tripling the band rows just
    * triples the join input).
    *
    * EXACT-GROUP COLLAPSE (round 11): the band join runs over UNITS,
    * each a print plus one id. Where at least half the docs repeat a
    * print (image dHash: 579 distinct prints for 500k images at sf10),
    * or a cap is set, the units are the DISTINCT prints, keyed by their
    * min id, and a surviving unit pair joins back to the docs on each
    * print. The identical-print doc pairs are the a < b pairs inside
    * each print group of the docs. A doc pair within k has either
    * equal prints (hamming 0) or distinct prints that share a band:
    * each doc pair arises from exactly ONE unit pair or print group,
    * so no distinct over the expansion is needed. Candidate work
    * collapses from Σ_buckets |bucket|² over DOCS to the same sum over
    * distinct PRINTS (stripe-PNG image face at sf0.1: 19.1M → ~0.2M
    * band candidates, 5.1 s → sub-second). On near-unique prints (text
    * SimHash, 64- or 128-bit) the units are the docs themselves: the
    * print shuffle and the join back would only add stages. Band rows
    * carry one id either way, so the band shuffle moves C(m,2) rows of
    * one print and one id per unit. The self face pairs the band rows
    * inside each band group with the group-pairs exec (one band
    * shuffle); the cross face joins its two band relations.
    *
    * CANONICAL-COVER EMISSION (round 13): a ≤k pair with clean chunk
    * set S collides in C(|S|, 2) bands, and the distinct that crunched
    * the duplicates was the measured wall (~4 s of the 17.4 s exact
    * sf10 run). Each pair is instead kept ONLY in its canonical band —
    * the lexicographically first all-clean combination, tested per row
    * against the xor's clean-chunk bitmask inside the join's codegen
    * stage, so duplicates die before any exchange (cross-face pairs
    * with equal prints are all-clean and land in band 0).
    *
    * `maxPerBucket` (self face, always collapsed): rank-limit each band
    * bucket to its first `cap` DISTINCT prints by value — a hot key keeps its first
    * cap prints' pairs instead of vanishing, and the candidate ceiling
    * is O(m·d·cap) over d distinct prints. Capped buckets prune per
    * band, so a pair's canonical band may be the pruned one while a
    * later band keeps both: the capped path keeps the distinct.
    * Exact-print groups larger than the cap emit a linear min-id
    * rep→member STAR instead of the ~n²/2 hamming-0 clique no bucket
    * cap touches: connected components (what clusterize and drop sets
    * consume) are preserved exactly, groups at or under the cap keep
    * their clique.
    */
  private def hammingCover(
      left: DataFrame,
      right: Option[DataFrame],
      idCol: String,
      fpCols: Seq[String],
      maxHamming: Int,
      maxPerBucket: Option[Int],
      outA: String = "a",
      outB: String = "b"
  ): DataFrame = {
    val words = fpCols.size
    val m = (maxHamming + 2 + words - 1) / words * words
    val per = m / words
    // one chunk per word would pack a 128-bit band key into a long, and
    // the canonical-cover masks are one long wide
    require(per >= 2 && m <= 64,
      s"maxHamming=$maxHamming out of range for a $words-word fingerprint " +
        "(hamming-0 pairs are exact dedup on the fingerprint columns)")
    val starts = (0 to per).map(i => i * 64 / per)
    def width(c: Int): Int = starts(c % per + 1) - starts(c % per)
    // chunk c of a print given as its word columns: bits
    // [starts(c % per), starts(c % per + 1)) of word c / per
    def chunk(ws: Seq[Column], c: Int): Column = {
      val mask = if (width(c) >= 64) -1L else (1L << width(c)) - 1
      shiftright(ws(c / per), starts(c % per)).bitwiseAND(mask)
    }
    val pw = fpCols.indices.map(w => s"__p$w")
    val pc = pw.map(col)
    val aw = fpCols.indices.map(w => s"__a$w")
    val bw = fpCols.indices.map(w => s"__b$w")
    // each side's docs (__u = id, prints), cached: the band join and,
    // collapsed, the grouping and the join back read them. A null print
    // matches nothing: its band keys and join keys are null.
    def docs(df: DataFrame) = df
      .select(col(idCol).as("__u") +: fpCols.zip(pw).map { case (f, p) => col(f).as(p) }: _*)
      .cache()
    val lf = docs(left)
    val rf = right.map(docs).getOrElse(lf)
    // collapse when the cap is on (it counts prints) or at least half
    // the docs repeat a print; one job counts both sides' docs and
    // their distinct prints (HLL estimate) and materializes the caches
    val collapse = maxPerBucket.isDefined || {
      val st = (if (right.isEmpty) lf else lf.unionByName(rf))
        .agg(count(lit(1)), approx_count_distinct(xxhash64(pc: _*))).head()
      2 * st.getLong(1) <= st.getLong(0)
    }
    def units(fp: DataFrame) =
      if (collapse) fp.groupBy(pc: _*).agg(min(col("__u")).as("__u")) else fp
    // band (i, j), i < j in lexicographic order: key = chunk i | chunk j
    // << width(i), ≤ 64 bits; `prior` = the chunks below j except i —
    // those that must be DIRTY for (i, j) to be the canonical band
    val bandCols = (0 until m).combinations(2).zipWithIndex.map {
      case (Seq(i, j), idx) =>
        struct(lit(idx).as("band"),
          chunk(pc, i).bitwiseOR(shiftleft(chunk(pc, j), width(i))).as("key"),
          lit(((1L << j) - 1L) & ~(1L << i)).as("prior"))
    }.toSeq
    def banded(u: DataFrame): DataFrame = {
      val all = u
        .select(pc ++ Seq(col("__u"), explode(array(bandCols: _*)).as("bk")): _*)
        .select(pc ++ Seq(col("__u"), col("bk.band").as("band"),
          col("bk.key").as("key"), col("bk.prior").as("prior")): _*)
      maxPerBucket.fold(all) { cap =>
        // the window shuffles on the keys the join exchanges on
        val wBucket = Window.partitionBy(col("band"), col("key"), col("prior"))
          .orderBy(pc.map(_.asc): _*)
        all.withColumn("__bn", row_number().over(wBucket))
          .filter(col("__bn") <= cap)
          .drop("__bn")
      }
    }
    val lb = banded(units(lf))
    val bandKeys = Seq("band", "key", "prior")
    def named(from: Seq[String], to: Seq[String]) =
      from.zip(to).map { case (f, t) => col(f).as(t) }
    val joined = right match {
      case None =>
        // self face: the a < b unit pairs inside each band group, one
        // band shuffle; the prints and `prior` ride along as payload
        GroupPairs.pairs(lb, bandKeys.map(col), col("__u"), pc :+ col("prior"), Long.MaxValue)
          .select(named(pw.map(_ + "_a"), aw) ++ named(pw.map(_ + "_b"), bw) ++
            named(Seq("a", "b", "prior_a"), Seq("__ua", "__ub", "prior")): _*)
      case Some(_) =>
        // NEVER let the static planner broadcast a band side: Generate
        // (the explode) keeps its CHILD's size estimate, so the banded
        // relation looks ~8 MB when it is |prints|·C(m,2) rows (a 6 GiB
        // broadcast build at sf10, found by SimHashStageProbe). The hint
        // pins a shuffle merge join; AQE still re-plans splits/skew at
        // runtime. `prior` is a function of `band`, so joining on it
        // changes no match.
        lb.as("l").hint("shuffle_merge")
          .join(banded(units(rf)).as("r"), bandKeys)
          .select(named(pw.map("l." + _), aw) ++ named(pw.map("r." + _), bw) ++
            named(Seq("l.__u", "r.__u", "prior"), Seq("__ua", "__ub", "prior")): _*)
    }
    val xors = aw.zip(bw).map { case (x, y) => col(x).bitwiseXOR(col(y)) }
    val cleanMask = (0 until m).map { c =>
      when(chunk(xors, c) === 0L, lit(1L << c)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    // equal prints are all-clean and land in band 0
    val verified = joined
      .withColumn("hamming", xors.map(bit_count(_)).reduce(_ + _).cast("long"))
      .filter(col("hamming") <= maxHamming)
    val pairCols = (aw ++ bw ++ Seq("__ua", "__ub", "hamming")).map(col)
    val unitPairs = maxPerBucket match {
      case None =>
        verified.filter(cleanMask.bitwiseAND(col("prior")) === 0L).select(pairCols: _*)
      case Some(_) => verified.select(pairCols: _*).distinct()
    }
    // a collapsed side's print expands to its docs: each doc pair
    // within k arises from exactly one unit pair (self-face unit pairs
    // have distinct prints; a cross unit pair expands to every new ×
    // history doc pair of its two prints, a shared id included)
    def expand(pairs: DataFrame, fp: DataFrame, ws: Seq[String], u: String) =
      pairs.drop(u).join(
        fp.select(col("__u").as(u) +: pw.zip(ws).map { case (p, w) => col(p).as(w) }: _*), ws)
    val expanded =
      if (!collapse) unitPairs
      else expand(expand(unitPairs, lf, aw, "__ua"), rf, bw, "__ub")
    val (ia, ib) =
      if (right.isEmpty) (least(col("__ua"), col("__ub")), greatest(col("__ua"), col("__ub")))
      else (col("__ua"), col("__ub"))
    val cross = expanded.select(ia.as(outA), ib.as(outB), col("hamming"))
    val out = (right match {
      case None if collapse =>
        // identical-print doc pairs of a collapsed self face: the a < b
        // pairs inside each print group (a print with a null word
        // pairs nothing); a capped face keeps that clique only for
        // groups of at most `cap` docs and links larger groups by a
        // linear min-id star
        def clique(docs: DataFrame, maxDf: Long) =
          GroupPairs.pairs(docs, pc, col("__u"), Nil, maxDf)
            .select(col("a").as(outA), col("b").as(outB))
        val same = maxPerBucket match {
          case None => clique(lf, Long.MaxValue)
          case Some(cap) =>
            val g = Window.partitionBy(pc: _*)
            val sized = lf
              .withColumn("__gn", count(lit(1)).over(g))
              .withColumn("__rep", min(col("__u")).over(g))
            val star = sized.filter(col("__gn") > cap && col("__u") =!= col("__rep"))
              .select(col("__rep").as(outA), col("__u").as(outB))
            clique(sized, cap).unionByName(star)
        }
        same.withColumn("hamming", lit(0L)).unionByName(cross)
      case _ => cross
    }).cache()
    out.count()
    lf.unpersist()
    rf.unpersist()
    out
  }

  /** Components + canonicals directly from a 64-bit FINGERPRINT
    * relation, exact-group collapsed — the production shape of
    * fingerprint clustering at corpus scale. Exact-duplicate
    * fingerprints are pervasive in real corpora (byte-identical
    * images/docs re-crawled millions of times), and feeding the full
    * pair relation to components pays C(k,2) pairs per
    * identical-fingerprint clique — quadratic in the clique size for
    * edges that carry zero extra connectivity. Collapse first:
    *
    *   1. one representative (min id) per DISTINCT fingerprint;
    *   2. each exact group contributes a linear star rep→member;
    *   3. the Manku Hamming banding join runs over distinct
    *      fingerprints only.
    *
    * The cluster partition PROVABLY equals `clusterize` over the full
    * [[hammingPairs64]] relation: identical fingerprints are
    * hamming-0 connected (the star), any cross pair connects its two
    * exact groups through their reps, component minima are reps (a
    * rep is its group's min id), and the node sets coincide. The
    * candidate work now scales with the distinct-fingerprint
    * population instead of corpus size — on a corpus where every
    * image occurs k times, that is a k² reduction of the join and a
    * k×→1× reduction of pair emission (measured: the sf1 image-dedup
    * graph drops from 138 s of quadratic pair emission to seconds).
    */
  def clusterizeHamming64(
      fpDf: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int,
      localThreshold: Long = 500000L): DataFrame = {
    val fp = fpDf.select(col(idCol).as("__id"), col(fpCol).as("__fp")).cache()
    val groups = fp.groupBy("__fp")
      .agg(min("__id").as("__rep"), count(lit(1)).as("__gn")).cache()
    // near-dup connectivity between exact groups: distinct prints only
    val repPairs = hammingPairs64(
      groups.select(col("__rep").as("__id"), col("__fp")),
      "__id", "__fp", maxHamming)
    // Components are computed at the REP level only (one node per
    // distinct fingerprint — NOTES.md r13 dhash probe: 579 reps for 500k
    // images), then every member INHERITS its rep's label through one
    // linear join. The pre-r13 formulation unioned the ~corpus-sized
    // member→rep star edges into the generic clusterize, which (a)
    // collected them all to the driver in the local tier and (b)
    // tipped the 500k-image corpus over localThreshold into iterated
    // distributed star-contraction for a graph whose contraction is
    // already known — 28 s of CC for 579 real nodes (5.2x/decade on
    // linear data). Label equality is exact: a component's min id is
    // its min rep (each rep is its group's min), members never lower
    // it, so rep-graph labels ARE the member-graph labels.
    val comps = clusterize(repPairs.select(col("a"), col("b")), "__rep",
      localThreshold)
    val repComp = comps.select(col("__rep"), col("component").as("__comp"))
    // node set preserved exactly: docs in exact groups >= 2 (they had
    // star edges) plus members of singleton groups whose rep is
    // near-dup connected (they appeared via repPairs)
    val out = fp.join(groups, "__fp")
      .join(repComp, Seq("__rep"), "left")
      .filter(col("__gn") >= 2L || col("__comp").isNotNull)
      .select(col("__id"),
        coalesce(col("__comp"), col("__rep")).as("component"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .select(col("__id").as(idCol), col("component"),
        col("cluster_size"),
        (col("__id") === col("component")).as("is_canonical"))
      .cache()
    out.count()
    // only the result outlives the call: the rep pair cache and (on the
    // distributed tier) clusterize's cached label table go too
    comps.unpersist()
    repPairs.unpersist()
    groups.unpersist()
    fp.unpersist()
    out
  }

  /** 128-bit SimHash: two independent FNV-1a folds per token (the
    * second seeded with offset-basis ⊕ golden-ratio — both bases are
    * public constants, replayed by the oracle), 128 per-bit ±1
    * majorities, fingerprint = (word1, word2). This is the production
    * fingerprint width for 10⁹-document corpora: ANY fixed 64-bit
    * banding has a random-collision floor ∝ n²/2^w (SCALE.md), and
    * widening the fingerprint — not the bands — is what moves it.
    */
  val simHash128Udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) Array(0L, 0L)
      else {
        val counts = new Array[Int](128)
        val toks = text.split(" ", -1)
        var i = 0
        while (i < toks.length) {
          val t = toks(i)
          if (t.nonEmpty) {
            var h1 = 0xcbf29ce484222325L
            var h2 = 0x55c5e55dfb685f30L // basis ^ 0x9e3779b97f4a7c15
            var k = 0
            while (k < t.length) {
              // codepoint fold — see [[simHashUdf]]
              val c = t.codePointAt(k).toLong
              h1 ^= c; h1 *= 0x100000001b3L
              h2 ^= c; h2 *= 0x100000001b3L
              k += Character.charCount(c.toInt)
            }
            var j = 0
            while (j < 64) {
              if (((h1 >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
              if (((h2 >>> j) & 1L) == 1L) counts(64 + j) += 1 else counts(64 + j) -= 1
              j += 1
            }
          }
          i += 1
        }
        var f1 = 0L
        var f2 = 0L
        var j = 0
        while (j < 64) {
          if (counts(j) > 0) f1 |= (1L << j)
          if (counts(64 + j) > 0) f2 |= (1L << j)
          j += 1
        }
        Array(f1, f2)
      }
    }

  /** 128-bit SimHash near-dup pairs — the same Manku cover as
    * [[simHashPairs]] over the wider fingerprint: the self face of
    * [[hammingCover]] over the two words (m = maxHamming+2 chunks
    * rounded up to EVEN, m/2 per word; maxHamming ≥ 1). At k=7 keys
    * are ~25 bits (vs ~15 for 64-bit), pushing the random-collision
    * floor to C(10,2)·n²/2²⁵ — the committed 10⁹-doc configuration.
    */
  def simHashPairs128(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 7
  ): DataFrame = {
    val fp = tokenful(df, textCol)
      .select(col(idCol), simHash128Udf(col(textCol)).as("fp"))
      .select(col(idCol), col("fp").getItem(0).as("f1"), col("fp").getItem(1).as("f2"))
    hammingCover(fp, None, idCol, Seq("f1", "f2"), maxHamming, None)
  }
}
