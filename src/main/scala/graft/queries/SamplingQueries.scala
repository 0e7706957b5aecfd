package graft.queries

import graft.core.Graft.table
import graft.text.{QualityClassifier, Sampling, TextAnalysis}
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting / decontamination / repetition —
  * the curation decisions a training-data pipeline makes at corpus
  * scale. All are salted-md5 or integer-count based, so every query
  * here is fully oracle-checked (hex-prefix comparisons and long/long
  * ratios are engine-exact; see Sampling and QueryDef scaladoc).
  */
object SamplingQueries {

  /** The q_sample_dsir_gate oracle body, shared with the resample
    * face (which draws from exactly this gate's survivors).
    */
  private val dsirGateOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, lang,
      |    unnest(list_filter(string_split(text, ' '), t -> t != '')) AS t
      |  FROM documents WHERE text IS NOT NULL),
      |fh AS (
      |  SELECT doc_id, lang,
      |    CAST(list_reduce(
      |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
      |        list_transform(range(1, length(t) + 1),
      |          i -> CAST(unicode(t[i:i]) AS HUGEINT))),
      |      (h, c) -> (xor(h, c) * 1099511628211) % 18446744073709551616)
      |      & 255 AS BIGINT) AS f
      |  FROM tok),
      |tc AS (SELECT f, CAST(count(*) AS BIGINT) AS ntf
      |  FROM fh WHERE lang = 'en' GROUP BY f),
      |rc AS (SELECT f, CAST(count(*) AS BIGINT) AS nrf
      |  FROM fh GROUP BY f),
      |tot AS (SELECT
      |    (SELECT coalesce(sum(ntf), 0) FROM tc) AS bignt,
      |    (SELECT coalesce(sum(nrf), 0) FROM rc) AS bignr),
      |dc AS (SELECT doc_id, f, CAST(count(*) AS BIGINT) AS c
      |  FROM fh GROUP BY doc_id, f),
      |agg AS (
      |  SELECT dc.doc_id,
      |    CAST(sum(dc.c) AS BIGINT) AS n_toks,
      |    CAST(sum(dc.c * coalesce(tc.ntf, 0)) AS BIGINT) AS t_mass,
      |    CAST(sum(dc.c * coalesce(rc.nrf, 0)) AS BIGINT) AS r_mass
      |  FROM dc LEFT JOIN tc ON tc.f = dc.f LEFT JOIN rc ON rc.f = dc.f
      |  GROUP BY dc.doc_id),
      |gate AS (
      |  SELECT d.doc_id,
      |    coalesce(a.n_toks, 0) AS n_toks,
      |    coalesce(a.t_mass, 0) AS t_mass,
      |    coalesce(a.r_mass, 0) AS r_mass,
      |    coalesce(a.n_toks, 0) > 0 AND
      |      CAST(coalesce(a.t_mass, 0) AS HUGEINT) * t.bignr * 1000 >=
      |      CAST(coalesce(a.r_mass, 0) AS HUGEINT) * t.bignt * 1000 AS keep
      |  FROM documents d CROSS JOIN tot t
      |  LEFT JOIN agg a ON a.doc_id = d.doc_id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // ----------------------------------------------------------------
    QueryDef(
      "q_sample_split",
      covers = "sampling,split",
      fn = (s, dir) =>
        table(s, dir, "documents")
          .select(
            col("doc_id"),
            substring(Sampling.saltedHex("sample", col("doc_id")), 1, 4)
              .as("s_hex"),
            Sampling.sampleFlag("sample", col("doc_id"), "3fff").as("in_sample"),
            Sampling.splitAssign("split", col("doc_id")).as("split")
          )
          .orderBy("doc_id"),
      oracle = Some(
        """WITH h AS (SELECT doc_id,
          |    substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 4) AS s_hex,
          |    substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) AS b_hex
          |  FROM documents)
          |SELECT doc_id, s_hex, s_hex <= '3fff' AS in_sample,
          |  CASE WHEN b_hex <= 'b' THEN 'train'
          |       WHEN b_hex <= 'd' THEN 'val'
          |       ELSE 'test' END AS split
          |FROM h ORDER BY doc_id""".stripMargin
      ),
      doc = "deterministic salted-md5 Bernoulli sample (25%) + " +
        "train/val/test split (12/2/2 hex buckets) — reproducible " +
        "across engines and cluster layouts, no RNG state"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_sample_group_split",
      covers = "sampling,split,dedup-exact-normalized",
      fn = (s, dir) => {
        // leakage-safe split: assignment hashes the normalized CONTENT
        // key, not the doc id — every (near-)identical copy of a
        // document lands in the same split, so train can never see
        // test's reformatted twin. Fixture: every 5th doc gains a
        // reformatted variant under a shifted id (the
        // q_dedup_exact_normalized pair construction).
        val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
        val variants = d.filter(col("doc_id") % 5L === 0L)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("  "), upper(col("text")), lit(" !!  ")).as("text"))
        d.unionByName(variants)
          .select(col("doc_id"),
            graft.text.TextAnalysis.normalizedDigest(col("text"))
              .as("content_key"))
          .withColumn("split",
            graft.text.Sampling.splitAssign("gsplit", col("content_key")))
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH u AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000, '  ' || upper(text) || ' !!  '
          |  FROM documents WHERE doc_id % 5 = 0),
          |n AS (SELECT doc_id,
          |   trim(regexp_replace(regexp_replace(lower(text),
          |     '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS norm
          | FROM u),
          |k AS (SELECT doc_id, md5(norm) AS content_key FROM n),
          |h AS (SELECT doc_id, content_key,
          |   substr(md5('gsplit:' || content_key), 1, 1) AS b_hex
          | FROM k)
          |SELECT doc_id, content_key,
          |  CASE WHEN b_hex <= 'b' THEN 'train'
          |       WHEN b_hex <= 'd' THEN 'val'
          |       ELSE 'test' END AS split
          |FROM h ORDER BY doc_id""".stripMargin
      ),
      doc = "leakage-safe train/val/test split: assignment hashes the " +
        "normalized content key instead of the doc id, so exact and " +
        "reformatted duplicates always share a split (no train/test " +
        "contamination through dup pairs — the C4/Pile eval-hygiene " +
        "rule); per-row expression over the digest, zero extra shuffle"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_sft_preference_pairs",
      covers = "preference-pairs,sft-prep,A2",
      fn = (s, dir) =>
        graft.text.Sampling
          .preferencePairs(
            table(s, dir, "documents")
              .withColumn("pair_group", floor(col("doc_id") / 4).cast("long"))
              .withColumn("score", length(col("text")).cast("long")),
            "pair_group", "doc_id", "score")
          .orderBy("pair_group"),
      oracle = Some(
        """WITH c AS (
          |  SELECT doc_id, doc_id // 4 AS grp,
          |    CAST(length(text) AS BIGINT) AS score
          |  FROM documents),
          |b AS (SELECT grp, doc_id AS chosen_id, score AS chosen_score,
          |        row_number() OVER (PARTITION BY grp
          |          ORDER BY score DESC, doc_id ASC) AS rn FROM c),
          |w AS (SELECT grp, doc_id AS rejected_id, score AS rejected_score,
          |        row_number() OVER (PARTITION BY grp
          |          ORDER BY score ASC, doc_id DESC) AS rn FROM c),
          |n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_cands
          |      FROM c GROUP BY grp)
          |SELECT n.grp AS pair_group, n.n_cands,
          |  b.chosen_id, b.chosen_score, w.rejected_id, w.rejected_score
          |FROM n
          |JOIN b ON b.grp = n.grp AND b.rn = 1
          |JOIN w ON w.grp = n.grp AND w.rn = 1
          |WHERE n.n_cands >= 2 ORDER BY pair_group""".stripMargin
      ),
      doc = "DPO preference-pair construction (Rafailov et al. '23): " +
        "per candidate group, best-scored response paired as chosen " +
        "vs worst as rejected, deterministic tiebreaks — one keyed " +
        "aggregation with struct max/min (map-side partials, no " +
        "per-group sort or window); doc quarters group the fixture, " +
        "char length is the integer reward proxy"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_sample_unimax",
      covers = "unimax,sampling,mixture",
      fn = (s, dir) =>
        graft.text.Sampling
          .unimaxPlan(table(s, dir, "documents"), "lang", "text",
            budgetTokens = 20000L, maxEpochs = 1)
          .orderBy("lang"),
      oracle = Some(
        """WITH RECURSIVE counts AS (
          |  SELECT lang,
          |    CAST(sum(length(text) - length(replace(text, ' ', '')) + 1)
          |      AS BIGINT) AS n_tok
          |  FROM documents GROUP BY lang),
          |ord AS (
          |  SELECT lang, n_tok,
          |    CAST(row_number() OVER (ORDER BY n_tok ASC, lang ASC)
          |      AS BIGINT) AS rn,
          |    CAST(count(*) OVER () AS BIGINT) AS nl
          |  FROM counts),
          |rec AS (
          |  SELECT CAST(0 AS BIGINT) AS rn, CAST(20000 AS BIGINT) AS rem,
          |    CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS n_tok,
          |    CAST(NULL AS BIGINT) AS alloc
          |  UNION ALL
          |  SELECT o.rn,
          |    r.rem - least(1 * o.n_tok, r.rem // (o.nl - o.rn + 1)),
          |    o.lang, o.n_tok,
          |    least(1 * o.n_tok, r.rem // (o.nl - o.rn + 1))
          |  FROM rec r JOIN ord o ON o.rn = r.rn + 1)
          |SELECT lang, n_tok, CAST(alloc AS BIGINT) AS alloc_tok,
          |  CAST(CASE WHEN n_tok = 0 THEN 0
          |       ELSE alloc * 1000 // n_tok END AS BIGINT) AS epochs_permille
          |FROM rec WHERE lang IS NOT NULL ORDER BY lang""".stripMargin
      ),
      doc = "UniMax language balancing (Chung et al. '23 — the " +
        "T5X/PaLM-2 allocator): languages ascending by size each get " +
        "min(maxEpochs·n, remaining ∕ left) tokens, surplus flowing " +
        "to larger languages instead of a temperature exponent; one " +
        "corpus aggregation + a dimension-sized driver fold (codebook " +
        "pattern), replayed as a recursive CTE — at this budget both " +
        "the epoch-cap and budget-limited branches fire"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_sample_shuffle",
      covers = "sampling,shuffle",
      fn = (s, dir) =>
        // deterministic corpus shuffle: the training-loader order IS
        // the sort by the salted key; the driver compare preserves row
        // order, so the full permutation is oracle-verified
        table(s, dir, "documents")
          .select(
            col("doc_id"),
            Sampling.shuffleKey("epoch0", col("doc_id")).as("shuffle_key"))
          .orderBy("shuffle_key"),
      oracle = Some(
        """SELECT doc_id, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
          |FROM documents ORDER BY shuffle_key""".stripMargin
      ),
      doc = "deterministic corpus shuffle for training epochs: ORDER BY " +
        "salted-md5 key — same permutation on any engine/layout, new " +
        "salt = independent epoch permutation"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_sample_budget",
      covers = "sampling,mixture-planner",
      fn = (s, dir) => {
        val d = table(s, dir, "documents")
        // non-uniform weights derived from the source id so the oracle
        // can replicate them arithmetically: ppm = 20k + (n % 5)·20k
        val weights = d
          .select(col("source")).distinct()
          .withColumn(
            "weight_ppm",
            expr("20000 + (CAST(substring(source, 4) AS BIGINT) % 5) * 20000"))
        Sampling
          .planMixture(d, "source", "text", weights, budgetTokens = 20000L)
          .select("source", "n_tok_total", "weight_ppm", "target_tok",
            "keep_all", "rate_thresh", "rate_hex4")
          .orderBy("source")
      },
      oracle = Some(
        """WITH totals AS (
          |  SELECT source,
          |    sum(length(text) - length(replace(text, ' ', '')) + 1) AS n_tok_total
          |  FROM documents GROUP BY source),
          |w AS (
          |  SELECT source,
          |    20000 + (CAST(substr(source, 4) AS BIGINT) % 5) * 20000 AS weight_ppm
          |  FROM (SELECT DISTINCT source FROM documents)),
          |p AS (
          |  SELECT t.source, CAST(t.n_tok_total AS BIGINT) AS n_tok_total,
          |    w.weight_ppm,
          |    w.weight_ppm * 20000 // 1000000 AS target_tok
          |  FROM totals t JOIN w USING (source))
          |SELECT source, n_tok_total, weight_ppm, target_tok,
          |  target_tok >= n_tok_total AS keep_all,
          |  CASE WHEN target_tok >= n_tok_total THEN 65535
          |       ELSE greatest(0, target_tok * 65536 // n_tok_total - 1)
          |  END AS rate_thresh,
          |  lpad(lower(hex(CASE WHEN target_tok >= n_tok_total THEN 65535
          |       ELSE greatest(0, target_tok * 65536 // n_tok_total - 1) END)), 4, '0')
          |    AS rate_hex4
          |FROM p ORDER BY source""".stripMargin
      ),
      doc = "token-budget mixture planner: per-source token targets and " +
        "the hex-4 keep-rate thresholds mixtureFlag consumes — integer " +
        "div chain, fully oracle-checked"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_sample_mixture",
      covers = "sampling,mixture",
      fn = (s, dir) => {
        // per-source mixture rates: even-numbered sources kept at 75%,
        // odd at 25% — the upsample-curated / downsample-crawl shape
        val rate = when(
          substring(col("source"), 4, 8).cast("int") % 2 === 0, "bfff")
          .otherwise("3fff")
        table(s, dir, "documents")
          .withColumn("kept",
            Sampling.mixtureFlag("mix", col("doc_id"), rate))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            count(when(col("kept"), 1)).as("n_kept")
          )
          .orderBy("source")
      },
      oracle = Some(
        """SELECT source, count(*) AS n_docs,
          |  count(CASE WHEN substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4)
          |    <= (CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
          |        THEN 'bfff' ELSE '3fff' END) THEN 1 END) AS n_kept
          |FROM documents GROUP BY source ORDER BY source""".stripMargin
      ),
      doc = "per-source mixture sampling with deterministic salted-md5 " +
        "rates; per-row predicate, no shuffle beyond the audit rollup"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_sample_per_group",
      covers = "sampling,per-group",
      fn = (s, dir) =>
        Sampling
          .perGroupSample(table(s, dir, "documents"), "source", "doc_id",
            k = 5, salt = "grp")
          .select("source", "sample_rank", "doc_id")
          .orderBy("source", "sample_rank"),
      oracle = Some(
        """SELECT source, sample_rank, doc_id FROM (
          |  SELECT source, doc_id,
          |    CAST(row_number() OVER (PARTITION BY source
          |      ORDER BY md5('grp:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
          |      AS sample_rank
          |  FROM documents)
          |WHERE sample_rank <= 5 ORDER BY source, sample_rank""".stripMargin
      ),
      doc = "deterministic k-per-group sample: salted-hash order inside " +
        "each source, keep first k — balanced subsets, no RNG"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_decontaminate",
      covers = "decontamination",
      fn = (s, dir) => {
        val d = table(s, dir, "documents")
        val bench = d.filter(col("doc_id") % 97L === 0L)
        val corpus = d.filter(col("doc_id") % 97L =!= 0L)
        TextAnalysis
          .decontaminate(corpus, bench, "doc_id", "text", n = 3)
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
          |        range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')))) AS gram
          |      FROM t WHERE len(tk) >= 3),
          |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
          |hits AS (SELECT doc_id, count(*) AS n FROM g JOIN bench USING (gram)
          |         WHERE doc_id % 97 <> 0 GROUP BY doc_id)
          |SELECT d.doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_shared,
          |       coalesce(n, 0) > 0 AS contaminated
          |FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
          |WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id""".stripMargin
      ),
      doc = "benchmark decontamination: corpus docs sharing any word " +
        "3-gram with the benchmark subset (doc_id % 97 = 0); benchmark " +
        "n-grams broadcast, corpus explodes once"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_decontaminate_report",
      covers = "decontamination,audit",
      fn = (s, dir) => {
        val d = table(s, dir, "documents")
        val bench = d.filter(col("doc_id") % 97L === 0L)
        val corpus = d.filter(col("doc_id") % 97L =!= 0L)
        TextAnalysis
          .decontaminationReport(corpus, bench, "doc_id", "text", n = 3)
          .orderBy("doc_id", "bench_id")
      },
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
          |        range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')))) AS gram
          |      FROM t WHERE len(tk) >= 3),
          |b AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 97 = 0),
          |c AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
          |SELECT c.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS n_shared,
          |  min(c.gram) AS first_shared_gram
          |FROM c JOIN b USING (gram)
          |GROUP BY c.doc_id, b.bench_id
          |ORDER BY c.doc_id, b.bench_id""".stripMargin
      ),
      doc = "contamination AUDIT report: per (corpus doc, eval item) " +
        "pair with shared-distinct-3-gram count and the first shared " +
        "gram as quotable evidence — the report face of " +
        "q_decontaminate's yes/no filter"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_decontaminate_fuzzy",
      covers = "decontamination,dedup-minhash",
      fn = (s, dir) => {
        val d = table(s, dir, "documents")
        val bench = d.filter(col("doc_id") % 97L === 0L)
        val corpus = d.filter(col("doc_id") % 97L =!= 0L)
        TextAnalysis
          .decontaminateFuzzy(corpus, bench, "doc_id", "text",
            n = 3, bands = 8, rowsPerBand = 4, minJaccard = 0.12)
          .orderBy("doc_id")
      },
      // the incremental-LSH oracle (FNV shingles, modular permutations,
      // banding on signature quads) reshaped corpus×bench and
      // aggregated per corpus doc; max(jaccard) is a max over per-pair
      // doubles each computed identically on both engines
      oracle = Some(
        """WITH d AS (
          |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |g AS (
          |  SELECT doc_id,
          |    list_distinct(list_transform(
          |      list_transform(range(1, len(toks) - 1),
          |        i -> list_reduce(
          |          list_prepend(CAST(14695981039346656037 AS HUGEINT),
          |            list_transform(range(1, length(array_to_string(toks[i:i+2], ' ')) + 1),
          |              k -> CAST(unicode(array_to_string(toks[i:i+2], ' ')[k:k]) AS HUGEINT))),
          |          (h, c) -> (xor(h, c) * 1099511628211) % 18446744073709551616)),
          |      hu -> CAST(CASE WHEN hu >= CAST(1 AS HUGEINT) << 63
          |            THEN hu - 18446744073709551616 ELSE hu END AS BIGINT))) AS xs
          |  FROM d WHERE len(toks) >= 3),
          |sg AS (
          |  SELECT doc_id, xs, len(xs) AS n_sh,
          |    list_transform(range(0, 32),
          |      i -> list_min(list_transform(xs,
          |        x -> ((((x % 2147483647) + 2147483647) % 2147483647)
          |              * (104729 * i + 12345) + 15485863 * (i + 1)) % 2147483647))) AS sig
          |  FROM g WHERE len(xs) > 0),
          |bd AS (
          |  SELECT doc_id, sig, unnest(range(0, 8)) AS band FROM sg),
          |cand AS (
          |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS hist_id
          |  FROM bd x JOIN bd y ON x.band = y.band
          |    AND x.doc_id % 97 <> 0 AND y.doc_id % 97 = 0
          |    AND x.sig[4 * x.band + 1] = y.sig[4 * y.band + 1]
          |    AND x.sig[4 * x.band + 2] = y.sig[4 * y.band + 2]
          |    AND x.sig[4 * x.band + 3] = y.sig[4 * y.band + 3]
          |    AND x.sig[4 * x.band + 4] = y.sig[4 * y.band + 4]),
          |pairs AS (
          |  SELECT new_id,
          |    CAST(len(list_intersect(gn.xs, gh.xs)) AS DOUBLE)
          |      / CAST(gn.n_sh + gh.n_sh - len(list_intersect(gn.xs, gh.xs)) AS DOUBLE)
          |      AS jaccard
          |  FROM cand JOIN sg gn ON gn.doc_id = new_id
          |  JOIN sg gh ON gh.doc_id = hist_id),
          |hits AS (
          |  SELECT new_id AS doc_id, CAST(count(*) AS BIGINT) AS n,
          |    max(jaccard) AS mx
          |  FROM pairs WHERE jaccard >= 0.12 GROUP BY new_id)
          |SELECT dd.doc_id,
          |  CAST(coalesce(h.n, 0) AS BIGINT) AS n_bench_matches,
          |  coalesce(h.mx, 0.0) AS max_jaccard,
          |  coalesce(h.n, 0) > 0 AS contaminated
          |FROM documents dd LEFT JOIN hits h ON h.doc_id = dd.doc_id
          |WHERE dd.doc_id % 97 <> 0 ORDER BY dd.doc_id""".stripMargin
      ),
      doc = "FUZZY decontamination: corpus docs whose shingle Jaccard " +
        "with any eval item (doc_id % 97 = 0) reaches 0.12 via the " +
        "incremental MinHash-LSH path (corpus bands join the tiny " +
        "bench bands only — no corpus self-pairs), exact-verified; " +
        "catches paraphrased eval leakage the exact 3-gram face misses"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_quality_classifier",
      covers = "text-quality,classifier-gate",
      fn = (s, dir) => {
        val d = table(s, dir, "documents")
        val model = QualityClassifier.fit(
          d.filter(col("lang") === "en"),
          d.filter(col("lang") =!= "en"),
          "text", buckets = 256)
        QualityClassifier
          .scoreWithModel(d, model, "doc_id", "text", thetaNano = 0L)
          .orderBy("doc_id")
      },
      // full integer replay: FNV-hashed unigram+bigram features,
      // HUGEINT floor-divided fixed-point weights, long inner
      // products; `score` is one exact-long division (rule 5)
      oracle = Some(
        """WITH tok AS (
          |  SELECT doc_id, lang,
          |    list_filter(string_split(text, ' '), t -> t != '') AS tk
          |  FROM documents WHERE text IS NOT NULL),
          |feat AS (
          |  SELECT doc_id, lang, unnest(list_concat(tk,
          |    list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]))) AS ft
          |  FROM tok),
          |fh AS (
          |  SELECT doc_id, lang,
          |    CAST(list_reduce(
          |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
          |        list_transform(range(1, length(ft) + 1),
          |          i -> CAST(unicode(ft[i:i]) AS HUGEINT))),
          |      (h, c) -> (xor(h, c) * 1099511628211) % 18446744073709551616)
          |      & 255 AS BIGINT) AS f
          |  FROM feat),
          |pc AS (SELECT f, CAST(count(*) AS BIGINT) AS np
          |  FROM fh WHERE lang = 'en' GROUP BY f),
          |nc AS (SELECT f, CAST(count(*) AS BIGINT) AS nn
          |  FROM fh WHERE lang <> 'en' GROUP BY f),
          |tot AS (SELECT
          |    CAST((SELECT coalesce(sum(np), 0) FROM pc) AS HUGEINT) AS bignp,
          |    CAST((SELECT coalesce(sum(nn), 0) FROM nc) AS HUGEINT) AS bignn),
          |w AS (
          |  SELECT r.range AS f,
          |    CAST((CAST(1000000000 AS HUGEINT) * (coalesce(pc.np, 0) + 1))
          |        // (t.bignp + 256)
          |      - (CAST(1000000000 AS HUGEINT) * (coalesce(nc.nn, 0) + 1))
          |        // (t.bignn + 256) AS BIGINT) AS wf
          |  FROM range(0, 256) r
          |  LEFT JOIN pc ON pc.f = r.range LEFT JOIN nc ON nc.f = r.range
          |  CROSS JOIN tot t),
          |dc AS (SELECT doc_id, f, CAST(count(*) AS BIGINT) AS c
          |  FROM fh GROUP BY doc_id, f),
          |agg AS (
          |  SELECT dc.doc_id,
          |    CAST(sum(dc.c) AS BIGINT) AS n_feats,
          |    CAST(sum(dc.c * w.wf) AS BIGINT) AS w_sum
          |  FROM dc JOIN w ON w.f = dc.f GROUP BY dc.doc_id)
          |SELECT d.doc_id,
          |  CAST(coalesce(a.n_feats, 0) AS BIGINT) AS n_feats,
          |  CAST(coalesce(a.w_sum, 0) AS BIGINT) AS w_sum,
          |  CASE WHEN coalesce(a.n_feats, 0) > 0
          |    THEN CAST(a.w_sum AS DOUBLE)
          |      / (CAST(a.n_feats AS DOUBLE) * 1000000000.0)
          |    ELSE 0.0 END AS score,
          |  coalesce(a.n_feats, 0) > 0 AND coalesce(a.w_sum, 0) >= 0 AS keep
          |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
          |ORDER BY d.doc_id""".stripMargin
      ),
      doc = "fastText-style hashed unigram+bigram linear quality gate " +
        "(the DCLM/FineWeb-Edu filter shape): 256-bucket FNV features, " +
        "fixed-point integer weights fit from lang='en' vs rest by " +
        "one-pass Laplace-smoothed counts, per-row scoring with zero " +
        "shuffle; keep = mean feature weight >= 0, integer-exact"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_repetition",
      covers = "text-quality,repetition",
      fn = (s, dir) =>
        TextAnalysis
          .repetitionMetrics(table(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          |g AS (SELECT doc_id, unnest(list_transform(
          |        range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))) AS g2
          |      FROM t WHERE len(tk) >= 2),
          |pg AS (SELECT doc_id, g2, count(*) AS c FROM g GROUP BY doc_id, g2),
          |rep AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2gram,
          |               max(c) AS top_2gram_n FROM pg GROUP BY doc_id),
          |base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
          |                CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct_tok
          |         FROM t)
          |SELECT b.doc_id, n_tok, n_distinct_tok, n_2gram, top_2gram_n,
          |  CAST(n_distinct_tok AS DOUBLE) / CAST(n_tok AS DOUBLE) AS distinct_tok_ratio,
          |  CAST(top_2gram_n AS DOUBLE) / CAST(n_2gram AS DOUBLE) AS top_2gram_ratio
          |FROM base b JOIN rep USING (doc_id) ORDER BY doc_id""".stripMargin
      ),
      doc = "Gopher-style repetition filters: distinct-token ratio and " +
        "top-bigram fraction per document (long/long ratios, exact)"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_repetition_gate",
      covers = "text-quality,repetition-gate",
      fn = (s, dir) => {
        // the SHUFFLE-FREE per-row face (one compiled pass/doc) of the
        // relational metrics above, plus the integer-exact keep
        // decision the curation funnel applies (batch AND streaming)
        val sig = TextAnalysis.repetitionSignalsUdf(col("text"))
        table(s, dir, "documents")
          .select(
            col("doc_id"),
            sig.getField("_1").as("n_tok"),
            sig.getField("_2").as("n_distinct_tok"),
            sig.getField("_3").as("n_2gram"),
            sig.getField("_4").as("top_2gram_n"),
            TextAnalysis.repetitionKeep(col("text")).as("keep"))
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          |g AS (SELECT doc_id, unnest(list_transform(
          |        range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))) AS g2
          |      FROM t WHERE len(tk) >= 2),
          |pg AS (SELECT doc_id, g2, count(*) AS c FROM g GROUP BY doc_id, g2),
          |rep AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2gram,
          |               max(c) AS top_2gram_n FROM pg GROUP BY doc_id),
          |base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
          |                CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct_tok
          |         FROM t)
          |SELECT b.doc_id, n_tok, n_distinct_tok,
          |  CAST(coalesce(r.n_2gram, 0) AS BIGINT) AS n_2gram,
          |  CAST(coalesce(r.top_2gram_n, 0) AS BIGINT) AS top_2gram_n,
          |  coalesce(r.top_2gram_n, 0) * 1000 <= coalesce(r.n_2gram, 0) * 200
          |    AND n_distinct_tok * 1000 >= n_tok * 300 AS keep
          |FROM base b LEFT JOIN rep r USING (doc_id) ORDER BY doc_id""".stripMargin
      ),
      doc = "repetition GATE face: per-row compiled signals (no " +
        "shuffle — streamable) + the funnel's integer cross-multiplied " +
        "keep decision, against the relational explode/groupBy replay"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_sample_bottomk_agg",
      covers = "sampling,per-group,native-aggregate",
      fn = (s, dir) =>
        table(s, dir, "documents")
          .groupBy(col("lang"), col("source"))
          .agg(
            graft.plans.BottomKIds
              .bottomKIds(col("doc_id").cast("string"), "bk", 7)
              .as("ids"),
            count(lit(1)).as("n_docs"))
          .select(
            col("lang"), col("source"),
            array_join(col("ids"), ",").as("sample_csv"),
            size(col("ids")).cast("long").as("n_sample"),
            col("n_docs"))
          .orderBy("lang", "source"),
      oracle = Some(
        """WITH h AS (SELECT lang, source, CAST(doc_id AS VARCHAR) AS id,
          |    md5('bk:' || CAST(doc_id AS VARCHAR)) AS hh FROM documents),
          |rk AS (SELECT lang, source, id, hh,
          |    row_number() OVER (PARTITION BY lang, source ORDER BY hh, id) AS rn
          |  FROM h),
          |n AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
          |  FROM documents GROUP BY lang, source)
          |SELECT lang, source,
          |  string_agg(id, ',' ORDER BY hh, id) AS sample_csv,
          |  CAST(count(*) AS BIGINT) AS n_sample, n_docs
          |FROM rk JOIN n USING (lang, source)
          |WHERE rn <= 7
          |GROUP BY lang, source, n_docs ORDER BY lang, source""".stripMargin
      ),
      doc = "NATIVE TypedImperativeAggregate (plans.BottomKIds): exact " +
        "k-per-group deterministic sample via a bounded k-element heap " +
        "with map-side partial aggregation — the shuffle moves " +
        "O(groups x k), never the corpus, vs the window formulation's " +
        "full sort (the oracle replays that window formulation; both " +
        "agree because the selection key is a pure salted md5)"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_sample_stratified_split",
      covers = "sampling,stratified-split",
      fn = (s, dir) =>
        Sampling
          .stratifiedExactSplit(table(s, dir, "documents"), "lang", "doc_id",
            salt = "strat")
          .select("doc_id", "lang", "split")
          .orderBy("doc_id"),
      oracle = Some(
        """WITH r AS (SELECT doc_id, lang,
          |    CAST(row_number() OVER (PARTITION BY lang
          |      ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id)
          |      AS BIGINT) AS rk,
          |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
          |  FROM documents)
          |SELECT doc_id, lang,
          |  CASE WHEN rk * 1000 <= n * 800 THEN 'train'
          |       WHEN rk * 1000 <= n * 900 THEN 'val'
          |       ELSE 'test' END AS split
          |FROM r ORDER BY doc_id""".stripMargin
      ),
      doc = "EXACT stratified 80/10/10 split: per-stratum salted-md5 " +
        "rank cut by cross-multiplied integer thresholds — split sizes " +
        "exact per stratum (vs splitAssign's in-expectation sizes), " +
        "decision float-free and engine-exact"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_sample_epoch_expand",
      covers = "sampling-epochs,upsampling",
      fn = (s, dir) => {
        import graft.text.{Sampling, TextAnalysis}
        val docs = table(s, dir, "documents")
        // a 2.125-epoch target per source: every doc repeats twice in
        // full, and the remainder eighth-epoch is a salted-order
        // scan-until prefix — exercises both halves of the rule
        val targets = docs
          .groupBy(col("lang"))
          .agg(sum(TextAnalysis.tokenCountWs(col("text"))).as("t"))
          .select(col("lang"), expr("(17 * t) div 8").as("target_tok"))
        Sampling
          .epochExpand(docs, "lang", "doc_id", "text", targets, salt = "epoch")
          .orderBy("lang", "doc_id")
      },
      oracle = Some(
        """WITH d AS (
          |  SELECT lang, doc_id,
          |    CAST(length(text) - length(replace(text, ' ', '')) + 1
          |      AS BIGINT) AS n_tok
          |  FROM documents),
          |t AS (
          |  SELECT lang, CAST(sum(n_tok) AS BIGINT) AS total,
          |    (17 * CAST(sum(n_tok) AS BIGINT)) // 8 AS target
          |  FROM d GROUP BY lang),
          |w AS (
          |  SELECT d.lang, d.doc_id, d.n_tok,
          |    t.target // t.total AS fullep, t.target % t.total AS rem,
          |    coalesce(sum(d.n_tok) OVER (PARTITION BY d.lang
          |      ORDER BY md5('epoch:' || CAST(d.doc_id AS VARCHAR)), d.doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
          |  FROM d JOIN t USING (lang))
          |SELECT lang, doc_id, n_tok,
          |  CAST(fullep + CASE WHEN bef < rem THEN 1 ELSE 0 END
          |    AS BIGINT) AS n_copies
          |FROM w ORDER BY lang, doc_id""".stripMargin
      ),
      doc = "epoch-repeat mixture materialization (the Llama-style " +
        "data-recipe step after temperaturePlan): per-source full-epoch " +
        "repeat factor plus a deterministic salted-order partial epoch " +
        "filled by the scan-until rule — per-doc n_copies, " +
        "integer-exact, window-prefix-sum replayed"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_sample_dsir_gate",
      covers = "sample-importance-dsir",
      fn = (s, dir) => {
        val d = table(s, dir, "documents")
        graft.text.Dsir
          .dsirScore(d, d.filter(col("lang") === "en"), "doc_id", "text",
            buckets = 256, thetaPermille = 1000)
          .select("doc_id", "n_toks", "t_mass", "r_mass", "keep")
          .orderBy("doc_id")
      },
      // FNV-1a bucket hash replays via the established HUGEINT
      // wraparound fold (same BMP-only caveat as the SimHash replays);
      // masses are unsmoothed integer sums and the keep decision
      // cross-multiplies in HUGEINT, so every oracled column is exact.
      // The smoothed float llr stays out of this face by design.
      oracle = Some(dsirGateOracle +
        "\nSELECT doc_id, n_toks, t_mass, r_mass, keep FROM gate " +
        "ORDER BY doc_id"),
      doc = "DSIR-style importance gate (Xie et al. '23): hashed " +
        "FNV-token feature masses of each doc against the target " +
        "(lang='en') vs raw corpus distributions — two buckets-sized " +
        "broadcast count tables (the codebook pattern), per-doc " +
        "scoring as one compiled scalar map with zero shuffle, keep " +
        "decision cross-multiplied in DECIMAL/HUGEINT so the gate is " +
        "float-free; the smoothed log-likelihood ratio rides along " +
        "un-oracled for Gumbel-resampling use"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_sample_dsir_resample",
      covers = "sample-importance-dsir-resample",
      fn = (s, dir) => {
        val d = table(s, dir, "documents")
        val scored = graft.text.Dsir
          .dsirScore(d, d.filter(col("lang") === "en"), "doc_id", "text",
            buckets = 256, thetaPermille = 1000)
        graft.text.Dsir
          .resampleToBudget(scored, "doc_id", salt = "rs",
            budgetTokens = 8000L)
          .orderBy("bef")
      },
      // Gate CTE chain (shared, proven by q_sample_dsir_gate) + the
      // salted-order scan-until draw: a window prefix sum over
      // (md5, doc_id) order with the emit-while-before-budget rule.
      // bef is strictly increasing along the draw (every survivor has
      // n_toks > 0), so it is the unique ORDER BY key.
      oracle = Some(dsirGateOracle + """,
kept AS (
  SELECT doc_id, n_toks,
    md5('rs:' || CAST(doc_id AS VARCHAR)) AS hk
  FROM gate WHERE keep),
cum AS (
  SELECT doc_id, n_toks,
    coalesce(sum(n_toks) OVER (ORDER BY hk, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
  FROM kept)
SELECT doc_id, n_toks, CAST(bef AS BIGINT) AS bef
FROM cum WHERE bef < 8000 ORDER BY bef"""),
      doc = "the DSIR resampling step, determinized: gate survivors " +
        "drawn in salted-md5 order until an 8000-token budget (emit " +
        "while tokens-before < budget; overshoot < one doc, docs " +
        "whole) — the global running sum is the native " +
        "RunningSumExec (range exchange + per-partition offsets), " +
        "never a single-partition window"
    )
  )
}
