package graft.queries

import graft.core.Graft.table
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, language ID, fingerprinting (north-star training-
  * data ops; BASELINE.json). Per-row only — no shuffles, scales
  * linearly.
  */
object TextQueries {

  /** Unrolled n-round BPE-training oracle: the per-round CTE triple
    * (pair counts over v_i → argmax merge m_i → greedy-fold rewrite
    * v_{i+1}) generated to arbitrary depth. The greedy left-to-right
    * non-overlapping merge replays as a list_reduce fold — exact
    * because symbols never contain spaces (so `right(acc, len(l)+1) =
    * ' ' || l` identifies exactly "last symbol == l") and a merged
    * symbol l+r is strictly longer than l (so it can never re-match
    * as the left operand within the same pass).
    */
  private def bpeTrainOracle(rounds: Int): String =
    bpeMergeCtes(rounds) + s"\nSELECT word, n, sym FROM v$rounds ORDER BY word"

  /** The WITH-chain shared by every BPE oracle: word counts → v0 →
    * `rounds` merge rounds → v{rounds} (word → final symbolization).
    */
  private def bpeMergeCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |wc AS (SELECT word, count(*) AS n FROM w WHERE len(word) >= 1 GROUP BY word),
        |v0 AS (SELECT word, CAST(n AS BIGINT) AS n,
        |         array_to_string(string_split(word, ''), ' ') AS sym FROM wc)""".stripMargin)
    for (i <- 0 until rounds) {
      sb.append(s""",
        |pc$i AS MATERIALIZED (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(list_transform(range(1, len(ss)),
        |        i -> ss[i] || ' ' || ss[i+1])) AS pair, n
        |    FROM (SELECT string_split(sym, ' ') AS ss, n FROM v$i))
        |  GROUP BY pair),
        |m$i AS MATERIALIZED (SELECT split_part(pair, ' ', 1) AS l,
        |         split_part(pair, ' ', 2) AS r
        |       FROM pc$i ORDER BY cnt DESC, pair ASC LIMIT 1),
        |v${i + 1} AS MATERIALIZED (SELECT word, n,
        |  (SELECT list_reduce(string_split(v$i.sym, ' '), (acc, x) -> CASE
        |     WHEN x = m.r AND (acc = m.l OR right(acc, len(m.l)+1) = ' ' || m.l)
        |     THEN left(acc, len(acc) - len(m.l)) || m.l || m.r
        |     ELSE acc || ' ' || x END) FROM m$i m) AS sym FROM v$i)""".stripMargin)
    }
    sb.toString
  }

  val defs: Seq[QueryDef] = Seq(
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_tokens_quality",
      covers = "text-quality,token-count",
      fn = (s, dir) => {
        val d = table(s, dir, "documents")
        val comps = TextAnalysis.qualityComponents(col("text"))
        val withComps = comps.foldLeft(d) { case (df, (n, c)) => df.withColumn(n, c) }
        withComps
          .withColumn("n_bpe", TextAnalysis.tokenCountBpeIsh(col("text")))
          .withColumn("quality", TextAnalysis.qualityScore(col("text")))
          .select(
            "doc_id", "n_tokens", "n_bpe", "n_punct", "n_stop",
            "punct_ratio", "stop_ratio", "mean_tok_len", "quality"
          )
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH c AS (
          |  SELECT doc_id,
          |    length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
          |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe,
          |    len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
          |    len(list_filter(string_split(text, ' '),
          |      t -> t IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
          |    CAST(length(replace(text, ' ', '')) AS DOUBLE) AS n_nonspace
          |  FROM documents)
          |SELECT doc_id, n_tokens, n_bpe, n_punct, n_stop,
          |  CAST(n_punct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS punct_ratio,
          |  CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
          |  n_nonspace / CAST(n_tokens AS DOUBLE) AS mean_tok_len,
          |  (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 2.0
          |   + (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
          |   + CASE WHEN n_nonspace / CAST(n_tokens AS DOUBLE) >= 3.0
          |          AND n_nonspace / CAST(n_tokens AS DOUBLE) <= 10.0
          |          THEN 1.0 ELSE 0.5 END) / 4.0 AS quality
          |FROM c ORDER BY doc_id""".stripMargin
      ),
      doc = "token counts (whitespace + BPE-ish regex) and quality " +
        "components/score over documents"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_gopher_gate",
      covers = "text-quality-gate",
      fn = (s, dir) => {
        val d = table(s, dir, "documents")
        val withSignals = TextAnalysis
          .gopherSignals(col("text"), minWords = 50L, maxWords = 100000L)
          .foldLeft(d) { case (df, (n, c)) => df.withColumn(n, c) }
        withSignals
          .select(
            "doc_id", "n_words", "n_chars", "n_sym", "n_alpha_words",
            "n_stop_hits", "words_ok", "mean_len_ok", "symbol_ok",
            "alpha_ok", "stop_ok", "pass_gopher")
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH c AS (
          |  SELECT doc_id,
          |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
          |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
          |    CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS BIGINT) AS n_sym,
          |    CAST(len(regexp_extract_all(text, '(?:^| )[^ ]*[A-Za-z][^ ]*')) AS BIGINT) AS n_alpha_words,
          |    CAST(len(list_filter(string_split(text, ' '),
          |      t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS n_stop_hits
          |  FROM documents)
          |SELECT doc_id, n_words, n_chars, n_sym, n_alpha_words, n_stop_hits,
          |  n_words >= 50 AND n_words <= 100000 AS words_ok,
          |  n_chars >= n_words * 3 AND n_chars <= n_words * 10 AS mean_len_ok,
          |  n_sym * 10 <= n_words AS symbol_ok,
          |  n_alpha_words * 5 >= n_words * 4 AS alpha_ok,
          |  n_stop_hits >= 2 AS stop_ok,
          |  (n_words >= 50 AND n_words <= 100000)
          |    AND (n_chars >= n_words * 3 AND n_chars <= n_words * 10)
          |    AND (n_sym * 10 <= n_words)
          |    AND (n_alpha_words * 5 >= n_words * 4)
          |    AND (n_stop_hits >= 2) AS pass_gopher
          |FROM c ORDER BY doc_id""".stripMargin
      ),
      doc = "Gopher-style quality gate (Rae et al. '21): integer-exact " +
        "word/length/symbol/alpha/stopword rules, every flag " +
        "oracle-checked"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_lm_quality",
      covers = "text-lm-quality",
      fn = (s, dir) => {
        val d = table(s, dir, "documents")
        // reference LM = every 10th document, bigrams kept at count ≥ 2
        val model = TextAnalysis
          .bigramModel(d.filter(col("doc_id") % 10 === 0), "text", minCount = 2L)
        TextAnalysis
          .lmQuality(d, "doc_id", "text", model, minHitPermille = 500)
          // mean_logp (libm ln over hit probabilities) stays out of the
          // oracle face per determinism rule 9; the integer tally and
          // the cross-multiplied keep decision are checked exactly
          .select("doc_id", "n_bigrams", "n_hits", "n_oov", "keep")
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |bg AS (
          |  SELECT doc_id,
          |    unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bigram
          |  FROM tok WHERE len(t) >= 2),
          |model AS (
          |  SELECT bigram, count(*) AS c2
          |  FROM bg WHERE doc_id % 10 = 0
          |  GROUP BY bigram HAVING count(*) >= 2),
          |per AS (
          |  SELECT b.doc_id, count(*) AS n_bigrams, count(m.c2) AS n_hits
          |  FROM bg b LEFT JOIN model m USING (bigram)
          |  GROUP BY b.doc_id)
          |SELECT d.doc_id,
          |  CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
          |  CAST(coalesce(p.n_hits, 0) AS BIGINT) AS n_hits,
          |  CAST(coalesce(p.n_bigrams, 0) - coalesce(p.n_hits, 0) AS BIGINT) AS n_oov,
          |  coalesce(p.n_bigrams, 0) > 0
          |    AND coalesce(p.n_hits, 0) * 1000 >= coalesce(p.n_bigrams, 0) * 500 AS keep
          |FROM documents d LEFT JOIN per p USING (doc_id)
          |ORDER BY doc_id""".stripMargin
      ),
      doc = "CCNet-style LM quality filter (Wenzek et al. '20): " +
        "bigram hit/OOV tally against a reference counts model, " +
        "integer-exact keep decision via cross-multiplication; " +
        "mean-logp companion rides outside the oracle"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_langid",
      covers = "lang-id",
      fn = (s, dir) => {
        val d = table(s, dir, "documents")
        val scores = TextAnalysis.langIdScores(col("text"))
        val withScores = scores.foldLeft(d) { case (df, (l, c)) =>
          df.withColumn(s"s_$l", c)
        }
        withScores
          .withColumn("n_cjk", TextAnalysis.cjkChars(col("text")))
          .withColumn("lang_pred", TextAnalysis.langId(col("text")))
          .select("doc_id", "lang", "s_de", "s_en", "s_es", "s_fr", "n_cjk", "lang_pred")
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH sc AS (
          |  SELECT doc_id, lang,
          |    len(list_filter(string_split(text,' '),
          |      t -> t IN ('der','die','das','und','ein','eine','von','zu'))) AS s_de,
          |    len(list_filter(string_split(text,' '),
          |      t -> t IN ('the','a','of','and','to','in','is','it'))) AS s_en,
          |    len(list_filter(string_split(text,' '),
          |      t -> t IN ('el','la','de','los','las','un','una','por'))) AS s_es,
          |    len(list_filter(string_split(text,' '),
          |      t -> t IN ('le','la','et','les','des','un','une','du'))) AS s_fr,
          |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS n_cjk
          |  FROM documents)
          |SELECT doc_id, lang, s_de, s_en, s_es, s_fr, n_cjk,
          |  CASE WHEN n_cjk > 0 THEN 'zh'
          |       WHEN s_de = greatest(s_de,s_en,s_es,s_fr) AND greatest(s_de,s_en,s_es,s_fr) > 0 THEN 'de'
          |       WHEN s_en = greatest(s_de,s_en,s_es,s_fr) AND greatest(s_de,s_en,s_es,s_fr) > 0 THEN 'en'
          |       WHEN s_es = greatest(s_de,s_en,s_es,s_fr) AND greatest(s_de,s_en,s_es,s_fr) > 0 THEN 'es'
          |       WHEN s_fr = greatest(s_de,s_en,s_es,s_fr) AND greatest(s_de,s_en,s_es,s_fr) > 0 THEN 'fr'
          |       ELSE 'und' END AS lang_pred
          |FROM sc ORDER BY doc_id""".stripMargin
      ),
      doc = "stopword-profile + CJK-codepoint language-ID heuristic"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_langid_confusion",
      covers = "lang-id,profiling",
      fn = (s, dir) =>
        table(s, dir, "documents")
          .withColumn("lang_pred", TextAnalysis.langId(col("text")))
          .groupBy(col("lang"), col("lang_pred"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "lang_pred"),
      oracle = Some(
        """WITH sc AS (
          |  SELECT doc_id, lang,
          |    len(list_filter(string_split(text,' '),
          |      t -> t IN ('der','die','das','und','ein','eine','von','zu'))) AS s_de,
          |    len(list_filter(string_split(text,' '),
          |      t -> t IN ('the','a','of','and','to','in','is','it'))) AS s_en,
          |    len(list_filter(string_split(text,' '),
          |      t -> t IN ('el','la','de','los','las','un','una','por'))) AS s_es,
          |    len(list_filter(string_split(text,' '),
          |      t -> t IN ('le','la','et','les','des','un','une','du'))) AS s_fr,
          |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS n_cjk
          |  FROM documents),
          |p AS (
          |  SELECT lang,
          |    CASE WHEN n_cjk > 0 THEN 'zh'
          |         WHEN s_de = greatest(s_de,s_en,s_es,s_fr) AND greatest(s_de,s_en,s_es,s_fr) > 0 THEN 'de'
          |         WHEN s_en = greatest(s_de,s_en,s_es,s_fr) AND greatest(s_de,s_en,s_es,s_fr) > 0 THEN 'en'
          |         WHEN s_es = greatest(s_de,s_en,s_es,s_fr) AND greatest(s_de,s_en,s_es,s_fr) > 0 THEN 'es'
          |         WHEN s_fr = greatest(s_de,s_en,s_es,s_fr) AND greatest(s_de,s_en,s_es,s_fr) > 0 THEN 'fr'
          |         ELSE 'und' END AS lang_pred
          |  FROM sc)
          |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
          |FROM p GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin
      ),
      doc = "language-ID confusion matrix vs the labeled fixture: per " +
        "(true, predicted) doc counts — the classifier-quality audit " +
        "a curation pipeline ships before trusting a langid gate; one " +
        "dimension-sized aggregation over the per-row heuristic"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_truncate",
      covers = "truncation,text-quality",
      fn = (s, dir) =>
        TextAnalysis
          .truncateTokens(table(s, dir, "documents"), "doc_id", "text",
            maxTokens = 40)
          .withColumn("trunc_md5", md5(col("text_trunc")))
          .withColumn("trunc_len", length(col("text_trunc")).cast("long"))
          .drop("text_trunc")
          .orderBy("doc_id"),
      oracle = Some(
        """WITH t AS (
          |  SELECT doc_id, string_split(text, ' ') AS ws, text
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(greatest(len(ws) - 40, 0) AS BIGINT) AS n_cut,
          |  md5(CASE WHEN len(ws) <= 40 THEN text
          |      ELSE array_to_string(ws[1:40], ' ') END) AS trunc_md5,
          |  CAST(length(CASE WHEN len(ws) <= 40 THEN text
          |      ELSE array_to_string(ws[1:40], ' ') END) AS BIGINT) AS trunc_len
          |FROM t ORDER BY doc_id""".stripMargin
      ),
      doc = "context-length truncation (head-keep at 40 tokens, cut " +
        "count reported) — the preprocessing guard before packing " +
        "against a model context window; pure per-row projection, " +
        "zero shuffle"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_chat_template",
      covers = "chat-template,sft-prep",
      fn = (s, dir) => {
        // synthetic 4-turn conversation per doc (user/asst/user/asst
        // over token quarters) — the offsets-correctness face: the
        // assistant loss-mask text EXTRACTED from the prompt by the
        // emitted spans must hash-match the oracle's arithmetic
        // reconstruction
        val d = table(s, dir, "documents")
        val toks = split(col("text"), " ")
        val n = size(toks).cast("long")
        def b(k: Int) = floor(n * k / 4).cast("long")
        val turns = array((0 until 4).map { k =>
          struct(
            lit(if (k % 2 == 0) "user" else "asst").as("role"),
            array_join(
              slice(toks, (b(k) + 1L).cast("int"),
                (b(k + 1) - b(k)).cast("int")), " ").as("content"))
        }: _*)
        val rendered = graft.text.ChatTemplate.renderChat(
          d.withColumn("turns", turns), "doc_id", "turns",
          "You are a helpful assistant.")
        rendered.select(
          col("doc_id"),
          length(col("prompt")).cast("long").as("prompt_len"),
          md5(col("prompt")).as("prompt_md5"),
          md5(graft.text.ChatTemplate.roleSpanText(
            col("prompt"), col("spans"), "asst")).as("asst_md5"))
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH t AS (
          |  SELECT doc_id, string_split(text, ' ') AS ws,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
          |  FROM documents),
          |c AS (
          |  SELECT doc_id,
          |    array_to_string(ws[(n*0)//4 + 1 : (n*1)//4], ' ') AS c0,
          |    array_to_string(ws[(n*1)//4 + 1 : (n*2)//4], ' ') AS c1,
          |    array_to_string(ws[(n*2)//4 + 1 : (n*3)//4], ' ') AS c2,
          |    array_to_string(ws[(n*3)//4 + 1 : n], ' ') AS c3
          |  FROM t),
          |p AS (
          |  SELECT doc_id, c0, c1, c2, c3,
          |    '<|sys|>You are a helpful assistant.<|end|>'
          |    || '<|user|>' || c0 || '<|end|>'
          |    || '<|asst|>' || c1 || '<|end|>'
          |    || '<|user|>' || c2 || '<|end|>'
          |    || '<|asst|>' || c3 || '<|end|>' AS prompt
          |  FROM c),
          |o AS (
          |  SELECT doc_id, prompt,
          |    42 + 8 + length(c0) + 7 + 8 AS s1, length(c1) AS l1,
          |    42 + (8 + length(c0) + 7) + (8 + length(c1) + 7)
          |       + (8 + length(c2) + 7) + 8 AS s3, length(c3) AS l3
          |  FROM p)
          |SELECT doc_id,
          |  CAST(length(prompt) AS BIGINT) AS prompt_len,
          |  md5(prompt) AS prompt_md5,
          |  md5(substr(prompt, CAST(s1 + 1 AS BIGINT), CAST(l1 AS BIGINT))
          |   || substr(prompt, CAST(s3 + 1 AS BIGINT), CAST(l3 AS BIGINT)))
          |    AS asst_md5
          |FROM o ORDER BY doc_id""".stripMargin
      ),
      doc = "chat-template rendering for SFT data prep: conversation " +
        "turns fold into one ChatML-shaped training string with " +
        "per-turn content CHAR SPANS for loss masking — the oracle " +
        "extracts the assistant text from the prompt by the emitted " +
        "offsets and hash-matches it, proving span correctness; one " +
        "per-row aggregate fold, zero shuffle"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_width_fold",
      covers = "width-fold,P6,text-quality",
      fn = (s, dir) => {
        // every 4th doc mangled to full-width ASCII forms (the CJK-page
        // artifact); folding must restore the original byte-for-byte
        val half = (0x21 to 0x7E).map(_.toChar).mkString + ' '
        val full = (0xFF01 to 0xFF5E).map(_.toChar).mkString + '　'
        val mangled = when(col("doc_id") % 4 === 0,
          translate(col("text"), half, full)).otherwise(col("text"))
        table(s, dir, "documents")
          .select(col("doc_id"),
            (col("doc_id") % 4 === 0).as("was_mangled"),
            length(mangled).cast("long").as("mangled_len"),
            md5(TextAnalysis.foldWidth(mangled)).as("folded_md5"),
            (md5(TextAnalysis.foldWidth(mangled)) === md5(col("text")))
              .as("fold_restores"))
          .orderBy("doc_id")
      },
      oracle = Some(widthFoldOracle),
      doc = "full-width → half-width folding (the NFKC subset CJK web " +
        "pages need: U+FF01..FF5E + ideographic space → ASCII): one " +
        "codegen'd translate, zero shuffle; the fixture mangles every " +
        "4th doc to full-width forms and the fold provably restores " +
        "the original (fold_restores true on every row, md5-checked)"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_vocab",
      covers = "vocab,token-count,D3,O2",
      fn = (s, dir) =>
        TextAnalysis
          .vocabulary(table(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("tf_corpus").desc, col("token").asc)
          .limit(100),
      oracle = Some(
        """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          |           FROM documents)
          |SELECT token, count(*) AS tf_corpus,
          |       count(DISTINCT doc_id) AS df_docs
          |FROM t WHERE length(token) > 0
          |GROUP BY token ORDER BY tf_corpus DESC, token ASC LIMIT 100""".stripMargin
      ),
      doc = "corpus vocabulary + document frequencies, top-100 terms"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_tfidf",
      covers = "tfidf",
      fn = (s, dir) =>
        // counts are SQL-checked integer-exact; the float idf product
        // stays in the library (TextAnalysis.tfIdf) — cross-engine libm
        // log() is not bit-stable
        TextAnalysis
          .tfIdf(table(s, dir, "documents"), "doc_id", "text")
          .filter(col("doc_id") < 50L)
          .select("doc_id", "token", "tf", "df_docs", "n_docs")
          .orderBy("doc_id", "token"),
      oracle = Some(
        """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          |           FROM documents),
          |tf AS (SELECT doc_id, token, count(*) AS tf FROM t
          |       WHERE length(token) > 0 GROUP BY doc_id, token),
          |dfreq AS (SELECT token, count(*) AS df_docs FROM tf GROUP BY token),
          |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
          |SELECT tf.doc_id, tf.token, tf.tf, dfreq.df_docs, n.n_docs
          |FROM tf JOIN dfreq USING (token) CROSS JOIN n
          |WHERE tf.doc_id < 50
          |ORDER BY doc_id, token""".stripMargin
      ),
      doc = "TF-IDF relational core: per-doc term counts ⋈ broadcast " +
        "document frequencies ⋈ corpus size"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_curation_e2e",
      covers = "lang-id,text-quality,dedup-exact,dedup-jaccard,pii-redaction,chunking,seq-packing",
      fn = (s, dir) => {
        val out = graft.text.CurationPipeline.run(
          table(s, dir, "documents"), "doc_id", "text",
          // exercise the paragraph-dedup stage in the driver-visible
          // composite (wide windows: rewrites only true boilerplate)
          graft.text.CurationPipeline.Config(paragraphDedupWords = Some(32)))
        // summary row set: funnel counts + chunk/packing rollups
        val chunkStats = out.chunks.agg(
          count(lit(1)).as("n_chunks"),
          sum(col("n_tok")).as("chunk_tokens")
        )
        val packStats = out.packing.agg(
          max(col("end_off")).as("total_tokens"),
          (max(col("last_seq")) + 1).as("n_sequences")
        )
        val funnel = out.funnel.map { case (k, v) => (k, v) }
        s.createDataFrame(funnel).toDF("stage", "n_docs")
          .crossJoin(chunkStats)
          .crossJoin(packStats)
          .orderBy("stage")
      },
      // The WHOLE funnel replayed: every stage's existing oracle
      // re-sourced to read from the previous stage's CTE — gate
      // (langid + quality + token floor) → exact dedup window →
      // 32-word window dedup → MinHash-LSH pairs at j≥0.8 →
      // recursive-CTE components → drop non-canonical → PII redaction
      // → chunk/packing rollups. Integer stage counts make the
      // composite exactly checkable, not just rows-only.
      oracle = Some(
        """WITH ql AS (
          |  SELECT doc_id,
          |    CASE WHEN n_cjk > 0 THEN 'zh'
          |         WHEN s_de = g AND g > 0 THEN 'de'
          |         WHEN s_en = g AND g > 0 THEN 'en'
          |         WHEN s_es = g AND g > 0 THEN 'es'
          |         WHEN s_fr = g AND g > 0 THEN 'fr'
          |         ELSE 'und' END AS lang_pred,
          |    n_tokens,
          |    (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 2.0
          |     + (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
          |     + CASE WHEN n_nonspace / CAST(n_tokens AS DOUBLE) >= 3.0
          |            AND n_nonspace / CAST(n_tokens AS DOUBLE) <= 10.0
          |            THEN 1.0 ELSE 0.5 END) / 4.0 AS quality
          |  FROM (
          |    SELECT doc_id,
          |      len(list_filter(string_split(text,' '),
          |        t -> t IN ('der','die','das','und','ein','eine','von','zu'))) AS s_de,
          |      len(list_filter(string_split(text,' '),
          |        t -> t IN ('the','a','of','and','to','in','is','it'))) AS s_en,
          |      len(list_filter(string_split(text,' '),
          |        t -> t IN ('el','la','de','los','las','un','una','por'))) AS s_es,
          |      len(list_filter(string_split(text,' '),
          |        t -> t IN ('le','la','et','les','des','un','une','du'))) AS s_fr,
          |      greatest(
          |        len(list_filter(string_split(text,' '),
          |          t -> t IN ('der','die','das','und','ein','eine','von','zu'))),
          |        len(list_filter(string_split(text,' '),
          |          t -> t IN ('the','a','of','and','to','in','is','it'))),
          |        len(list_filter(string_split(text,' '),
          |          t -> t IN ('el','la','de','los','las','un','una','por'))),
          |        len(list_filter(string_split(text,' '),
          |          t -> t IN ('le','la','et','les','des','un','une','du')))) AS g,
          |      len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS n_cjk,
          |      length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
          |      len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
          |      len(list_filter(string_split(text, ' '),
          |        t -> t IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
          |      CAST(length(replace(text, ' ', '')) AS DOUBLE) AS n_nonspace
          |    FROM documents)),
          |gate AS (
          |  SELECT d.doc_id, d.text FROM documents d JOIN ql USING (doc_id)
          |  WHERE ql.lang_pred IN ('en','fr','es','de','zh')
          |    AND ql.quality >= 0.25 AND ql.n_tokens >= 8),
          |exact AS (
          |  SELECT doc_id, text FROM (
          |    SELECT doc_id, text,
          |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          |    FROM gate) WHERE rn = 1),
          |wt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM exact),
          |wn AS (SELECT doc_id, toks,
          |         greatest(CAST(ceil(len(toks) / 32.0) AS INT), 1) AS nch FROM wt),
          |wc AS (SELECT doc_id, toks, unnest(range(nch)) AS i FROM wn),
          |wp AS (SELECT doc_id, CAST(i AS BIGINT) AS para_idx,
          |         array_to_string(list_slice(toks, i*32 + 1, i*32 + 32), ' ') AS para
          |       FROM wc),
          |wr AS (SELECT doc_id, para_idx, para,
          |         row_number() OVER (PARTITION BY md5(para)
          |                            ORDER BY doc_id, para_idx) AS occ
          |       FROM wp),
          |para AS (SELECT doc_id,
          |           string_agg(para, ' ' ORDER BY para_idx) AS text
          |         FROM wr WHERE occ = 1 GROUP BY doc_id),
          |mt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM para),
          |mg AS (
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
          |  FROM mt WHERE len(toks) >= 3),
          |msg AS (
          |  SELECT doc_id, xs, len(xs) AS n_sh,
          |    list_transform(range(0, 32),
          |      i -> list_min(list_transform(xs,
          |        x -> ((((x % 2147483647) + 2147483647) % 2147483647)
          |              * (104729 * i + 12345) + 15485863 * (i + 1)) % 2147483647))) AS sig
          |  FROM mg WHERE len(xs) > 0),
          |mbd AS (
          |  SELECT doc_id, sig, unnest(range(0, 8)) AS band FROM msg),
          |mcand AS (
          |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          |  FROM mbd x JOIN mbd y ON x.band = y.band AND x.doc_id < y.doc_id
          |    AND x.sig[4 * x.band + 1] = y.sig[4 * y.band + 1]
          |    AND x.sig[4 * x.band + 2] = y.sig[4 * y.band + 2]
          |    AND x.sig[4 * x.band + 3] = y.sig[4 * y.band + 3]
          |    AND x.sig[4 * x.band + 4] = y.sig[4 * y.band + 4]),
          |mpairs AS (
          |  SELECT a, b FROM mcand
          |  JOIN msg ga ON ga.doc_id = a JOIN msg gb ON gb.doc_id = b
          |  WHERE CAST(len(list_intersect(ga.xs, gb.xs)) AS DOUBLE)
          |      / CAST(ga.n_sh + gb.n_sh - len(list_intersect(ga.xs, gb.xs)) AS DOUBLE)
          |      >= 0.8),
          |medges AS (SELECT a AS src, b AS dst FROM mpairs
          |           UNION SELECT b, a FROM mpairs),
          |mreach AS (
          |  WITH RECURSIVE r(node, mn) AS (
          |    SELECT src, src FROM medges
          |    UNION
          |    SELECT e.dst, r.mn FROM r JOIN medges e ON e.src = r.node
          |  ) SELECT node, min(mn) AS component FROM r GROUP BY node),
          |mdrop AS (SELECT node AS doc_id FROM mreach WHERE node <> component),
          |clean AS (
          |  SELECT p.doc_id,
          |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(p.text,
          |      'https?://[^\s]+', '<URL>', 'g'),
          |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
          |      '\+\d[\d -]{7,14}\d|\(?\d{3}\)?[ -]\d{3}[ -]\d{4}', '<PHONE>', 'g')
          |      AS clean_text
          |  FROM para p LEFT JOIN mdrop USING (doc_id)
          |  WHERE mdrop.doc_id IS NULL),
          |cn AS (SELECT doc_id,
          |         CAST(len(string_split(clean_text, ' ')) AS BIGINT) AS n
          |       FROM clean),
          |cstat AS (
          |  SELECT CAST(sum(nch) AS BIGINT) AS n_chunks,
          |    CAST(sum(list_sum(list_transform(range(nch),
          |      i -> least(n - i*224, 256)))) AS BIGINT) AS chunk_tokens
          |  FROM (SELECT doc_id, n,
          |          greatest(CAST(ceil((n - 32) / 224.0) AS INT), 1) AS nch
          |        FROM cn)),
          |pstat AS (
          |  SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
          |    CAST((sum(n) - 1) // 2048 + 1 AS BIGINT) AS n_sequences
          |  FROM cn),
          |funnel AS (
          |  SELECT 'input' AS stage,
          |    (SELECT count(*) FROM documents) AS n_docs
          |  UNION ALL SELECT 'lang_quality_gate', (SELECT count(*) FROM gate)
          |  UNION ALL SELECT 'exact_dedup', (SELECT count(*) FROM exact)
          |  UNION ALL SELECT 'near_paragraph_dedup', (SELECT count(*) FROM clean))
          |SELECT f.stage, CAST(f.n_docs AS BIGINT) AS n_docs,
          |  c.n_chunks, c.chunk_tokens, p.total_tokens, p.n_sequences
          |FROM funnel f CROSS JOIN cstat c CROSS JOIN pstat p
          |ORDER BY f.stage""".stripMargin
      ),
      doc = "complete training-data curation pass: lang/quality gates → " +
        "exact + 32-word-window dedup → LSH near-dup drop → PII " +
        "redaction → chunking → packing; the oracle replays EVERY " +
        "stage (chained CTEs re-sourcing each per-stage oracle) so the " +
        "funnel's integer stage counts and chunk/pack rollups are " +
        "exactly checked"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_redact_pii",
      covers = "pii-redaction",
      fn = (s, dir) => {
        // synthesize PII into the text so the redaction has targets
        val d = table(s, dir, "documents")
          .withColumn(
            "dirty",
            concat(
              lit("contact "), col("source"), lit("@mail.example.org via "),
              lit("https://example.org/d/"), col("doc_id"),
              lit(" or 10.0."), (col("doc_id") % 256L).cast("string"),
              lit(".1 :: "), col("text")
            )
          )
        val withCounts = TextAnalysis.piiCounts(col("dirty")).foldLeft(d) {
          case (df, (n, c)) => df.withColumn(n, c)
        }
        withCounts
          .withColumn("clean_md5", md5(TextAnalysis.redactPii(col("dirty"))))
          .select("doc_id", "n_email", "n_url", "n_ip", "clean_md5")
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH d AS (SELECT doc_id,
          |    'contact ' || source || '@mail.example.org via https://example.org/d/'
          |      || CAST(doc_id AS VARCHAR) || ' or 10.0.'
          |      || CAST(doc_id % 256 AS VARCHAR) || '.1 :: ' || text AS dirty
          |  FROM documents)
          |SELECT doc_id,
          |  len(regexp_extract_all(regexp_replace(dirty, 'https?://[^\s]+', ' ', 'g'),
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
          |  len(regexp_extract_all(dirty, 'https?://[^\s]+')) AS n_url,
          |  len(regexp_extract_all(dirty, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
          |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(dirty,
          |    'https?://[^\s]+', '<URL>', 'g'),
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
          |    '\+\d[\d -]{7,14}\d|\(?\d{3}\)?[ -]\d{3}[ -]\d{4}', '<PHONE>', 'g')) AS clean_md5
          |FROM d ORDER BY doc_id""".stripMargin
      ),
      doc = "PII redaction (emails/URLs/IPs/phones → typed placeholders) " +
        "+ per-doc PII counts, digest-compared"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_chunking",
      covers = "chunking",
      fn = (s, dir) =>
        TextAnalysis
          .chunkByTokens(table(s, dir, "documents"), "doc_id", "text",
            maxTokens = 40, overlap = 8)
          .withColumn("chunk_md5", md5(col("chunk")))
          .drop("chunk")
          .orderBy("doc_id", "chunk_idx"),
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |n AS (SELECT doc_id, toks, len(toks) AS n,
          |        greatest(CAST(ceil((len(toks) - 8) / 32.0) AS INT), 1) AS nch
          |      FROM t),
          |c AS (SELECT doc_id, toks, n, unnest(range(nch)) AS i FROM n)
          |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
          |  CAST(least(n - i*32, 40) AS BIGINT) AS n_tok,
          |  md5(array_to_string(list_slice(toks, i*32 + 1, i*32 + 40), ' ')) AS chunk_md5
          |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
      ),
      doc = "token-bounded chunking with overlap (40-token chunks, " +
        "8-token overlap): 1→N per-row HOF, chunks digest-compared"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_packing",
      covers = "seq-packing",
      fn = (s, dir) =>
        TextAnalysis
          .packSequences(table(s, dir, "documents"), "doc_id", "text", seqLen = 512L)
          .orderBy("doc_id"),
      oracle = Some(
        """WITH n AS (SELECT doc_id,
          |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tok
          |  FROM documents),
          |o AS (SELECT doc_id, n_tok,
          |    coalesce(sum(n_tok) OVER (ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
          |  FROM n)
          |SELECT doc_id, n_tok, CAST(start_off AS BIGINT) AS start_off,
          |  CAST(start_off + n_tok AS BIGINT) AS end_off,
          |  CAST(start_off // 512 AS BIGINT) AS first_seq,
          |  CAST((start_off + n_tok - 1) // 512 AS BIGINT) AS last_seq,
          |  CAST((start_off + n_tok - 1) // 512 - start_off // 512 + 1 AS BIGINT) AS n_seqs
          |FROM o ORDER BY doc_id""".stripMargin
      ),
      doc = "concat-then-split sequence packing: global token offsets " +
        "as a prefix sum → training-sequence assignment (the native " +
        "RunningSumExec: range exchange + per-partition offsets at scale)"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_c4_clean",
      covers = "c4-line-filters,text-quality-gate",
      fn = (s, dir) => {
        // line-structured fixture: a punctuated lead line, a
        // javascript boilerplate line (always cut), a line whose
        // terminal punctuation depends on the doc, and a tail line
        // that poisons every 7th page with '{'
        val d = table(s, dir, "documents")
        val toks = split(col("text"), " ")
        val cut = (col("doc_id") % 4L + 3L).cast("int")
        val l1 = concat(concat_ws(" ", slice(toks, lit(1), cut)), lit("."))
        val l2 = lit("please enable javascript to view the ad.")
        val l3 = concat(
          concat_ws(" ", slice(toks, cut + 1, lit(5))),
          when(col("doc_id") % 3L === 0L, lit("!")).otherwise(lit("")))
        val l4 = when(col("doc_id") % 7L === 0L,
          lit("template { placeholder } here."))
          .otherwise(lit("read the full story on our site."))
        val fixture = d.select(col("doc_id"),
          concat_ws("\n", l1, l2, l3, l4).as("text"))
        graft.text.TextAnalysis
          .c4LineFilters(fixture, "doc_id", "text")
          .withColumn("clean_md5", md5(col("clean_text")))
          .drop("clean_text")
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
          |        CAST(doc_id % 4 + 3 AS INT) AS cut FROM documents),
          |f AS (SELECT doc_id,
          |   array_to_string(list_slice(toks, 1, cut), ' ') || '.' || chr(10) ||
          |   'please enable javascript to view the ad.' || chr(10) ||
          |   array_to_string(list_slice(toks, cut + 1, cut + 5), ' ')
          |     || CASE WHEN doc_id % 3 = 0 THEN '!' ELSE '' END || chr(10) ||
          |   CASE WHEN doc_id % 7 = 0 THEN 'template { placeholder } here.'
          |        ELSE 'read the full story on our site.' END AS text
          | FROM t),
          |k AS (SELECT doc_id, text,
          |   list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
          |     t2 -> length(t2) >= 1
          |       AND right(t2, 1) IN ('.', '!', '?', '"')
          |       AND len(string_split(t2, ' ')) >= 3
          |       AND NOT contains(lower(t2), 'javascript')) AS kept
          | FROM f)
          |SELECT doc_id,
          |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
          |  CAST(len(kept) AS BIGINT) AS n_kept,
          |  len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
          |    AND NOT contains(text, '{') AS page_kept,
          |  md5(array_to_string(kept, chr(10))) AS clean_md5
          |FROM k ORDER BY doc_id""".stripMargin
      ),
      doc = "C4 line-level cleaning (Raffel et al. '20 §2.2): keep " +
        "lines ending in terminal punctuation with ≥3 words and no " +
        "'javascript'; gate pages on ≥3 surviving lines, no 'lorem " +
        "ipsum', no '{' — pure per-row HOFs, every rule an exact " +
        "string/integer decision, fully replayed in SQL"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_winnow",
      covers = "fingerprint",
      fn = (s, dir) =>
        TextAnalysis
          .winnowRelational(table(s, dir, "documents"), "doc_id", "text",
            k = 8, w = 4)
          .orderBy("doc_id"),
      oracle = Some(
        """WITH g0 AS (SELECT doc_id,
          |    CASE WHEN length(text) >= 8
          |         THEN list_transform(range(1, length(text) - 6),
          |                i -> md5(substr(text, i, 8)))
          |         ELSE [] END AS hs
          |  FROM documents),
          |g AS (SELECT doc_id, unnest(hs) AS h,
          |             generate_subscripts(hs, 1) AS pos FROM g0),
          |wm AS (SELECT doc_id, pos,
          |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
          |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wm,
          |    count(*) OVER (PARTITION BY doc_id) AS m
          |  FROM g),
          |sel AS (SELECT DISTINCT doc_id, wm FROM wm WHERE pos <= m - 3),
          |agg AS (SELECT doc_id, count(*) AS n_fp, min(wm) AS min_fp,
          |               max(wm) AS max_fp FROM sel GROUP BY doc_id)
          |SELECT d.doc_id, CAST(coalesce(n_fp, 0) AS BIGINT) AS n_fp,
          |       min_fp, max_fp
          |FROM documents d LEFT JOIN agg USING (doc_id)
          |ORDER BY doc_id""".stripMargin
      ),
      doc = "winnowing fingerprints (Schleimer et al. SIGMOD'03), " +
        "md5-gram relational formulation: window-min over 4 consecutive " +
        "8-gram hashes, full windows, distinct — oracle-checked face of " +
        "document fingerprinting (q_text_fingerprint is the rolling-hash " +
        "scale path)"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_winnow_pairs",
      covers = "fingerprint,dedup-substring",
      fn = (s, dir) =>
        // 16-char grams: long enough that shared fingerprints mean
        // genuinely shared substrings, not common short words
        TextAnalysis
          .winnowPairs(table(s, dir, "documents"), "doc_id", "text",
            k = 16, w = 8, minShared = 5L, maxDf = 50L)
          .orderBy("a", "b"),
      oracle = Some(
        """WITH g0 AS (SELECT doc_id,
          |    CASE WHEN length(text) >= 16
          |         THEN list_transform(range(1, length(text) - 14),
          |                i -> md5_number_upper(substr(text, i, 16)))
          |         ELSE [] END AS hs
          |  FROM documents),
          |g AS (SELECT doc_id, unnest(hs) AS h,
          |             generate_subscripts(hs, 1) AS pos FROM g0),
          |wmw AS (SELECT doc_id, pos,
          |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
          |                 ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wm,
          |    count(*) OVER (PARTITION BY doc_id) AS m
          |  FROM g),
          |sel AS (SELECT DISTINCT doc_id, wm FROM wmw WHERE pos <= m - 7),
          |rare AS (SELECT doc_id, wm FROM (
          |    SELECT doc_id, wm, count(*) OVER (PARTITION BY wm) AS df FROM sel)
          |  WHERE df <= 50)
          |SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared_fp
          |FROM rare x JOIN rare y ON x.wm = y.wm AND x.doc_id < y.doc_id
          |GROUP BY 1, 2 HAVING count(*) >= 5
          |ORDER BY a, b""".stripMargin
      ),
      doc = "shared-substring near-dup pairs: docs sharing >= 5 " +
        "winnowing fingerprints of 16-char grams (df-capped inverted " +
        "index) — the substring-dedup detection surface (Lee et al. " +
        "'22 shape). Prints are the first 8 md5 bytes as unsigned LE " +
        "64-bit (= DuckDB md5_number_upper), window-min'd UNSIGNED on " +
        "both sides — equality/df semantics are order-free, so the " +
        "truncation is jointly lossless while the fingerprint relation " +
        "drops to ~1/4 the bytes of the hex form"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_fingerprint",
      covers = "fingerprint",
      fn = (s, dir) => {
        val fpUdf = udf((t: String) => TextAnalysis.rollingHash(t))
        val nwUdf = udf((t: String) => TextAnalysis.winnow(t).length.toLong)
        table(s, dir, "documents")
          .select(
            col("doc_id"),
            fpUdf(col("text")).as("fp"),
            nwUdf(col("text")).as("n_winnow")
          )
          .orderBy("doc_id")
      },
      // The byte fold IS portable after all: DuckDB list_reduce over
      // the hex-decoded UTF-8 bytes replays h = (h*257 + b) mod p
      // exactly (list_reduce seeds with the first element, which
      // equals the h0=0 fold's first step). Winnowing count replays
      // the same k=8/w=4 window-min-distinct over gram hashes.
      oracle = Some(
        """WITH base AS (
          |  SELECT doc_id, text,
          |    CASE WHEN octet_length(encode(text)) = 0 THEN 0
          |    ELSE list_reduce(
          |      list_transform(range(1, octet_length(encode(text)) + 1),
          |        j -> CAST(strpos('0123456789ABCDEF', hex(encode(text))[2*j-1:2*j-1]) * 16
          |             + strpos('0123456789ABCDEF', hex(encode(text))[2*j:2*j]) - 17 AS BIGINT)),
          |      (a, b) -> (a * 257 + b) % 1000000007)
          |    END AS fp
          |  FROM documents),
          |grams AS (
          |  SELECT doc_id, fp,
          |    CASE WHEN length(text) < 8 THEN [] ELSE
          |      list_transform(range(1, length(text) - 6),
          |        i -> list_reduce(
          |          list_transform(range(1, octet_length(encode(substr(text, i, 8))) + 1),
          |            j -> CAST(strpos('0123456789ABCDEF', hex(encode(substr(text, i, 8)))[2*j-1:2*j-1]) * 16
          |                 + strpos('0123456789ABCDEF', hex(encode(substr(text, i, 8)))[2*j:2*j]) - 17 AS BIGINT)),
          |          (a, b) -> (a * 257 + b) % 1000000007))
          |    END AS g
          |  FROM base)
          |SELECT doc_id, fp,
          |  CAST(CASE WHEN len(g) <= 4 THEN 1
          |       ELSE len(list_distinct(
          |         [list_min(g[i:i+3]) FOR i IN range(1, len(g) - 2)]))
          |       END AS BIGINT) AS n_winnow
          |FROM grams ORDER BY doc_id""".stripMargin
      ),
      doc = "Karp-Rabin rolling-hash fingerprint + winnowing count " +
        "(Schleimer et al. SIGMOD'03) — byte fold replayed in DuckDB " +
        "via list_reduce for the oracle"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_bpe_pairs",
      covers = "bpe,tokenizer-training",
      fn = (s, dir) => {
        val wc = graft.text.Bpe.wordCounts(table(s, dir, "documents"), "text")
        graft.text.Bpe.pairCounts(graft.text.Bpe.asSymbols(wc))
          .withColumn("rank",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("cnt").desc, col("pair").asc)).cast("long"))
          .filter(col("rank") <= 50L)
          .select("rank", "pair", "cnt")
          .orderBy("rank")
      },
      oracle = Some(
        """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
          |wc AS (SELECT word, count(*) AS n FROM w WHERE len(word) >= 1 GROUP BY word),
          |p AS (SELECT unnest(list_transform(range(1, len(word)),
          |        i -> substr(word, CAST(i AS INTEGER), 1) || ' ' ||
          |             substr(word, CAST(i AS INTEGER) + 1, 1))) AS pair, n
          |      FROM wc WHERE len(word) >= 2),
          |pc AS (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM p GROUP BY pair)
          |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair ASC) AS BIGINT)
          |    AS rank, pair, cnt
          |FROM pc ORDER BY rank LIMIT 50""".stripMargin
      ),
      doc = "BPE tokenizer training, round-1 surface (Sennrich et al. " +
        "'16): frequency-weighted adjacent-symbol pair counts over the " +
        "DISTINCT-word table — vocabulary-sized shuffle, corpus touched " +
        "once for word counts; ranking is (cnt DESC, pair ASC) so the " +
        "learned merge sequence is engine- and layout-independent " +
        "(Bpe.train iterates this; BpeSpec covers multi-round + encode)"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_bpe_train3",
      covers = "bpe,tokenizer-training",
      fn = (s, dir) => {
        // Full 3-round training loop: three (cnt DESC, pair ASC) argmax
        // picks AND three greedy merge applications, verified through
        // the final per-word symbolization. The oracle unrolls each
        // round as a CTE; the greedy left-to-right non-overlapping
        // merge replays as a list_reduce fold (merging the fold's
        // running tail with the constant pair — exact because a merged
        // symbol l+r can never equal l again, so "tail == l" identifies
        // exactly the unconsumed positions the Scala scan would merge).
        val (merges, vocab) =
          graft.text.Bpe.train(table(s, dir, "documents"), "text", rounds = 3)
        require(merges.length == 3, s"expected 3 merges, got $merges")
        vocab
          .select(col("word"), col("n"), col("sym"))
          .orderBy("word")
      },
      oracle = Some(bpeTrainOracle(3)),
      doc = "BPE training, full 3-round loop: the final per-word " +
        "symbolization after three argmax merges — verifies the merge " +
        "CHOICE (cnt DESC, pair ASC over evolving pair counts) and the " +
        "greedy non-overlapping merge APPLICATION, round over round " +
        "(oracle unrolls the rounds as CTEs with a list_reduce fold " +
        "for the greedy scan)"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_bpe_train20",
      covers = "bpe,tokenizer-training",
      fn = (s, dir) => {
        // 20-round training face: proves the driver-local merge loop
        // (one distributed wordCounts pass, then in-memory merges —
        // job count independent of the rounds hyperparameter) stays
        // byte-identical to the unrolled per-round oracle at a depth
        // where the old one-job-per-round shape would cost 20
        // sequential Spark jobs.
        val (merges, vocab) =
          graft.text.Bpe.train(table(s, dir, "documents"), "text", rounds = 20)
        require(merges.length == 20, s"expected 20 merges, got ${merges.length}")
        vocab
          .select(col("word"), col("n"), col("sym"))
          .orderBy("word")
      },
      oracle = Some(bpeTrainOracle(20)),
      doc = "BPE training, 20-round loop (scale face of q_text_bpe_" +
        "train3): same unrolled-CTE oracle generated to depth 20 — " +
        "the Spark side runs ONE corpus job + a driver-local merge " +
        "loop over the vocabulary-sized count table (SentencePiece-" +
        "on-aggregated-counts shape), so wall time is flat in rounds"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_bpe_encode",
      covers = "bpe,tokenizer-encode",
      fn = (s, dir) => {
        // Train 3 merges, then ENCODE the corpus with them — the op an
        // LLM pipeline actually runs at corpus scale (training is the
        // small part). Per-doc output: the token stream (| - joined)
        // and its length.
        val docs = table(s, dir, "documents")
        val (merges, vocab) = graft.text.Bpe.train(docs, "text", rounds = 3)
        require(merges.length == 3, s"expected 3 merges, got $merges")
        vocab.unpersist()
        graft.text.Bpe
          .encode(docs, "text", merges.map(m => (m._2, m._3)), s)
          .select(
            col("doc_id"),
            array_join(col("tokens"), "|").as("token_str"),
            size(col("tokens")).cast("long").as("n_tokens"))
          .orderBy("doc_id")
      },
      // Encode applies the merges per WORD (greedy scans never cross
      // the whitespace boundary), and every corpus word is in the
      // trained vocabulary — so a document's token stream is exactly
      // its words' final symbolizations (the v3 table the train3
      // oracle already derives) concatenated in word order. The oracle
      // reuses the three merge-round CTEs verbatim and joins each
      // document's ordered words against v3.
      oracle = Some(
        """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
          |wc AS (SELECT word, count(*) AS n FROM w WHERE len(word) >= 1 GROUP BY word),
          |v0 AS (SELECT word, CAST(n AS BIGINT) AS n,
          |         array_to_string(string_split(word, ''), ' ') AS sym FROM wc),
          |pc0 AS (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
          |    SELECT unnest(list_transform(range(1, len(ss)),
          |        i -> ss[i] || ' ' || ss[i+1])) AS pair, n
          |    FROM (SELECT string_split(sym, ' ') AS ss, n FROM v0))
          |  GROUP BY pair),
          |m0 AS (SELECT split_part(pair, ' ', 1) AS l,
          |         split_part(pair, ' ', 2) AS r
          |       FROM pc0 ORDER BY cnt DESC, pair ASC LIMIT 1),
          |v1 AS (SELECT word, n,
          |  (SELECT list_reduce(string_split(v0.sym, ' '), (acc, x) -> CASE
          |     WHEN x = m.r AND (acc = m.l OR right(acc, len(m.l)+1) = ' ' || m.l)
          |     THEN left(acc, len(acc) - len(m.l)) || m.l || m.r
          |     ELSE acc || ' ' || x END) FROM m0 m) AS sym FROM v0),
          |pc1 AS (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
          |    SELECT unnest(list_transform(range(1, len(ss)),
          |        i -> ss[i] || ' ' || ss[i+1])) AS pair, n
          |    FROM (SELECT string_split(sym, ' ') AS ss, n FROM v1))
          |  GROUP BY pair),
          |m1 AS (SELECT split_part(pair, ' ', 1) AS l,
          |         split_part(pair, ' ', 2) AS r
          |       FROM pc1 ORDER BY cnt DESC, pair ASC LIMIT 1),
          |v2 AS (SELECT word, n,
          |  (SELECT list_reduce(string_split(v1.sym, ' '), (acc, x) -> CASE
          |     WHEN x = m.r AND (acc = m.l OR right(acc, len(m.l)+1) = ' ' || m.l)
          |     THEN left(acc, len(acc) - len(m.l)) || m.l || m.r
          |     ELSE acc || ' ' || x END) FROM m1 m) AS sym FROM v1),
          |pc2 AS (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
          |    SELECT unnest(list_transform(range(1, len(ss)),
          |        i -> ss[i] || ' ' || ss[i+1])) AS pair, n
          |    FROM (SELECT string_split(sym, ' ') AS ss, n FROM v2))
          |  GROUP BY pair),
          |m2 AS (SELECT split_part(pair, ' ', 1) AS l,
          |         split_part(pair, ' ', 2) AS r
          |       FROM pc2 ORDER BY cnt DESC, pair ASC LIMIT 1),
          |v3 AS (SELECT word, n,
          |  (SELECT list_reduce(string_split(v2.sym, ' '), (acc, x) -> CASE
          |     WHEN x = m.r AND (acc = m.l OR right(acc, len(m.l)+1) = ' ' || m.l)
          |     THEN left(acc, len(acc) - len(m.l)) || m.l || m.r
          |     ELSE acc || ' ' || x END) FROM m2 m) AS sym FROM v2),
          |dw AS (
          |  SELECT doc_id, u.pos AS pos, u.word AS word
          |  FROM (
          |    SELECT doc_id,
          |      unnest(list_transform(range(1, len(ws) + 1),
          |        i -> {'pos': i, 'word': ws[i]})) AS u
          |    FROM (SELECT doc_id, string_split(text, ' ') AS ws
          |          FROM documents))
          |  WHERE len(u.word) >= 1),
          |tok AS (
          |  SELECT dw.doc_id,
          |    string_agg(replace(v3.sym, ' ', '|'), '|' ORDER BY dw.pos)
          |      AS token_str,
          |    CAST(sum(len(string_split(v3.sym, ' '))) AS BIGINT)
          |      AS n_tokens
          |  FROM dw JOIN v3 ON v3.word = dw.word
          |  GROUP BY dw.doc_id)
          |SELECT d.doc_id,
          |  coalesce(t.token_str, '') AS token_str,
          |  coalesce(t.n_tokens, 0) AS n_tokens
          |FROM documents d LEFT JOIN tok t ON t.doc_id = d.doc_id
          |ORDER BY d.doc_id""".stripMargin
      ),
      doc = "BPE corpus ENCODING with a trained merge table: per-doc " +
        "token stream + token count — merges broadcast, one compiled " +
        "per-row greedy scan, no shuffle beyond the source read; the " +
        "oracle replays the whole train->encode chain (merge-round " +
        "CTEs, then each document's ordered words joined against the " +
        "final symbolization)"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_bpe_decode",
      covers = "bpe,tokenizer-decode",
      fn = (s, dir) => {
        // tokenizer LOSSLESSNESS: train → encode with the Sennrich
        // end-of-word marker → decode, and the round-trip must equal
        // the document's single-space word normalization EXACTLY —
        // the check an LLM pipeline runs before committing a
        // tokenizer. The oracle computes the normalization directly
        // from the fixture, so any encode/decode asymmetry (dropped
        // word, marker leak, merge crossing a boundary) hash-fails.
        val docs = table(s, dir, "documents")
        val (merges, vocab) =
          graft.text.Bpe.train(docs, "text", rounds = 3)
        vocab.unpersist()
        graft.text.Bpe
          .decode(
            graft.text.Bpe.encodeMarked(
              docs, "text", merges.map(m => (m._2, m._3)), s),
            "tokens", "roundtrip")
          .select(
            col("doc_id"),
            col("roundtrip"),
            size(col("tokens")).cast("long").as("n_tokens"))
          .orderBy("doc_id")
      },
      // the oracle does NOT replay the tokenizer: round-trip equality
      // means the output IS the word normalization, computable from
      // the raw fixture — plus the marked token count, which equals
      // the unmarked encode's count (marking suffixes, never splits)
      // and is replayed via the same v3 join as q_text_bpe_encode.
      oracle = Some(
        """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
          |wc AS (SELECT word, count(*) AS n FROM w WHERE len(word) >= 1 GROUP BY word),
          |v0 AS (SELECT word, CAST(n AS BIGINT) AS n,
          |         array_to_string(string_split(word, ''), ' ') AS sym FROM wc),
          |pc0 AS (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
          |    SELECT unnest(list_transform(range(1, len(ss)),
          |        i -> ss[i] || ' ' || ss[i+1])) AS pair, n
          |    FROM (SELECT string_split(sym, ' ') AS ss, n FROM v0))
          |  GROUP BY pair),
          |m0 AS (SELECT split_part(pair, ' ', 1) AS l,
          |         split_part(pair, ' ', 2) AS r
          |       FROM pc0 ORDER BY cnt DESC, pair ASC LIMIT 1),
          |v1 AS (SELECT word, n,
          |  (SELECT list_reduce(string_split(v0.sym, ' '), (acc, x) -> CASE
          |     WHEN acc LIKE '%' || m0.l AND x = m0.r
          |       AND NOT acc LIKE '%' || m0.l || ' ' || m0.l
          |     THEN CASE WHEN len(acc) > len(m0.l)
          |       THEN acc[1:len(acc)-len(m0.l)-1] ||
          |         CASE WHEN acc[len(acc)-len(m0.l)] = ' ' THEN ' ' ELSE '' END
          |         || m0.l || x
          |       ELSE m0.l || x END
          |     ELSE acc || ' ' || x END) FROM m0) AS sym
          |  FROM v0),
          |pc1 AS (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
          |    SELECT unnest(list_transform(range(1, len(ss)),
          |        i -> ss[i] || ' ' || ss[i+1])) AS pair, n
          |    FROM (SELECT string_split(sym, ' ') AS ss, n FROM v1))
          |  GROUP BY pair),
          |m1 AS (SELECT split_part(pair, ' ', 1) AS l,
          |         split_part(pair, ' ', 2) AS r
          |       FROM pc1 ORDER BY cnt DESC, pair ASC LIMIT 1),
          |v2 AS (SELECT word, n,
          |  (SELECT list_reduce(string_split(v1.sym, ' '), (acc, x) -> CASE
          |     WHEN acc LIKE '%' || m1.l AND x = m1.r
          |       AND NOT acc LIKE '%' || m1.l || ' ' || m1.l
          |     THEN CASE WHEN len(acc) > len(m1.l)
          |       THEN acc[1:len(acc)-len(m1.l)-1] ||
          |         CASE WHEN acc[len(acc)-len(m1.l)] = ' ' THEN ' ' ELSE '' END
          |         || m1.l || x
          |       ELSE m1.l || x END
          |     ELSE acc || ' ' || x END) FROM m1) AS sym
          |  FROM v1),
          |pc2 AS (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
          |    SELECT unnest(list_transform(range(1, len(ss)),
          |        i -> ss[i] || ' ' || ss[i+1])) AS pair, n
          |    FROM (SELECT string_split(sym, ' ') AS ss, n FROM v2))
          |  GROUP BY pair),
          |m2 AS (SELECT split_part(pair, ' ', 1) AS l,
          |         split_part(pair, ' ', 2) AS r
          |       FROM pc2 ORDER BY cnt DESC, pair ASC LIMIT 1),
          |v3 AS (SELECT word, n,
          |  (SELECT list_reduce(string_split(v2.sym, ' '), (acc, x) -> CASE
          |     WHEN acc LIKE '%' || m2.l AND x = m2.r
          |       AND NOT acc LIKE '%' || m2.l || ' ' || m2.l
          |     THEN CASE WHEN len(acc) > len(m2.l)
          |       THEN acc[1:len(acc)-len(m2.l)-1] ||
          |         CASE WHEN acc[len(acc)-len(m2.l)] = ' ' THEN ' ' ELSE '' END
          |         || m2.l || x
          |       ELSE m2.l || x END
          |     ELSE acc || ' ' || x END) FROM m2) AS sym
          |  FROM v2),
          |dw AS (
          |  SELECT doc_id, u.pos AS pos, u.word AS word
          |  FROM (
          |    SELECT doc_id,
          |      unnest(list_transform(range(1, len(ws) + 1),
          |        i -> {'pos': i, 'word': ws[i]})) AS u
          |    FROM (SELECT doc_id, string_split(text, ' ') AS ws
          |          FROM documents))
          |  WHERE len(u.word) >= 1),
          |tok AS (
          |  SELECT dw.doc_id,
          |    string_agg(dw.word, ' ' ORDER BY dw.pos) AS roundtrip,
          |    CAST(sum(len(string_split(v3.sym, ' '))) AS BIGINT)
          |      AS n_tokens
          |  FROM dw JOIN v3 ON v3.word = dw.word
          |  GROUP BY dw.doc_id)
          |SELECT d.doc_id,
          |  coalesce(t.roundtrip, '') AS roundtrip,
          |  coalesce(t.n_tokens, 0) AS n_tokens
          |FROM documents d LEFT JOIN tok t ON t.doc_id = d.doc_id
          |ORDER BY d.doc_id""".stripMargin
      ),
      doc = "BPE DECODE round-trip (tokenizer losslessness): encode " +
        "with the Sennrich end-of-word marker, decode by codegen'd " +
        "column concat (no UDF), output must equal the document's " +
        "single-space word normalization — the oracle computes that " +
        "normalization independently from the raw fixture, so any " +
        "encode/decode asymmetry hash-fails; token count replayed " +
        "through the full 3-round merge chain"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_gopher_ngrams",
      covers = "text-repetition,text-quality",
      fn = (s, dir) =>
        graft.text.TextAnalysis
          .gopherRepetitionSignals(table(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      oracle = Some(gopherNgramsOracle),
      doc = "the COMPLETE Gopher repetition table (Rae et al. '21 " +
        "App. A1.1): top-{2,3,4}-gram chars (occurrences x gram " +
        "length, deterministic tie-break) and duplicated-{5..10}-gram " +
        "token-char coverage (each token counted once under " +
        "overlapping duplicates) — one compiled per-row pass, zero " +
        "shuffle; the oracle replays every n via gram-position CTEs"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_fim",
      covers = "fim-transform,text-quality",
      fn = (s, dir) => {
        val out = graft.text.TextAnalysis
          .fimTransform(table(s, dir, "documents"), "doc_id", "text")
        // ship a digest of the transformed text, not 5k full payloads
        out.select(col("doc_id"), col("fim_applied"),
            col("cut_lo"), col("cut_hi"),
            length(col("fim_text")).cast("long").as("fim_len"),
            md5(col("fim_text")).as("fim_md5"))
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH f AS (
          |  SELECT doc_id, text,
          |    substr(md5('fim:' || CAST(doc_id AS VARCHAR)), 1, 4)
          |      <= '7fff' AS fim_applied,
          |    CAST(('0x' || substr(md5('fimc1:' || CAST(doc_id AS VARCHAR)),
          |      1, 8)) AS BIGINT) % (length(text) + 1) AS u1,
          |    CAST(('0x' || substr(md5('fimc2:' || CAST(doc_id AS VARCHAR)),
          |      1, 8)) AS BIGINT) % (length(text) + 1) AS u2
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, text, fim_applied,
          |    least(u1, u2) AS lo, greatest(u1, u2) AS hi
          |  FROM f),
          |o AS (
          |  SELECT doc_id, fim_applied,
          |    CASE WHEN fim_applied THEN lo END AS cut_lo,
          |    CASE WHEN fim_applied THEN hi END AS cut_hi,
          |    CASE WHEN fim_applied THEN
          |      '<fim_prefix>' || substr(text, 1, lo)
          |      || '<fim_suffix>' || substr(text, hi + 1, length(text) - hi)
          |      || '<fim_middle>' || substr(text, lo + 1, hi - lo)
          |    ELSE text END AS fim_text
          |  FROM c)
          |SELECT doc_id, fim_applied, cut_lo, cut_hi,
          |  CAST(length(fim_text) AS BIGINT) AS fim_len,
          |  md5(fim_text) AS fim_md5
          |FROM o ORDER BY doc_id""".stripMargin
      ),
      doc = "deterministic fill-in-the-middle transform (Bavarian et " +
        "al. '22, PSM sentinel layout): apply flag and both character " +
        "cuts are salted-md5 functions of the id, so the transform " +
        "replays bit-identically on any engine; one per-row " +
        "projection, zero shuffle — oracle rebuilds the exact PSM " +
        "string and matches its md5"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_span_corrupt",
      covers = "span-corruption,text-quality",
      fn = (s, dir) => {
        val out = graft.text.TextAnalysis
          .spanCorrupt(table(s, dir, "documents"), "doc_id", "text")
        // digests instead of 5k full (input, target) payloads
        out.select(col("doc_id"), col("n_spans"), col("masked_tokens"),
            length(col("input_text")).cast("long").as("input_len"),
            md5(col("input_text")).as("input_md5"),
            md5(col("target_text")).as("target_md5"))
          .orderBy("doc_id")
      },
      oracle = Some(spanCorruptOracle),
      doc = "deterministic span corruption (Raffel et al. '20 §3.1.4, " +
        "the T5/UL2 denoising objective's preprocessing op): 3 " +
        "non-overlapping sentinel-masked token spans, one per equal " +
        "stratum of the token sequence; span starts/lengths are " +
        "salted-md5 functions of the id so the (input, target) pair " +
        "replays bit-identically on any engine; one per-row " +
        "projection, zero shuffle — oracle rebuilds both strings " +
        "exactly and matches their md5s"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_lm_backoff",
      covers = "ngram-lm,text-quality",
      fn = (s, dir) => {
        val d = table(s, dir, "documents")
        // sparse fit subset → the score sample hits both the bigram
        // path and the unigram backoff (full-corpus fit would cover
        // every bigram of this fixture's 31-token vocabulary)
        graft.text.NgramLm
          .stupidBackoffScore(
            d.filter(col("doc_id") % 50 === 1),
            d.filter(col("doc_id") % 20 === 0),
            "doc_id", "text")
          .orderBy("doc_id", "pos")
      },
      oracle = Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
          |  WHERE doc_id % 50 = 1),
          |tok_all AS (
          |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |w AS (SELECT unnest(t) AS w FROM tok),
          |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM w GROUP BY w),
          |tot AS (SELECT CAST(count(*) AS BIGINT) AS t_tokens FROM w),
          |pr_fit AS (
          |  SELECT doc_id, u.i - 1 AS pos, u.w1 AS w1, u.w2 AS w2 FROM (
          |    SELECT doc_id,
          |      unnest([{'i': i, 'w1': t[i], 'w2': t[i + 1]}
          |              FOR i IN range(1, len(t))]) AS u
          |    FROM tok)),
          |bi AS (
          |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
          |  FROM pr_fit GROUP BY w1, w2),
          |sc AS (
          |  SELECT doc_id, u.i - 1 AS pos, u.w1 AS w1, u.w2 AS w2 FROM (
          |    SELECT doc_id,
          |      unnest([{'i': i, 'w1': t[i], 'w2': t[i + 1]}
          |              FOR i IN range(1, len(t))]) AS u
          |    FROM tok_all WHERE doc_id % 20 = 0))
          |SELECT sc.doc_id, CAST(sc.pos AS BIGINT) AS pos,
          |  CAST(CASE WHEN bi.c2 IS NOT NULL THEN 2
          |            WHEN u2.c1 IS NOT NULL THEN 1
          |            ELSE 0 END AS BIGINT) AS backoff_level,
          |  CAST(CASE WHEN bi.c2 IS NOT NULL THEN bi.c2
          |            WHEN u2.c1 IS NOT NULL THEN 2 * u2.c1
          |            ELSE 0 END AS BIGINT) AS num,
          |  CAST(CASE WHEN bi.c2 IS NOT NULL THEN u1.c1
          |            WHEN u2.c1 IS NOT NULL THEN 5 * tot.t_tokens
          |            ELSE 1 END AS BIGINT) AS den
          |FROM sc
          |LEFT JOIN bi ON bi.w1 = sc.w1 AND bi.w2 = sc.w2
          |LEFT JOIN uni u1 ON u1.w = sc.w1
          |LEFT JOIN uni u2 ON u2.w = sc.w2
          |CROSS JOIN tot
          |ORDER BY doc_id, pos""".stripMargin
      ),
      doc = "Stupid Backoff bigram LM (Brants et al. '07 — the " +
        "distributed count-LM): fit is two count aggregations over " +
        "token keys, scoring a per-row pair expansion joined against " +
        "the count tables; scores emitted as exact integer (num, den) " +
        "rationals (bigram c2/c1, backoff 2·c1/5·T) so nothing " +
        "floats — the real count-LM face beside lmBuckets' hit-rate " +
        "proxy; scored here on a 1-in-20 doc sample against a sparse " +
        "1-in-50 fit so both the bigram and backoff paths fire"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_lm_backoff3",
      covers = "ngram-lm,text-quality",
      fn = (s, dir) => {
        val d = table(s, dir, "documents")
        graft.text.NgramLm
          .stupidBackoffScoreTrigram(
            d.filter(col("doc_id") % 50 === 1),
            d.filter(col("doc_id") % 20 === 0),
            "doc_id", "text")
          .orderBy("doc_id", "pos")
      },
      oracle = Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
          |  WHERE doc_id % 50 = 1),
          |tok_all AS (
          |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |w AS (SELECT unnest(t) AS w FROM tok),
          |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM w GROUP BY w),
          |tot AS (SELECT CAST(count(*) AS BIGINT) AS t_tokens FROM w),
          |bi AS (
          |  SELECT u.w1 AS w1, u.w2 AS w2, CAST(count(*) AS BIGINT) AS c2 FROM (
          |    SELECT unnest([{'w1': t[i], 'w2': t[i + 1]}
          |                   FOR i IN range(1, len(t))]) AS u
          |    FROM tok)
          |  GROUP BY 1, 2),
          |tri AS (
          |  SELECT u.w1 AS w1, u.w2 AS w2, u.w3 AS w3,
          |    CAST(count(*) AS BIGINT) AS c3 FROM (
          |    SELECT unnest([{'w1': t[i], 'w2': t[i + 1], 'w3': t[i + 2]}
          |                   FOR i IN range(1, len(t) - 1)]) AS u
          |    FROM tok)
          |  GROUP BY 1, 2, 3),
          |sc AS (
          |  SELECT doc_id, u.i - 1 AS pos,
          |    u.w1 AS w1, u.w2 AS w2, u.w3 AS w3 FROM (
          |    SELECT doc_id,
          |      unnest([{'i': i, 'w1': t[i], 'w2': t[i + 1], 'w3': t[i + 2]}
          |              FOR i IN range(1, len(t) - 1)]) AS u
          |    FROM tok_all WHERE doc_id % 20 = 0))
          |SELECT sc.doc_id, CAST(sc.pos AS BIGINT) AS pos,
          |  CAST(CASE WHEN tri.c3 IS NOT NULL THEN 3
          |            WHEN bn.c2 IS NOT NULL THEN 2
          |            WHEN u3.c1 IS NOT NULL THEN 1
          |            ELSE 0 END AS BIGINT) AS backoff_level,
          |  CAST(CASE WHEN tri.c3 IS NOT NULL THEN tri.c3
          |            WHEN bn.c2 IS NOT NULL THEN 2 * bn.c2
          |            WHEN u3.c1 IS NOT NULL THEN 4 * u3.c1
          |            ELSE 0 END AS BIGINT) AS num,
          |  CAST(CASE WHEN tri.c3 IS NOT NULL THEN bc.c2
          |            WHEN bn.c2 IS NOT NULL THEN 5 * u2.c1
          |            WHEN u3.c1 IS NOT NULL THEN 25 * tot.t_tokens
          |            ELSE 1 END AS BIGINT) AS den
          |FROM sc
          |LEFT JOIN tri ON tri.w1 = sc.w1 AND tri.w2 = sc.w2 AND tri.w3 = sc.w3
          |LEFT JOIN bi bc ON bc.w1 = sc.w1 AND bc.w2 = sc.w2
          |LEFT JOIN bi bn ON bn.w1 = sc.w2 AND bn.w2 = sc.w3
          |LEFT JOIN uni u2 ON u2.w = sc.w2
          |LEFT JOIN uni u3 ON u3.w = sc.w3
          |CROSS JOIN tot
          |ORDER BY doc_id, pos""".stripMargin
      ),
      doc = "trigram Stupid Backoff (Brants et al. '07): level 3 = " +
        "c3/c2(context), backoff 2 = 2·c2/5·c1, backoff 1 = 4·c1/25·T " +
        "(α²), OOV = 0/1 — exact integer rationals; the count tables " +
        "gain one key column per order, which is the whole scaling " +
        "argument of the paper"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_index_search",
      covers = "keyword-search,J2,O2",
      fn = (s, dir) => {
        val d = table(s, dir, "documents")
        // query terms from doc 0's own vocabulary (top-3 by tf) — a
        // conjunction guaranteed non-degenerate at every fixture SF
        // (global vocabulary ranks fragment under the Caesar-shifted
        // scale-up fixtures and can make an all-corpus conjunction
        // empty)
        graft.text.Search.searchAll(
          d, "doc_id", "text",
          graft.text.Search.vocabTerms(
            d.filter(col("doc_id") === 0L), "text", 1, 3), k = 20)
      },
      oracle = Some(
        """WITH tok AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
          |  FROM documents),
          |vocab AS (
          |  SELECT w, count(*) AS tfc FROM tok
          |  WHERE length(w) > 0 AND doc_id = 0 GROUP BY w),
          |terms AS (
          |  SELECT w AS term FROM (
          |    SELECT w, row_number() OVER (ORDER BY tfc DESC, w ASC) AS rn
          |    FROM vocab)
          |  WHERE rn BETWEEN 1 AND 3),
          |tf AS (
          |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
          |  FROM tok JOIN terms ON w = term GROUP BY doc_id, w),
          |hits AS (
          |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf
          |  FROM tf GROUP BY doc_id HAVING count(*) = 3)
          |SELECT CAST(row_number() OVER (ORDER BY total_tf DESC, doc_id ASC)
          |    AS BIGINT) AS hit_rank,
          |  doc_id, total_tf
          |FROM hits ORDER BY total_tf DESC, doc_id ASC LIMIT 20""".stripMargin
      ),
      doc = "conjunctive keyword retrieval: the 20 docs containing ALL " +
        "3 query terms (data-derived vocabulary ranks 5-7), ranked by " +
        "total tf with id tiebreak — term match is a broadcast hash " +
        "join beside the scan (unmatched tokens never shuffle), " +
        "ranking is a TakeOrderedAndProject top-k heap, never a " +
        "global sort"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_inverted_index",
      covers = "keyword-search,O3",
      fn = (s, dir) => {
        val idx = graft.text.Search
          .invertedIndex(table(s, dir, "documents"), "doc_id", "text",
            maxPostings = 5)
        idx.select(col("token"), col("df_docs"),
            posexplode(col("postings")).as(Seq("p0", "p")))
          .select(col("token"), col("df_docs"),
            (col("p0") + 1L).cast("long").as("post_rank"),
            col("p.doc").as("doc"), col("p.tf").as("tf"))
          .orderBy("token", "post_rank")
      },
      oracle = Some(
        """WITH tok AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
          |  FROM documents),
          |tf AS (
          |  SELECT w AS token, doc_id AS doc, CAST(count(*) AS BIGINT) AS tf
          |  FROM tok WHERE length(w) > 0 GROUP BY w, doc_id),
          |d AS (
          |  SELECT token, CAST(count(*) AS BIGINT) AS df_docs
          |  FROM tf GROUP BY token),
          |r AS (
          |  SELECT token, doc, tf,
          |    row_number() OVER (PARTITION BY token
          |                       ORDER BY tf DESC, doc ASC) AS rn
          |  FROM tf)
          |SELECT r.token, d.df_docs, CAST(r.rn AS BIGINT) AS post_rank,
          |  r.doc, r.tf
          |FROM r JOIN d ON d.token = r.token
          |WHERE r.rn <= 5
          |ORDER BY r.token, post_rank""".stripMargin
      ),
      doc = "inverted-index build with impact-ordered posting caps: " +
        "per-token posting lists truncated to the 5 highest-tf docs " +
        "via the native TopKPerKey operator (bounded heap — no " +
        "stopword can materialize a corpus-sized array), df counted " +
        "before the cap; emitted exploded for the oracle"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_unk_rare",
      covers = "rare-token-unk,pii-redaction,text-quality",
      fn = (s, dir) => {
        // every 7th doc carries a synthetic one-document secret token —
        // the statistical-backstop case the regex redactor cannot see
        val d = table(s, dir, "documents")
          .withColumn("text",
            when(col("doc_id") % 7 === 0,
              concat(col("text"), lit(" xsecret"),
                col("doc_id").cast("string")))
              .otherwise(col("text")))
        graft.text.TextAnalysis
          .unkRareTokens(d, "doc_id", "text")
          .withColumn("clean_md5", md5(col("clean_text")))
          .drop("clean_text")
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH d AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 7 = 0
          |         THEN text || ' xsecret' || CAST(doc_id AS VARCHAR)
          |         ELSE text END AS text
          |  FROM documents),
          |tok AS (
          |  SELECT doc_id, u.i - 1 AS pos, u.w AS w FROM (
          |    SELECT doc_id,
          |      unnest([{'i': i, 'w': t[i]} FOR i IN range(1, len(t) + 1)]) AS u
          |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM d))),
          |dfreq AS (
          |  SELECT w, count(DISTINCT doc_id) AS dfd FROM tok GROUP BY w),
          |rare AS (SELECT w FROM dfreq WHERE dfd < 2),
          |m AS (SELECT t.doc_id, t.pos FROM tok t JOIN rare r ON r.w = t.w),
          |mc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_masked
          |       FROM m GROUP BY doc_id),
          |rebuilt AS (
          |  SELECT t.doc_id,
          |    string_agg(CASE WHEN m.pos IS NOT NULL THEN '<unk>'
          |                    ELSE t.w END, ' ' ORDER BY t.pos) AS clean_text
          |  FROM tok t LEFT JOIN m ON m.doc_id = t.doc_id AND m.pos = t.pos
          |  GROUP BY t.doc_id)
          |SELECT d.doc_id,
          |  CAST(coalesce(mc.n_masked, 0) AS BIGINT) AS n_masked,
          |  md5(rebuilt.clean_text) AS clean_md5
          |FROM d JOIN rebuilt ON rebuilt.doc_id = d.doc_id
          |LEFT JOIN mc ON mc.doc_id = d.doc_id
          |ORDER BY d.doc_id""".stripMargin
      ),
      doc = "rare-token suppression (UNK-thresholding / vocabulary " +
        "k-anonymity): tokens seen in < 2 docs become <unk> — the " +
        "count-LM vocabulary cut doubling as the statistical privacy " +
        "backstop behind regex PII redaction (one-document " +
        "identifiers cannot reach the training set); df aggregation " +
        "shuffles 16-byte digests, rewrite is a per-row transform " +
        "after one id-keyed graft join"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_wordlist_tags",
      covers = "wordlist-tagger,text-quality",
      fn = (s, dir) => {
        import s.implicits._
        val lex = Seq(
          ("table", "storage"), ("row", "storage"), ("column", "storage"),
          ("fast", "perf"), ("slow", "perf"),
          ("spark", "engine"), ("query", "engine"), ("scan", "engine"))
          .toDF("term", "tag")
        graft.text.TextAnalysis
          .wordlistTags(table(s, dir, "documents"), "doc_id", "text", lex)
          .orderBy("doc_id", "tag")
      },
      oracle = Some(
        """WITH lex(term, tag) AS (VALUES
          |  ('table', 'storage'), ('row', 'storage'), ('column', 'storage'),
          |  ('fast', 'perf'), ('slow', 'perf'),
          |  ('spark', 'engine'), ('query', 'engine'), ('scan', 'engine')),
          |tok AS (
          |  SELECT doc_id,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
          |    unnest(string_split(text, ' ')) AS w
          |  FROM documents)
          |SELECT t.doc_id, l.tag, CAST(count(*) AS BIGINT) AS n_hits, t.n_tok
          |FROM tok t JOIN lex l ON lower(t.w) = l.term
          |GROUP BY t.doc_id, l.tag, t.n_tok
          |ORDER BY doc_id, tag""".stripMargin
      ),
      doc = "Dolma-style wordlist taggers (Soldaini et al. '24): " +
        "per-doc hit counts against categorized lexicons (the " +
        "toxicity/adult/quality wordlist stage); case-folded exact " +
        "token match via a broadcast lexicon join beside the scan — " +
        "only hit rows shuffle; n_tok rides along so rate gates stay " +
        "integer cross-multiplications"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_bpe_fertility",
      covers = "bpe,tokenizer-audit",
      fn = (s, dir) => {
        // the tokenizer-fairness audit multilingual releases ship:
        // per-language token/word/char volumes under ONE trained
        // tokenizer — fertility (tokens per word) and compression
        // (chars per token) are caller-side integer divisions
        val docs = table(s, dir, "documents")
        val (merges, vocab) = graft.text.Bpe.train(docs, "text", rounds = 3)
        vocab.unpersist()
        graft.text.Bpe
          .encode(docs, "text", merges.map(m => (m._2, m._3)), s)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(size(col("tokens"))).cast("long").as("n_bpe_tokens"),
            sum(size(filter(split(col("text"), " "),
              w => length(w) > 0))).cast("long").as("n_words"),
            sum(length(translate(col("text"), " ", ""))).cast("long")
              .as("n_chars"))
          .orderBy("lang")
      },
      oracle = Some(
        bpeMergeCtes(3) +
          """,
            |dw AS (
            |  SELECT doc_id, u AS word FROM (
            |    SELECT doc_id, unnest(string_split(text, ' ')) AS u
            |    FROM documents)
            |  WHERE len(u) >= 1),
            |ag AS (
            |  SELECT dw.doc_id,
            |    CAST(sum(len(string_split(v3.sym, ' '))) AS BIGINT) AS n_tok,
            |    CAST(count(*) AS BIGINT) AS n_words
            |  FROM dw JOIN v3 ON v3.word = dw.word GROUP BY dw.doc_id),
            |dl AS (SELECT doc_id, lang,
            |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS nchr
            |  FROM documents)
            |SELECT dl.lang, CAST(count(*) AS BIGINT) AS n_docs,
            |  CAST(sum(coalesce(ag.n_tok, 0)) AS BIGINT) AS n_bpe_tokens,
            |  CAST(sum(coalesce(ag.n_words, 0)) AS BIGINT) AS n_words,
            |  CAST(sum(dl.nchr) AS BIGINT) AS n_chars
            |FROM dl LEFT JOIN ag ON ag.doc_id = dl.doc_id
            |GROUP BY dl.lang ORDER BY lang""".stripMargin
      ),
      doc = "tokenizer fertility audit: per-language docs / BPE " +
        "tokens / words / non-space chars under one trained merge " +
        "table — the multilingual-fairness table (fertility = " +
        "tokens/word, compression = chars/token) as integer-exact " +
        "volumes; encode is the corpus-scale broadcast-merges map, " +
        "the report one dimension-sized aggregation"
    )
  )

  /** Oracle for q_text_width_fold: the same translate round-trip with
    * the 95+1-char mappings embedded as SQL literals.
    */
  private def widthFoldOracle: String = {
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    val half = (0x21 to 0x7E).map(_.toChar).mkString + ' '
    val full = (0xFF01 to 0xFF5E).map(_.toChar).mkString + '　'
    s"""WITH m AS (
       |  SELECT doc_id, text, doc_id % 4 = 0 AS was_mangled,
       |    CASE WHEN doc_id % 4 = 0
       |         THEN translate(text, ${lit(half)}, ${lit(full)})
       |         ELSE text END AS mangled
       |  FROM documents)
       |SELECT doc_id, was_mangled,
       |  CAST(length(mangled) AS BIGINT) AS mangled_len,
       |  md5(translate(mangled, ${lit(full)}, ${lit(half)})) AS folded_md5,
       |  md5(translate(mangled, ${lit(full)}, ${lit(half)})) = md5(text)
       |    AS fold_restores
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Oracle for q_text_span_corrupt: replays the 3-stratum span
    * arithmetic (integer floor bounds, md5-derived starts/lengths) and
    * reassembles input/target with list slices. Generated per k so the
    * SQL stays mechanically in lockstep with spanCorrupt's loop.
    */
  private def spanCorruptOracle: String = {
    val nSpans = 3
    val spanCols = (0 until nSpans).map { k =>
      s"""    (n * $k) // $nSpans AS b$k,
         |    (n * ${k + 1}) // $nSpans AS e$k,
         |    CAST(('0x' || substr(md5('spancs$k:' || CAST(doc_id AS VARCHAR)),
         |      1, 8)) AS BIGINT) AS hs$k,
         |    CAST(('0x' || substr(md5('spancl$k:' || CAST(doc_id AS VARCHAR)),
         |      1, 8)) AS BIGINT) AS hl$k""".stripMargin
    }.mkString(",\n")
    val slCols = (0 until nSpans).map { k =>
      s"""    CASE WHEN e$k - b$k > 0 THEN b$k + hs$k % (e$k - b$k)
         |         ELSE b$k END AS s$k""".stripMargin
    }.mkString(",\n")
    val lCols = (0 until nSpans).map { k =>
      s"""    CASE WHEN e$k - b$k > 0
         |         THEN 1 + hl$k % least(4, e$k - s$k)
         |         ELSE 0 END AS l$k""".stripMargin
    }.mkString(",\n")
    val prevEnd = (k: Int) => if (k == 0) "0" else s"(s${k - 1} + l${k - 1})"
    val inputParts = (0 until nSpans).map { k =>
      s"""t[${prevEnd(k)} + 1 : s$k] ||
         |      (CASE WHEN l$k > 0 THEN ['<extra_id_$k>']
         |            ELSE [] END)""".stripMargin
    }.mkString(" ||\n      ") +
      s" ||\n      t[${prevEnd(nSpans)} + 1 : n]"
    val targetParts = (0 until nSpans).map { k =>
      s"""(CASE WHEN l$k > 0 THEN ['<extra_id_$k>'] ELSE [] END) ||
         |      t[s$k + 1 : s$k + l$k]""".stripMargin
    }.mkString(" ||\n      ")
    val nSpansExpr =
      (0 until nSpans).map(k => s"(CASE WHEN l$k > 0 THEN 1 ELSE 0 END)")
        .mkString(" + ")
    val maskedExpr = (0 until nSpans).map(k => s"l$k").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS t,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, t, n,
       |$spanCols
       |  FROM tok),
       |st AS (
       |  SELECT doc_id, t, n, ${(0 until nSpans).map(k => s"b$k, e$k, hl$k").mkString(", ")},
       |$slCols
       |  FROM h),
       |sp AS (
       |  SELECT doc_id, t, n, ${(0 until nSpans).map(k => s"s$k").mkString(", ")},
       |$lCols
       |  FROM st),
       |built AS (
       |  SELECT doc_id,
       |    CAST($nSpansExpr AS BIGINT) AS n_spans,
       |    CAST($maskedExpr AS BIGINT) AS masked_tokens,
       |    array_to_string($inputParts, ' ') AS input_text,
       |    array_to_string($targetParts, ' ') AS target_text
       |  FROM sp)
       |SELECT doc_id, n_spans, masked_tokens,
       |  CAST(length(input_text) AS BIGINT) AS input_len,
       |  md5(input_text) AS input_md5,
       |  md5(target_text) AS target_md5
       |FROM built ORDER BY doc_id""".stripMargin
  }

  /** Oracle for q_text_gopher_ngrams, generated per n (the 9 signal
    * families differ only in n, so the SQL is built mechanically —
    * top-gram CTEs for n=2..4, coverage CTEs for n=5..10).
    */
  private def gopherNgramsOracle: String = {
    val topCtes = (2 to 4).map { n =>
      s"""g$n AS (
         |  SELECT doc_id,
         |    unnest([array_to_string(t[i:i+${n - 1}], ' ')
         |            FOR i IN range(1, len(t) - ${n - 2})]) AS gram
         |  FROM t),
         |c$n AS (
         |  SELECT doc_id, gram, count(*) AS c FROM g$n GROUP BY doc_id, gram),
         |top$n AS (
         |  SELECT doc_id, CAST(c * length(gram) AS BIGINT) AS top${n}_chars
         |  FROM (SELECT doc_id, c, gram,
         |          row_number() OVER (PARTITION BY doc_id
         |            ORDER BY c DESC, gram ASC) AS rn
         |        FROM c$n)
         |  WHERE rn = 1)""".stripMargin
    }
    val dupCtes = (5 to 10).map { n =>
      s"""go$n AS (
         |  SELECT doc_id, u.i AS i, u.g AS gram FROM (
         |    SELECT doc_id,
         |      unnest([{'i': i, 'g': array_to_string(t[i:i+${n - 1}], ' ')}
         |              FOR i IN range(1, len(t) - ${n - 2})]) AS u
         |    FROM t)),
         |d$n AS (
         |  SELECT doc_id, gram FROM go$n
         |  GROUP BY doc_id, gram HAVING count(*) >= 2),
         |cov$n AS (
         |  SELECT DISTINCT doc_id, idx FROM (
         |    SELECT g.doc_id, unnest(range(g.i, g.i + $n)) AS idx
         |    FROM go$n g JOIN d$n d
         |      ON d.doc_id = g.doc_id AND d.gram = g.gram)),
         |cc$n AS (
         |  SELECT c.doc_id,
         |    CAST(sum(length(tt.t[c.idx])) AS BIGINT) AS dup${n}_chars
         |  FROM cov$n c JOIN t tt ON tt.doc_id = c.doc_id
         |  GROUP BY c.doc_id)""".stripMargin
    }
    val topJoins = (2 to 4)
      .map(n => s"LEFT JOIN top$n ON top$n.doc_id = b.doc_id").mkString("\n")
    val dupJoins = (5 to 10)
      .map(n => s"LEFT JOIN cc$n ON cc$n.doc_id = b.doc_id").mkString("\n")
    val topSel = (2 to 4)
      .map(n => s"coalesce(top$n.top${n}_chars, 0) AS top${n}_chars")
      .mkString(",\n  ")
    val dupSel = (5 to 10)
      .map(n => s"coalesce(cc$n.dup${n}_chars, 0) AS dup${n}_chars")
      .mkString(",\n  ")
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |b AS (
       |  SELECT doc_id,
       |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |${(topCtes ++ dupCtes).mkString(",\n")}
       |SELECT b.doc_id, b.n_chars, b.n_tok,
       |  $topSel,
       |  $dupSel
       |FROM b
       |$topJoins
       |$dupJoins
       |ORDER BY b.doc_id""".stripMargin
  }
}
