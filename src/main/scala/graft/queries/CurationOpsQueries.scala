package graft.queries

import graft.core.Graft.table
import graft.text.UrlOps
import org.apache.spark.sql.functions._

/** Web-corpus curation front-door operators: URL canonicalization +
  * dedup, paragraph-level dedup, edit-distance near-dup, temperature
  * mixture resampling, semantic (embedding-cluster) dedup. Each is a
  * standard stage of a crawl-to-training-set pipeline; all decisions
  * are integer/string-exact so every query here is fully
  * DuckDB-oracle-checked (QueryDef scaladoc rules).
  */
object CurationOpsQueries {

  val defs: Seq[QueryDef] = Seq(
    // ----------------------------------------------------------------
    QueryDef(
      "q_url_canonical_dedup",
      covers = "url-canonicalize,dedup,P6",
      fn = (s, dir) => {
        val d = table(s, dir, "documents")
        // messy-URL synthesis from the row itself (scheme/host case,
        // default port, trailing slash, tracking params, param order,
        // fragment all vary) — the canonicalizer must collapse them to
        // one key per (site, lang, page) triple
        val id = col("doc_id")
        val srcNum = expr("CAST(substring(source, 4) AS BIGINT)")
        val page = (id % 40).cast("string")
        val x = ((id % 40) % 2).cast("string")
        val messy = concat(
          when(id % 2 === 0, lit("HTTP")).otherwise(lit("http")),
          lit("://"),
          when(id % 3 === 0, lit("WWW.")).otherwise(lit("www.")),
          lit("Site"), (srcNum % 4).cast("string"), lit(".Example.COM"),
          when(id % 3 === 0, lit(":80")).otherwise(lit("")),
          lit("/Docs/"), col("lang"), lit("/p"), page,
          when(id % 2 === 0, lit("/")).otherwise(lit("")),
          when(id % 2 === 0,
            concat(lit("?utm_source=feed&id="), page, lit("&x="), x))
            .otherwise(concat(lit("?x="), x, lit("&gclid=g1&id="), page)),
          when(id % 5 === 0, lit("#sec")).otherwise(lit("")))
        val canon = d
          .select(id, UrlOps.canonicalizeUrl(messy).as("canonical_url"))
          .withColumn("domain_key", UrlOps.domainKey(col("canonical_url")))
        canon
          .groupBy("canonical_url")
          .agg(
            min(col("domain_key")).as("domain_key"),
            count(lit(1)).as("n_urls"),
            min(col("doc_id")).as("keep_id"))
          .orderBy("canonical_url")
      },
      oracle = Some(
        """WITH m AS (
          |  SELECT doc_id,
          |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END) || '://' ||
          |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'www.' END) ||
          |    'Site' || CAST(CAST(substr(source, 4) AS BIGINT) % 4 AS VARCHAR) ||
          |    '.Example.COM' ||
          |    (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END) ||
          |    '/Docs/' || lang || '/p' || CAST(doc_id % 40 AS VARCHAR) ||
          |    (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
          |    (CASE WHEN doc_id % 2 = 0
          |      THEN '?utm_source=feed&id=' || CAST(doc_id % 40 AS VARCHAR)
          |           || '&x=' || CAST((doc_id % 40) % 2 AS VARCHAR)
          |      ELSE '?x=' || CAST((doc_id % 40) % 2 AS VARCHAR)
          |           || '&gclid=g1&id=' || CAST(doc_id % 40 AS VARCHAR) END) ||
          |    (CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END) AS url
          |  FROM documents),
          |p AS (
          |  SELECT doc_id,
          |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
          |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
          |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
          |    regexp_extract(url, '\?([^#]*)', 1) AS rawq
          |  FROM m),
          |c AS (
          |  SELECT doc_id, scheme,
          |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
          |         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
          |         ELSE hostport END AS host,
          |    CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
          |         ELSE regexp_replace(rawpath, '/+$', '') END AS path,
          |    array_to_string(list_sort(list_filter(string_split(rawq, '&'),
          |      q -> q <> '' AND NOT regexp_matches(q,
          |        '^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|mc_eid|ref|ref_src)='))),
          |      '&') AS q
          |  FROM p),
          |canon AS (
          |  SELECT doc_id,
          |    scheme || '://' || host || path ||
          |      (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canonical_url,
          |    regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain_key
          |  FROM c)
          |SELECT canonical_url, min(domain_key) AS domain_key,
          |  CAST(count(*) AS BIGINT) AS n_urls, min(doc_id) AS keep_id
          |FROM canon GROUP BY canonical_url ORDER BY canonical_url""".stripMargin
      ),
      doc = "URL canonicalization (RFC-3986-lite: scheme/host case, " +
        "default ports, trailing slash, tracking params, param sort, " +
        "fragment) then dedup on the canonical key — the web-corpus " +
        "front door; pure codegen'd column chain, dedup is one " +
        "hash-shuffle on the short canonical string"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_window_dedup",
      covers = "paragraph-dedup,D1",
      fn = (s, dir) =>
        graft.dedup.Dedup
          .windowDedup(table(s, dir, "documents"), "doc_id", "text",
            wordsPerPara = 8)
          .withColumn("clean_md5", md5(col("clean_text")))
          .drop("clean_text")
          .orderBy("doc_id"),
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |n AS (SELECT doc_id, toks,
          |        greatest(CAST(ceil(len(toks) / 8.0) AS INT), 1) AS nch
          |      FROM t),
          |c AS (SELECT doc_id, toks, unnest(range(nch)) AS i FROM n),
          |paras AS (SELECT doc_id, CAST(i AS BIGINT) AS para_idx,
          |    array_to_string(list_slice(toks, i*8 + 1, i*8 + 8), ' ') AS para
          |  FROM c),
          |r AS (SELECT doc_id, para_idx, para,
          |    row_number() OVER (PARTITION BY md5(para)
          |                       ORDER BY doc_id, para_idx) AS occ
          |  FROM paras),
          |rb AS (SELECT doc_id,
          |    string_agg(para, ' ' ORDER BY para_idx) AS clean_text,
          |    CAST(count(*) AS BIGINT) AS n_kept
          |  FROM r WHERE occ = 1 GROUP BY doc_id),
          |np AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras
          |  FROM paras GROUP BY doc_id)
          |SELECT d.doc_id,
          |  CAST(coalesce(rb.n_kept, 0) AS BIGINT) AS n_kept,
          |  CAST(np.n_paras - coalesce(rb.n_kept, 0) AS BIGINT) AS n_dropped,
          |  md5(coalesce(rb.clean_text, '')) AS clean_md5
          |FROM documents d
          |LEFT JOIN rb ON d.doc_id = rb.doc_id
          |JOIN np ON d.doc_id = np.doc_id
          |ORDER BY d.doc_id""".stripMargin
      ),
      doc = "fixed-window exact dedup (windowDedup): 8-word windows, " +
        "first corpus-wide occurrence survives, documents reassembled " +
        "from surviving windows (digest-compared); shuffle carries " +
        "16-byte digests, never window text"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_dedup_span_removal",
      covers = "dedup-exact-substring,paragraph-dedup",
      fn = (s, dir) =>
        graft.dedup.Dedup
          .removeDuplicateSpans(table(s, dir, "documents"), "doc_id",
            "text", windowTokens = 8)
          .withColumn("clean_md5", md5(col("clean_text")))
          .select("doc_id", "clean_md5", "n_tokens", "n_removed")
          .orderBy("doc_id"),
      // Rebuild is LIST-LOCAL per doc (list_filter over the doc's own
      // token array against its covered-index list) — the exploded
      // token relation + ordered string_agg formulation needed ~100 GB
      // at 500k docs (ordered aggregates materialize), this shape
      // replays the same bytes in a few GB.
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |w AS (SELECT doc_id, CAST(p - 1 AS BIGINT) AS pos,
          |        md5(array_to_string(toks[p:p+7], ' ')) AS d
          |      FROM t, UNNEST(generate_series(1, len(toks) - 7)) AS u(p)
          |      WHERE len(toks) >= 8),
          |r AS (SELECT doc_id, pos,
          |        row_number() OVER (PARTITION BY d ORDER BY doc_id, pos) AS occ
          |      FROM w),
          |cov AS (SELECT doc_id, list(DISTINCT pos + i) AS cov
          |        FROM r, UNNEST(generate_series(0, 7)) AS g(i)
          |        WHERE occ > 1
          |        GROUP BY doc_id),
          |k AS (SELECT t.doc_id, t.toks,
          |        CASE WHEN c.cov IS NULL THEN t.toks
          |             ELSE list_filter(t.toks,
          |                    (x, i) -> NOT list_contains(c.cov, CAST(i - 1 AS BIGINT)))
          |        END AS kept
          |      FROM t LEFT JOIN cov c ON t.doc_id = c.doc_id)
          |SELECT doc_id,
          |  md5(CASE WHEN toks IS NULL THEN NULL
          |      ELSE coalesce(array_to_string(kept, ' '), '') END) AS clean_md5,
          |  CAST(len(toks) AS BIGINT) AS n_tokens,
          |  CAST(len(toks) - len(kept) AS BIGINT) AS n_removed
          |FROM k ORDER BY doc_id""".stripMargin
      ),
      doc = "ExactSubstr-style duplicated-span removal (Lee et al. " +
        "'22 §3.1 as the sliding-window approximation): every 8-token " +
        "window occurring twice anywhere in the corpus keeps only its " +
        "globally-first (doc_id, pos) occurrence; removed windows " +
        "union into maximal spans and each doc is rebuilt from " +
        "surviving tokens (digest-compared). The rank shuffle carries " +
        "(16-byte digest, id, pos) — one row per corpus token, never " +
        "text; catches duplicates at ANY alignment, unlike the " +
        "non-overlapping q_text_window_dedup chunks"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_dedup_span_removal_incremental",
      covers = "dedup-exact-substring,T2",
      fn = (s, dir) => {
        // refresh shape: scrub the new batch (%3==0) against the
        // standing history's window index (%3!=0); history docs are
        // never rewritten, batch-internal dups collapse to their first
        val d = table(s, dir, "documents")
        graft.dedup.Dedup
          .removeDuplicateSpansAgainst(
            d.filter(col("doc_id") % 3L === 0L),
            d.filter(col("doc_id") % 3L =!= 0L),
            "doc_id", "text", windowTokens = 8)
          .withColumn("clean_md5", md5(col("clean_text")))
          .select("doc_id", "clean_md5", "n_tokens", "n_removed")
          .orderBy("doc_id")
      },
      // same list-local rebuild shape as q_dedup_span_removal's oracle
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |w AS (SELECT doc_id, CAST(p - 1 AS BIGINT) AS pos,
          |        md5(array_to_string(toks[p:p+7], ' ')) AS d
          |      FROM t, UNNEST(generate_series(1, len(toks) - 7)) AS u(p)
          |      WHERE len(toks) >= 8),
          |hist AS (SELECT DISTINCT d FROM w WHERE doc_id % 3 <> 0),
          |nw AS (SELECT doc_id, pos, d,
          |         row_number() OVER (PARTITION BY d ORDER BY doc_id, pos) AS occ
          |       FROM w WHERE doc_id % 3 = 0),
          |dropw AS (
          |  SELECT doc_id, pos FROM nw WHERE occ > 1
          |  UNION
          |  SELECT nw.doc_id, nw.pos FROM nw JOIN hist USING (d)),
          |cov AS (SELECT doc_id, list(DISTINCT pos + i) AS cov
          |        FROM dropw, UNNEST(generate_series(0, 7)) AS g(i)
          |        GROUP BY doc_id),
          |k AS (SELECT t.doc_id, t.toks,
          |        CASE WHEN c.cov IS NULL THEN t.toks
          |             ELSE list_filter(t.toks,
          |                    (x, i) -> NOT list_contains(c.cov, CAST(i - 1 AS BIGINT)))
          |        END AS kept
          |      FROM t LEFT JOIN cov c ON t.doc_id = c.doc_id
          |      WHERE t.doc_id % 3 = 0)
          |SELECT doc_id,
          |  md5(CASE WHEN toks IS NULL THEN NULL
          |      ELSE coalesce(array_to_string(kept, ' '), '') END) AS clean_md5,
          |  CAST(len(toks) AS BIGINT) AS n_tokens,
          |  CAST(len(toks) - len(kept) AS BIGINT) AS n_removed
          |FROM k ORDER BY doc_id""".stripMargin
      ),
      doc = "incremental ExactSubstr span scrub (refresh shape): new " +
        "docs lose every 8-token window present in the standing " +
        "corpus's distinct-digest window index (history always wins, " +
        "never rewritten) or seen earlier in the batch; equals the " +
        "batch op on hist ∪ new restricted to new docs (spec-proven). " +
        "History side reduces to 16-byte distinct digests — the " +
        "persisted window index a refresh loop maintains"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_dedup_span_scrub_stream",
      covers = "dedup-exact-substring,T1,T2",
      fn = (s, dir) => {
        // the STREAMING span scrub, driven for real: the new-crawl
        // split lands as two drops, Structured Streaming consumes them
        // as separate micro-batches (maxFilesPerTrigger=1 under
        // AvailableNow), each batch is scrubbed against the STATIC
        // history in the order-free posture (batchInternal=false), and
        // the rewrites land batchId-keyed. Scrub = f(doc, history), so
        // the union read back equals the one-shot history-only scrub
        // under ANY batching — the oracle replays exactly that
        // (StreamBatchParitySpec adds kill+resume and replay
        // idempotence for this sink).
        val d = table(s, dir, "documents").select("doc_id", "text")
        val newDocs = d.filter(col("doc_id") % 3L === 0L)
        val history = d.filter(col("doc_id") % 3L =!= 0L)
        val root = FixtureCache.scratchDir("graft_q_spanscrub")
        val inDir = root.resolve("in")
        val outPath = root.resolve("clean").toString
        // null-safe split point: percentile over an EMPTY new-doc set
        // is NULL — both drops then write empty (schema-only) parquet
        val halfRow = newDocs.agg(
          org.apache.spark.sql.functions.expr("percentile(doc_id, 0.5)"))
          .head()
        val half = if (halfRow.isNullAt(0)) 0.0 else halfRow.getDouble(0)
        // one FILE per drop: maxFilesPerTrigger=1 batches per input
        // FILE, so a multi-split scan writing N part-files per drop
        // meant 2N micro-batches (each a checkpoint cycle + a history
        // window pass), not the documented two. coalesce(1) pins the
        // two-batch shape; output is batching-invariant (parity spec).
        newDocs.filter(col("doc_id") <= half).coalesce(1)
          .write.parquet(inDir.resolve("a").toString)
        newDocs.filter(col("doc_id") > half).coalesce(1)
          .write.parquet(inDir.resolve("b").toString)
        graft.streaming.Incremental.spanScrubStream(
          s.readStream.schema(newDocs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(inDir.toString + "/*"),
          history, "doc_id", "text",
          outPath, root.resolve("ckpt").toString, windowTokens = 8)
          .awaitTermination()
        s.read.parquet(outPath)
          .withColumn("clean_md5", md5(col("clean_text")))
          .select("doc_id", "clean_md5", "n_tokens", "n_removed")
          .orderBy("doc_id")
      },
      // the history-only scrub replay (the incremental oracle WITHOUT
      // its batch-internal rank branch), list-local rebuild shape
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |w AS (SELECT doc_id, CAST(p - 1 AS BIGINT) AS pos,
          |        md5(array_to_string(toks[p:p+7], ' ')) AS d
          |      FROM t, UNNEST(generate_series(1, len(toks) - 7)) AS u(p)
          |      WHERE len(toks) >= 8),
          |hist AS (SELECT DISTINCT d FROM w WHERE doc_id % 3 <> 0),
          |nw AS (SELECT doc_id, pos, d FROM w WHERE doc_id % 3 = 0),
          |dropw AS (SELECT nw.doc_id, nw.pos FROM nw JOIN hist USING (d)),
          |cov AS (SELECT doc_id, list(DISTINCT pos + i) AS cov
          |        FROM dropw, UNNEST(generate_series(0, 7)) AS g(i)
          |        GROUP BY doc_id),
          |k AS (SELECT t.doc_id, t.toks,
          |        CASE WHEN c.cov IS NULL THEN t.toks
          |             ELSE list_filter(t.toks,
          |                    (x, i) -> NOT list_contains(c.cov, CAST(i - 1 AS BIGINT)))
          |        END AS kept
          |      FROM t LEFT JOIN cov c ON t.doc_id = c.doc_id
          |      WHERE t.doc_id % 3 = 0)
          |SELECT doc_id,
          |  md5(CASE WHEN toks IS NULL THEN NULL
          |      ELSE coalesce(array_to_string(kept, ' '), '') END) AS clean_md5,
          |  CAST(len(toks) AS BIGINT) AS n_tokens,
          |  CAST(len(toks) - len(kept) AS BIGINT) AS n_removed
          |FROM k ORDER BY doc_id""".stripMargin
      ),
      doc = "streaming ExactSubstr span scrub driven for real (two " +
        "micro-batches via maxFilesPerTrigger=1, batchId-keyed " +
        "idempotent sink): each batch rewritten against the static " +
        "history's window index in the order-free posture, so the " +
        "accumulated output hash-matches the one-shot history-only " +
        "scrub replay"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_paragraph_dedup",
      covers = "paragraph-dedup,D1",
      fn = (s, dir) => {
        // newline-structured fixture from the corpus: a lead paragraph
        // of doc-varying length, a corpus-wide boilerplate footer (only
        // its first occurrence survives), and a second prose paragraph
        val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
        val toks = split(col("text"), " ")
        val cut = (col("doc_id") % 5L + 1L).cast("int")
        val fixture = d.select(
          col("doc_id"),
          concat_ws("\n",
            concat_ws(" ", slice(toks, lit(1), cut)),
            lit("subscribe to our newsletter for updates"),
            concat_ws(" ", slice(toks, cut + 1, lit(6)))).as("text"))
        graft.dedup.Dedup
          .paragraphDedup(fixture, "doc_id", "text")
          .withColumn("clean_md5", md5(col("clean_text")))
          .drop("clean_text")
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
          |    CAST(doc_id % 5 + 1 AS INT) AS cut FROM documents),
          |f AS (SELECT doc_id,
          |    array_to_string(list_slice(toks, 1, cut), ' ') || chr(10) ||
          |    'subscribe to our newsletter for updates' || chr(10) ||
          |    array_to_string(list_slice(toks, cut + 1, cut + 6), ' ') AS text
          |  FROM t),
          |lines AS (SELECT doc_id,
          |    CAST(generate_subscripts(string_split(text, chr(10)), 1) AS BIGINT)
          |      AS para_idx,
          |    unnest(string_split(text, chr(10))) AS raw
          |  FROM f),
          |paras AS (SELECT doc_id, para_idx, trim(raw) AS para
          |  FROM lines WHERE trim(raw) <> ''),
          |r AS (SELECT doc_id, para_idx, para,
          |    row_number() OVER (PARTITION BY md5(para)
          |                       ORDER BY doc_id, para_idx) AS occ
          |  FROM paras),
          |rb AS (SELECT doc_id,
          |    string_agg(para, chr(10) ORDER BY para_idx) AS clean_text,
          |    CAST(count(*) AS BIGINT) AS n_kept
          |  FROM r WHERE occ = 1 GROUP BY doc_id),
          |np AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras
          |  FROM paras GROUP BY doc_id)
          |SELECT f.doc_id,
          |  CAST(coalesce(rb.n_kept, 0) AS BIGINT) AS n_kept,
          |  CAST(coalesce(np.n_paras, 0) - coalesce(rb.n_kept, 0) AS BIGINT)
          |    AS n_dropped,
          |  md5(coalesce(rb.clean_text, '')) AS clean_md5
          |FROM f
          |LEFT JOIN rb ON f.doc_id = rb.doc_id
          |LEFT JOIN np ON f.doc_id = np.doc_id
          |ORDER BY f.doc_id""".stripMargin
      ),
      doc = "paragraph-level exact dedup (C4/Dolma recipe): NEWLINE-" +
        "delimited paragraphs (trimmed, blanks dropped), first " +
        "corpus-wide occurrence survives, documents reassembled " +
        "newline-joined; a shared footer paragraph dies everywhere " +
        "but its first page; shuffle carries 16-byte digests only"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_boilerplate_remove",
      covers = "boilerplate-removal,text-quality",
      fn = (s, dir) => {
        // newline fixture with a document-frequency gradient: a unique
        // lead line (df~1), a pair-shared line (df=2, kept), a
        // campaign line shared by ~N/20 docs and a corpus-wide footer
        // (both >= maxDf=10 at every SF, dropped EVERYWHERE — the
        // contrast with paragraphDedup's keep-first rule)
        val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
        val toks = split(col("text"), " ")
        val cut = (col("doc_id") % 5L + 1L).cast("int")
        val fixture = d.select(
          col("doc_id"),
          concat_ws("\n",
            concat_ws(" ", slice(toks, lit(1), cut)),
            lit("subscribe to our newsletter for updates"),
            concat(lit("campaign "), (col("doc_id") % 20L).cast("string")),
            concat(lit("pair "), expr("CAST(doc_id DIV 2 AS STRING)")),
            concat_ws(" ", slice(toks, cut + 1, lit(6)))).as("text"))
        graft.dedup.Dedup
          .boilerplateRemove(fixture, "doc_id", "text", maxDf = 10L)
          .withColumn("clean_md5", md5(col("clean_text")))
          .drop("clean_text")
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
          |    CAST(doc_id % 5 + 1 AS INT) AS cut FROM documents),
          |f AS (SELECT doc_id,
          |    array_to_string(list_slice(toks, 1, cut), ' ') || chr(10) ||
          |    'subscribe to our newsletter for updates' || chr(10) ||
          |    'campaign ' || CAST(doc_id % 20 AS VARCHAR) || chr(10) ||
          |    'pair ' || CAST(doc_id // 2 AS VARCHAR) || chr(10) ||
          |    array_to_string(list_slice(toks, cut + 1, cut + 6), ' ') AS text
          |  FROM t),
          |lines AS (SELECT doc_id,
          |    CAST(generate_subscripts(string_split(text, chr(10)), 1) AS BIGINT)
          |      AS para_idx,
          |    unnest(string_split(text, chr(10))) AS raw
          |  FROM f),
          |paras AS (SELECT doc_id, para_idx, trim(raw) AS para
          |  FROM lines WHERE trim(raw) <> ''),
          |dfc AS (SELECT md5(para) AS dg,
          |    CAST(count(DISTINCT doc_id) AS BIGINT) AS df
          |  FROM paras GROUP BY md5(para)),
          |rb AS (SELECT p.doc_id,
          |    string_agg(p.para, chr(10) ORDER BY p.para_idx) AS clean_text,
          |    CAST(count(*) AS BIGINT) AS n_kept
          |  FROM paras p JOIN dfc ON dfc.dg = md5(p.para)
          |  WHERE dfc.df < 10 GROUP BY p.doc_id),
          |np AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras
          |  FROM paras GROUP BY doc_id)
          |SELECT f.doc_id,
          |  CAST(coalesce(rb.n_kept, 0) AS BIGINT) AS n_kept,
          |  CAST(coalesce(np.n_paras, 0) - coalesce(rb.n_kept, 0) AS BIGINT)
          |    AS n_dropped,
          |  md5(coalesce(rb.clean_text, '')) AS clean_md5
          |FROM f
          |LEFT JOIN rb ON f.doc_id = rb.doc_id
          |LEFT JOIN np ON f.doc_id = np.doc_id
          |ORDER BY f.doc_id""".stripMargin
      ),
      doc = "CCNet-style boilerplate line removal: EVERY occurrence of " +
        "a line with document-frequency >= 10 is dropped (footer and " +
        "campaign lines die everywhere, pair-shared and unique lines " +
        "survive), docs reassembled newline-joined; df aggregates over " +
        "distinct (digest, doc) pairs — text never shuffles"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_dedup_edit_distance",
      covers = "edit-distance-dedup",
      fn = (s, dir) =>
        // contiguous doc_id < 1000 slice: length-band blocking over a
        // dense length histogram is Θ(slice²) — the honest domain of
        // standalone edit distance is band-limited fields / verify
        // stages (scaladoc), so the demo relation is kept
        // SF-independent rather than letting the bench quadratic-blow
        graft.dedup.Dedup
          .editDistancePairs(
            table(s, dir, "documents").filter(col("doc_id") < 1000L),
            "doc_id", "text", maxDist = 30)
          .orderBy("id_a", "id_b"),
      oracle = Some(
        """WITH d AS (SELECT * FROM documents WHERE doc_id < 1000)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  CAST(length(a.text) AS BIGINT) AS len_a,
          |  CAST(length(b.text) AS BIGINT) AS len_b,
          |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
          |FROM d a JOIN d b ON a.doc_id < b.doc_id
          |WHERE abs(length(a.text) - length(b.text)) <= 30
          |  AND levenshtein(a.text, b.text) <= 30
          |ORDER BY id_a, id_b""".stripMargin
      ),
      doc = "Levenshtein near-dup pairs at maxDist=30: lossless " +
        "length-band blocking (bucket +/-1 probe), threshold-variant " +
        "distance (O(len*maxDist) early-exit); the verify stage of " +
        "fuzzy dedup, standalone over band-limited fields " +
        "(demo slice doc_id<1000 keeps the all-pairs cost SF-independent)"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_sample_temperature",
      covers = "sampling,temperature-mixture",
      fn = (s, dir) =>
        graft.text.Sampling
          .temperaturePlan(table(s, dir, "documents"), "source", "text",
            alphaQuarters = 2, budgetTokens = 100000L)
          .orderBy("source"),
      oracle = Some(
        """WITH totals AS (
          |  SELECT source,
          |    CAST(sum(length(text) - length(replace(text, ' ', '')) + 1)
          |      AS BIGINT) AS n_tok_total
          |  FROM documents GROUP BY source),
          |wq AS (
          |  SELECT source, n_tok_total,
          |    CAST(floor(sqrt(sqrt(CAST(n_tok_total AS DOUBLE)))
          |      * sqrt(sqrt(CAST(n_tok_total AS DOUBLE)))
          |      * 1048576.0) AS BIGINT) AS w_q
          |  FROM totals),
          |s AS (SELECT *, CAST(sum(w_q) OVER () AS BIGINT) AS w_sum FROM wq),
          |b AS (SELECT *, (100000 * w_q) // w_sum AS base,
          |    100000 * w_q - ((100000 * w_q) // w_sum) * w_sum AS rem
          |  FROM s),
          |e AS (SELECT *,
          |    100000 - CAST(sum(base) OVER () AS BIGINT) AS extra,
          |    row_number() OVER (ORDER BY rem DESC, source ASC) AS rnk
          |  FROM b)
          |SELECT source, n_tok_total, w_q,
          |  CAST(base + CASE WHEN rnk <= extra THEN 1 ELSE 0 END AS BIGINT)
          |    AS target_tok,
          |  CAST(((base + CASE WHEN rnk <= extra THEN 1 ELSE 0 END) * 1000)
          |    // n_tok_total AS BIGINT) AS epochs_permille
          |FROM e ORDER BY source""".stripMargin
      ),
      doc = "temperature mixture plan (alpha=1/2): per-source token " +
        "targets proportional to n^alpha via IEEE-stable sqrt chains, " +
        "quantized to integers BEFORE any decision; largest-remainder " +
        "apportionment makes targets sum to the budget EXACTLY; " +
        "dimension-sized after one aggregate"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_dedup_semantic",
      covers = "semantic-dedup,ann-ivf",
      fn = (s, dir) =>
        graft.similarity.Ann
          .semanticDedup(table(s, dir, "embeddings"), "vec_id", "embedding",
            minCos = 0.3d, nLists = 16, iters = 2)
          .orderBy("drop_id"),
      // Replays the SAME two Lloyd iterations as q_ann_topk_ivf's
      // oracle (assignments a2 = assign under once-updated centroids
      // c1; mean updates restricted to the hash-ordered training cap
      // tr, exactly as ivfBuild's bounded Lloyd pass), then
      // within-cluster quantized cosine >= 0.3 and the
      // smallest-lower-id keeper rule.
      oracle = Some(
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
          |tr AS (
          |  SELECT vec_id FROM e
          |  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
          |  LIMIT ${graft.similarity.Pq.DefaultTrainCap}),
          |c0 AS (
          |  SELECT list(list_transform(embedding, x -> CAST(x AS DOUBLE)) ORDER BY vec_id) AS c
          |  FROM (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 16)),
          |a1 AS (
          |  SELECT vec_id, embedding, list_position(d, list_min(d)) AS li
          |  FROM (
          |    SELECT vec_id, embedding,
          |      list_transform(range(1, 17),
          |        i -> list_sum(list_transform(range(1, len(embedding) + 1),
          |          j -> (CAST(embedding[j] AS DOUBLE) - c[i][j])
          |             * (CAST(embedding[j] AS DOUBLE) - c[i][j])))) AS d
          |    FROM e, c0)),
          |m1 AS (
          |  SELECT li, pos, sum(xq) AS m, count(*) AS cnt
          |  FROM (
          |    SELECT li, generate_subscripts(embedding, 1) AS pos,
          |      CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1048576.0, 0) AS BIGINT) AS xq
          |    FROM a1 JOIN tr USING (vec_id))
          |  GROUP BY li, pos),
          |c1rows AS (
          |  SELECT li,
          |    list(CAST(CAST(m AS BIGINT) AS DOUBLE)
          |         / (1048576.0 * CAST(cnt AS DOUBLE)) ORDER BY pos) AS cl
          |  FROM m1 GROUP BY li),
          |c1 AS (
          |  SELECT list(coalesce(cr.cl, c0.c[i.i]) ORDER BY i.i) AS c
          |  FROM range(1, 17) i(i) CROSS JOIN c0 LEFT JOIN c1rows cr ON cr.li = i.i),
          |a2 AS (
          |  SELECT vec_id, embedding, list_position(d, list_min(d)) AS li
          |  FROM (
          |    SELECT vec_id, embedding,
          |      list_transform(range(1, 17),
          |        i -> list_sum(list_transform(range(1, len(embedding) + 1),
          |          j -> (CAST(embedding[j] AS DOUBLE) - c[i][j])
          |             * (CAST(embedding[j] AS DOUBLE) - c[i][j])))) AS d
          |    FROM e, c1)),
          |qe AS (
          |  SELECT vec_id,
          |    list_transform(embedding,
          |      x -> CAST(round(CAST(x AS DOUBLE) * 1048576.0, 0) AS BIGINT)) AS q
          |  FROM e),
          |nm AS (
          |  SELECT vec_id, q,
          |    sqrt(CAST(CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS DOUBLE)) AS nrm
          |  FROM qe),
          |pairs AS (
          |  SELECT x.vec_id AS a, y.vec_id AS b,
          |    CAST(CAST(list_sum(list_transform(range(1, len(nx.q) + 1),
          |      j -> nx.q[j] * ny.q[j])) AS BIGINT) AS DOUBLE) / (nx.nrm * ny.nrm) AS cos
          |  FROM a2 x JOIN a2 y ON x.li = y.li AND x.vec_id < y.vec_id
          |  JOIN nm nx ON nx.vec_id = x.vec_id
          |  JOIN nm ny ON ny.vec_id = y.vec_id),
          |q AS (SELECT * FROM pairs WHERE cos >= 0.3),
          |d AS (SELECT b, a, cos,
          |    row_number() OVER (PARTITION BY b ORDER BY a ASC) AS rn,
          |    CAST(count(*) OVER (PARTITION BY b) AS BIGINT) AS n_dups
          |  FROM q)
          |SELECT b AS drop_id, a AS keeper_id, n_dups, cos
          |FROM d WHERE rn = 1 ORDER BY drop_id""".stripMargin
      ),
      doc = "SemDeDup (arXiv:2303.09540): k-means-cluster the " +
        "embeddings, drop every item with a lower-id clustermate at " +
        "cosine >= 0.3 — pairwise work bounded by cluster size, never " +
        "corpus^2; oracle replays both Lloyd iterations AND the drop rule"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_order_iclm",
      covers = "iclm-ordering,ann-ivf,curriculum",
      fn = (s, dir) =>
        graft.similarity.Iclm
          .iclmOrder(table(s, dir, "embeddings"), "vec_id", "embedding",
            nLists = 16, iters = 2, targetCell = 4096)
          .orderBy("cluster", "pos"),
      // Same two-Lloyd-iteration prelude as q_dedup_semantic (c0..a2),
      // then the greedy nearest-neighbor chain per cluster as a
      // recursive LATERAL argmax: every hop maximizes the exact
      // quantized cosine (ties to the smaller id), replaying the
      // engine's per-cluster decision sequence bit for bit.
      //
      // ORACLE VALIDITY BOUND: this replay hardwires 16 lists while
      // the engine auto-splits clusters above targetCell=4096 rows —
      // the two agree only while the embeddings table stays ≤
      // nLists·targetCell = 65,536 rows (true at sf0.001–sf0.1; sf1+
      // splits and the SQL replay diverges BY DESIGN, not engine
      // error — see tools/check_sf10_r10b.sh which excludes it).
      oracle = Some(
        s"""WITH RECURSIVE e AS (SELECT vec_id, embedding FROM embeddings),
          |tr AS (
          |  SELECT vec_id FROM e
          |  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
          |  LIMIT ${graft.similarity.Pq.DefaultTrainCap}),
          |c0 AS (
          |  SELECT list(list_transform(embedding, x -> CAST(x AS DOUBLE)) ORDER BY vec_id) AS c
          |  FROM (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 16)),
          |a1 AS (
          |  SELECT vec_id, embedding, list_position(d, list_min(d)) AS li
          |  FROM (
          |    SELECT vec_id, embedding,
          |      list_transform(range(1, 17),
          |        i -> list_sum(list_transform(range(1, len(embedding) + 1),
          |          j -> (CAST(embedding[j] AS DOUBLE) - c[i][j])
          |             * (CAST(embedding[j] AS DOUBLE) - c[i][j])))) AS d
          |    FROM e, c0)),
          |m1 AS (
          |  SELECT li, pos, sum(xq) AS m, count(*) AS cnt
          |  FROM (
          |    SELECT li, generate_subscripts(embedding, 1) AS pos,
          |      CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1048576.0, 0) AS BIGINT) AS xq
          |    FROM a1 JOIN tr USING (vec_id))
          |  GROUP BY li, pos),
          |c1rows AS (
          |  SELECT li,
          |    list(CAST(CAST(m AS BIGINT) AS DOUBLE)
          |         / (1048576.0 * CAST(cnt AS DOUBLE)) ORDER BY pos) AS cl
          |  FROM m1 GROUP BY li),
          |c1 AS (
          |  SELECT list(coalesce(cr.cl, c0.c[i.i]) ORDER BY i.i) AS c
          |  FROM range(1, 17) i(i) CROSS JOIN c0 LEFT JOIN c1rows cr ON cr.li = i.i),
          |a2 AS (
          |  SELECT vec_id, embedding, list_position(d, list_min(d)) AS li
          |  FROM (
          |    SELECT vec_id, embedding,
          |      list_transform(range(1, 17),
          |        i -> list_sum(list_transform(range(1, len(embedding) + 1),
          |          j -> (CAST(embedding[j] AS DOUBLE) - c[i][j])
          |             * (CAST(embedding[j] AS DOUBLE) - c[i][j])))) AS d
          |    FROM e, c1)),
          |nm AS (
          |  SELECT vec_id, li,
          |    list_transform(embedding,
          |      x -> CAST(round(CAST(x AS DOUBLE) * 1048576.0, 0) AS BIGINT)) AS q,
          |    CAST(list_sum(list_transform(
          |      list_transform(embedding,
          |        x -> CAST(round(CAST(x AS DOUBLE) * 1048576.0, 0) AS BIGINT)),
          |      x -> x * x)) AS BIGINT) AS nsq
          |  FROM a2),
          |chain(li, cur, pos, visited) AS (
          |  SELECT li, min(vec_id), 1, [min(vec_id)] FROM nm GROUP BY li
          |  UNION ALL
          |  SELECT c.li, nxt.vec_id, c.pos + 1, list_append(c.visited, nxt.vec_id)
          |  FROM chain c JOIN LATERAL (
          |    SELECT y.vec_id
          |    FROM nm y, nm x
          |    WHERE x.vec_id = c.cur AND y.li = c.li
          |      AND NOT list_contains(c.visited, y.vec_id)
          |    ORDER BY
          |      CAST(CAST(list_sum(list_transform(range(1, len(x.q) + 1),
          |        j -> x.q[j] * y.q[j])) AS BIGINT) AS DOUBLE)
          |        / (sqrt(CAST(x.nsq AS DOUBLE)) * sqrt(CAST(y.nsq AS DOUBLE))) DESC,
          |      y.vec_id ASC
          |    LIMIT 1) nxt ON TRUE)
          |SELECT CAST(li AS BIGINT) AS cluster, cur AS vec_id,
          |  CAST(pos AS BIGINT) AS pos
          |FROM chain ORDER BY cluster, pos""".stripMargin),
      doc = "in-context pretraining ordering (Shi et al. '24 ICLM): " +
        "k-means cells (the certified ivfBuild machinery) + a greedy " +
        "nearest-neighbor chain per cell over the quantized-exact " +
        "cosine — semantically related docs become ADJACENT, so " +
        "packSequences consuming (cluster, pos) order builds the " +
        "paper's retrieved-context curriculum; O(cell²) dots inside " +
        "one task per cell, never corpus². The oracle replays both " +
        "Lloyd iterations AND every greedy hop (recursive LATERAL " +
        "argmax, ties to smaller id)"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_dedup_representative",
      covers = "dedup-clusters,representative-selection",
      fn = (s, dir) => {
        // keep-the-longest policy over near-dup clusters (slice keeps
        // the uncapped exact-Jaccard oracle join SF-independent)
        val d = table(s, dir, "documents").filter(col("doc_id") < 1000L)
        val clusters = graft.dedup.Dedup
          .jaccardClusters(d, "doc_id", "text",
            n = 3, minJaccard = 0.12, maxDf = Long.MaxValue)
        val scored = d.select(
          col("doc_id"),
          graft.text.TextAnalysis.tokenCountWs(col("text")).as("n_tok"))
        graft.dedup.Dedup
          .clusterRepresentatives(clusters, scored, "doc_id", "n_tok")
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH d AS (SELECT * FROM documents WHERE doc_id < 1000),
          |sh0 AS (
          |  SELECT doc_id,
          |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
          |                   FOR i IN range(1, len(t) - 1)]) AS shs
          |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM d)),
          |sh AS (SELECT doc_id, unnest(shs) AS shingle FROM sh0),
          |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
          |cm AS (
          |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
          |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
          |  GROUP BY x.doc_id, y.doc_id),
          |pairs AS (
          |  SELECT p.a, p.b FROM cm p
          |  JOIN sizes sa ON sa.doc_id = p.a
          |  JOIN sizes sb ON sb.doc_id = p.b
          |  WHERE CAST(p.n_common AS DOUBLE)
          |    / CAST(sa.n_sh + sb.n_sh - p.n_common AS DOUBLE) >= 0.12),
          |edges AS (SELECT a AS src, b AS dst FROM pairs
          |          UNION SELECT b, a FROM pairs),
          |reach AS (
          |  WITH RECURSIVE r(node, mn) AS (
          |    SELECT src, src FROM edges
          |    UNION
          |    SELECT e.dst, r.mn FROM r JOIN edges e ON e.src = r.node
          |  ) SELECT node, min(mn) AS component FROM r GROUP BY node),
          |csize AS (SELECT component, count(*) AS cluster_size
          |          FROM reach GROUP BY component),
          |sc AS (SELECT doc_id,
          |    CAST(length(text) - length(replace(text, ' ', '')) + 1
          |      AS BIGINT) AS n_tok
          |  FROM d),
          |j AS (SELECT s.doc_id, s.n_tok,
          |    coalesce(r.component, s.doc_id) AS component,
          |    CAST(coalesce(c.cluster_size, 1) AS BIGINT) AS cluster_size
          |  FROM sc s
          |  LEFT JOIN reach r ON r.node = s.doc_id
          |  LEFT JOIN csize c ON c.component = r.component)
          |SELECT doc_id, n_tok, component, cluster_size,
          |  row_number() OVER (PARTITION BY component
          |    ORDER BY n_tok DESC, doc_id ASC) = 1 AS is_representative
          |FROM j ORDER BY doc_id""".stripMargin
      ),
      doc = "quality-aware cluster representative: per near-dup " +
        "cluster keep the highest-score member (keep-the-longest " +
        "policy; ties -> min id), singletons self-represent — a total " +
        "keep/drop decision for the corpus; one id join + one " +
        "cluster-sized window"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_url_domain_quota",
      covers = "url-canonicalize,O3,custom-plan",
      fn = (s, dir) => {
        // crawl-policy cap: at most 5 docs per registrable domain,
        // best-first by token count — domainKey composed with the
        // native bounded-heap TopKPerKey operator
        val d = table(s, dir, "documents")
        val url = concat(lit("https://"), col("source"), lit(".org/d/"),
          col("doc_id"))
        val scored = d.select(
          col("doc_id"),
          UrlOps.domainKey(url).as("domain_key"),
          graft.text.TextAnalysis.tokenCountWs(col("text")).as("n_tok"))
        graft.plans.TopKPerKey
          .topKPerKey(scored,
            keyCols = Seq(col("domain_key")),
            orderCols = Seq(col("n_tok").desc, col("doc_id").asc),
            k = 5)
          .orderBy("domain_key", "doc_id")
      },
      oracle = Some(
        """SELECT doc_id, domain_key, n_tok FROM (
          |  SELECT doc_id, source || '.org' AS domain_key,
          |    CAST(length(text) - length(replace(text, ' ', '')) + 1
          |      AS BIGINT) AS n_tok,
          |    row_number() OVER (PARTITION BY source
          |      ORDER BY (length(text) - length(replace(text, ' ', '')) + 1)
          |        DESC, doc_id ASC) AS rn
          |  FROM documents)
          |WHERE rn <= 5 ORDER BY domain_key, doc_id""".stripMargin
      ),
      doc = "per-domain crawl quota: top-5 docs per registrable domain " +
        "by token count — UrlOps.domainKey into the native TopKPerKey " +
        "bounded-heap plan (no per-partition sort, state O(domains*k))"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_gate_ablation",
      covers = "gate-ablation,text-quality-gate",
      fn = (s, dir) =>
        graft.ops.Profile.gateAblation(table(s, dir, "documents"), "text"),
      oracle = Some(
        """WITH c AS (
          |  SELECT doc_id,
          |    len(list_filter(string_split(text,' '),
          |      t -> t IN ('der','die','das','und','ein','eine','von','zu'))) AS s_de,
          |    len(list_filter(string_split(text,' '),
          |      t -> t IN ('the','a','of','and','to','in','is','it'))) AS s_en,
          |    len(list_filter(string_split(text,' '),
          |      t -> t IN ('el','la','de','los','las','un','una','por'))) AS s_es,
          |    len(list_filter(string_split(text,' '),
          |      t -> t IN ('le','la','et','les','des','un','une','du'))) AS s_fr,
          |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS n_cjk,
          |    length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
          |    len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
          |    len(list_filter(string_split(text, ' '),
          |      t -> t IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
          |    CAST(length(replace(text, ' ', '')) AS DOUBLE) AS n_nonspace,
          |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
          |    CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS BIGINT) AS n_sym,
          |    CAST(len(regexp_extract_all(text, '(?:^| )[^ ]*[A-Za-z][^ ]*')) AS BIGINT)
          |      AS n_alpha_words
          |  FROM documents),
          |fl AS (
          |  SELECT doc_id,
          |    (CASE WHEN n_cjk > 0 THEN 'zh'
          |          WHEN s_de = greatest(s_de,s_en,s_es,s_fr)
          |            AND greatest(s_de,s_en,s_es,s_fr) > 0 THEN 'de'
          |          WHEN s_en = greatest(s_de,s_en,s_es,s_fr)
          |            AND greatest(s_de,s_en,s_es,s_fr) > 0 THEN 'en'
          |          WHEN s_es = greatest(s_de,s_en,s_es,s_fr)
          |            AND greatest(s_de,s_en,s_es,s_fr) > 0 THEN 'es'
          |          WHEN s_fr = greatest(s_de,s_en,s_es,s_fr)
          |            AND greatest(s_de,s_en,s_es,s_fr) > 0 THEN 'fr'
          |          ELSE 'und' END) IN ('en','fr','es','de','zh') AS p_lang,
          |    ((CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 2.0
          |      + (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
          |      + CASE WHEN n_nonspace / CAST(n_tokens AS DOUBLE) >= 3.0
          |             AND n_nonspace / CAST(n_tokens AS DOUBLE) <= 10.0
          |             THEN 1.0 ELSE 0.5 END) / 4.0) >= 0.25 AS p_quality,
          |    n_tokens >= 8 AS p_tokens,
          |    (n_tokens >= 50 AND n_tokens <= 100000)
          |      AND (n_chars >= n_tokens * 3 AND n_chars <= n_tokens * 10)
          |      AND (n_sym * 10 <= n_tokens)
          |      AND (n_alpha_words * 5 >= n_tokens * 4)
          |      AND (n_stop >= 2) AS p_gopher
          |  FROM c),
          |w AS (SELECT
          |  CAST(count(*) FILTER (WHERE NOT p_lang) AS BIGINT) AS fail_lang,
          |  CAST(count(*) FILTER (WHERE NOT p_lang AND p_quality AND p_tokens
          |    AND p_gopher) AS BIGINT) AS uniq_lang,
          |  CAST(count(*) FILTER (WHERE NOT p_quality) AS BIGINT) AS fail_quality,
          |  CAST(count(*) FILTER (WHERE NOT p_quality AND p_lang AND p_tokens
          |    AND p_gopher) AS BIGINT) AS uniq_quality,
          |  CAST(count(*) FILTER (WHERE NOT p_tokens) AS BIGINT) AS fail_tokens,
          |  CAST(count(*) FILTER (WHERE NOT p_tokens AND p_lang AND p_quality
          |    AND p_gopher) AS BIGINT) AS uniq_tokens,
          |  CAST(count(*) FILTER (WHERE NOT p_gopher) AS BIGINT) AS fail_gopher,
          |  CAST(count(*) FILTER (WHERE NOT p_gopher AND p_lang AND p_quality
          |    AND p_tokens) AS BIGINT) AS uniq_gopher,
          |  CAST(count(*) FILTER (WHERE p_lang AND p_quality AND p_tokens
          |    AND p_gopher) AS BIGINT) AS pass_all,
          |  CAST(count(*) AS BIGINT) AS n_docs
          | FROM fl)
          |SELECT 'gopher' AS gate, fail_gopher AS n_fail,
          |  uniq_gopher AS n_unique_kill, pass_all, n_docs FROM w
          |UNION ALL SELECT 'lang', fail_lang, uniq_lang, pass_all, n_docs FROM w
          |UNION ALL SELECT 'quality', fail_quality, uniq_quality, pass_all, n_docs FROM w
          |UNION ALL SELECT 'tokens', fail_tokens, uniq_tokens, pass_all, n_docs FROM w
          |ORDER BY gate""".stripMargin
      ),
      doc = "gate ablation report: per-gate fail counts AND unique-kill " +
        "counts (fails this gate, passes every other) — the marginal-" +
        "contribution diagnostic that says which gate to loosen when " +
        "the funnel over-trims; one corpus pass, one wide aggregate " +
        "row stacked per gate, every decision integer/IEEE-exact"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_corpus_report",
      covers = "profiling,data-card",
      fn = (s, dir) =>
        graft.ops.Profile
          .corpusReport(table(s, dir, "documents"), "source", "text", "lang")
          .orderBy("source"),
      oracle = Some(
        """SELECT source,
          |  CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(length(text) - length(replace(text, ' ', '')) + 1)
          |    AS BIGINT) AS n_tokens,
          |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
          |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
          |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
          |  CAST(quantile_disc(length(text) - length(replace(text, ' ', '')) + 1,
          |    0.5) AS BIGINT) AS p50_tok,
          |  CAST(quantile_disc(length(text) - length(replace(text, ' ', '')) + 1,
          |    0.95) AS BIGINT) AS p95_tok,
          |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs
          |FROM documents GROUP BY source ORDER BY source""".stripMargin
      ),
      doc = "per-source corpus data card: volume, exact-dup pressure, " +
        "language spread, exact token-length percentiles — one " +
        "aggregation keyed by source, every metric integer-exact"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_corpus_snapshot_diff",
      covers = "snapshot-diff,dedup-exact",
      fn = (s, dir) => {
        // synthetic prior snapshot: docs %10==0 absent (→ added now),
        // docs %7==0 carried older text (→ changed); current snapshot
        // lost docs %13==0 (→ removed)
        val d = table(s, dir, "documents")
        val oldSnap = d
          .filter(col("doc_id") % 10 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")))
        val newSnap = d.filter(col("doc_id") % 13 =!= 0)
        graft.layout.Layout
          .snapshotDiff(oldSnap, newSnap, "doc_id", "text")
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH o AS (
          |  SELECT doc_id,
          |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END)
          |      AS od
          |  FROM documents WHERE doc_id % 10 <> 0),
          |n AS (
          |  SELECT doc_id, md5(text) AS nd
          |  FROM documents WHERE doc_id % 13 <> 0)
          |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
          |  CASE WHEN o.od IS NULL THEN 'added'
          |       WHEN n.nd IS NULL THEN 'removed'
          |       WHEN o.od = n.nd THEN 'unchanged'
          |       ELSE 'changed' END AS status
          |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
          |ORDER BY doc_id""".stripMargin
      ),
      doc = "corpus snapshot diff: per-id added/removed/changed/" +
        "unchanged between two drops, decided on content digests — " +
        "one full-outer join of (id, digest); text never shuffles"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_corpus_manifest",
      covers = "integrity-manifest,profiling",
      fn = (s, dir) =>
        graft.ops.Profile
          .corpusManifest(table(s, dir, "documents"), "doc_id", "text",
            "source", groupSize = 16)
          .orderBy("source"),
      oracle = Some(
        """WITH leaves AS (
          |  SELECT source AS shard, doc_id, doc_id // 16 AS grp,
          |    md5(CAST(doc_id AS VARCHAR) || ':' || md5(text)) AS leaf,
          |    CAST(length(text) AS BIGINT) AS chars
          |  FROM documents),
          |g AS (
          |  SELECT shard, grp, CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(sum(chars) AS BIGINT) AS n_chars,
          |    md5(string_agg(leaf, '' ORDER BY doc_id)) AS gd
          |  FROM leaves GROUP BY shard, grp),
          |sh AS (
          |  SELECT shard, CAST(sum(n_docs) AS BIGINT) AS n_docs,
          |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
          |    CAST(count(*) AS BIGINT) AS n_groups,
          |    md5(string_agg(gd, '' ORDER BY grp)) AS shard_digest
          |  FROM g GROUP BY shard),
          |r AS (SELECT md5(string_agg(shard_digest, '' ORDER BY shard))
          |        AS root_digest FROM sh)
          |SELECT sh.shard AS source, n_docs, n_chars, n_groups,
          |  shard_digest, root_digest
          |FROM sh CROSS JOIN r ORDER BY source""".stripMargin
      ),
      doc = "Merkle-style corpus integrity manifest: doc leaf digests " +
        "chain into bounded groups (16 here, 1024 in production), " +
        "groups into per-shard digests, shards into one corpus root — " +
        "proves byte-identical content across a migration without " +
        "moving the corpus, and a mismatch localizes to shard then " +
        "group; every buffer is fan-out-bounded, shuffles carry " +
        "digests only"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_source_overlap",
      covers = "source-overlap,profiling,dedup-exact",
      fn = (s, dir) => {
        val d = table(s, dir, "documents")
        // synthetic second crawl: every 5th doc re-collected under a
        // new source label — the "how much of the new crawl is old
        // news" question the matrix answers
        val recrawl = d.filter(col("doc_id") % 5 === 0)
          .withColumn("source", lit("crawl2"))
        graft.ops.Profile
          .sourceOverlapMatrix(d.unionByName(recrawl), "text", "source")
          .orderBy("src_a", "src_b")
      },
      oracle = Some(
        """WITH u AS (
          |  SELECT text, source FROM documents
          |  UNION ALL
          |  SELECT text, 'crawl2' AS source FROM documents
          |  WHERE doc_id % 5 = 0),
          |d AS (SELECT DISTINCT md5(text) AS digest, source AS src FROM u),
          |p AS (
          |  SELECT a.src AS src_a, b.src AS src_b,
          |    CAST(count(*) AS BIGINT) AS shared_digests
          |  FROM d a JOIN d b ON a.digest = b.digest AND a.src < b.src
          |  GROUP BY 1, 2),
          |t AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY src)
          |SELECT p.src_a, p.src_b, p.shared_digests,
          |  ta.n AS digests_a, tb.n AS digests_b
          |FROM p JOIN t ta ON ta.src = p.src_a
          |JOIN t tb ON tb.src = p.src_b
          |ORDER BY src_a, src_b""".stripMargin
      ),
      doc = "cross-source content-overlap matrix: shared distinct " +
        "digests per source pair + per-source totals — the governance " +
        "artifact that drives dedup order and mixing weights; text " +
        "collapses to digests at the scan, the self-join shuffles " +
        "digests only, the matrix is dimension-sized at any corpus " +
        "size"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_url_blocklist",
      covers = "url-blocklist,domain-filter",
      fn = (s, dir) => {
        import s.implicits._
        val d = table(s, dir, "documents")
        // four synthetic sites; ids %7==0 sit at the APEX domain (no
        // subdomain) so both match branches — exact host and
        // lives-under — are exercised against the same blocklist
        val srcNum = expr("CAST(substring(source, 4) AS BIGINT)")
        val url = concat(
          lit("http://"),
          when(col("doc_id") % 7 === 0, lit("")).otherwise(lit("www.")),
          lit("site"), (srcNum % 4).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string"))
        val blocklist = Seq("site0.example.com", "site3.example.com")
          .toDF("domain")
        graft.text.UrlOps
          .blockByDomain(d.select(col("doc_id"), url.as("url")), "url", blocklist)
          .orderBy("doc_id")
      },
      // the oracle replays the SUFFIX semantics, not the fixture's
      // arithmetic: a row dies iff its host equals a blocked domain or
      // ends with "." + one
      oracle = Some(
        """WITH d AS (
          |  SELECT doc_id,
          |    'http://'
          |      || CASE WHEN doc_id % 7 = 0 THEN '' ELSE 'www.' END
          |      || 'site'
          |      || CAST(CAST(substring(source, 4) AS BIGINT) % 4 AS VARCHAR)
          |      || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url
          |  FROM documents),
          |b AS (SELECT unnest(['site0.example.com', 'site3.example.com']) AS domain),
          |h AS (
          |  SELECT doc_id, url,
          |    lower(regexp_extract(url,
          |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)) AS host
          |  FROM d)
          |SELECT doc_id, url FROM h
          |WHERE NOT EXISTS (SELECT 1 FROM b
          |  WHERE h.host = b.domain OR h.host LIKE '%.' || b.domain)
          |ORDER BY doc_id""".stripMargin
      ),
      doc = "domain-blocklist front door: drop every url whose host " +
        "equals or lives under a blocked domain — suffix explode + " +
        "broadcast semi-join (a million-entry blocklist is a " +
        "broadcast table, not a regex union); oracle replays the " +
        "suffix semantics generically"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_dedup_soft_weights",
      covers = "soft-dedup,dedup-exact-normalized,D1",
      fn = (s, dir) => {
        // same duplicate fixture as q_dedup_exact_normalized: every
        // 5th doc gets a trivially-reformatted copy under a shifted id
        // — soft dedup must weight each such pair at 1/2 while every
        // unique doc keeps weight 1
        val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
        val variants = d.filter(col("doc_id") % 5L === 0L)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("  "), upper(col("text")), lit(" !!  ")).as("text"))
        graft.dedup.Dedup
          .softDedupWeights(d.unionByName(variants), "doc_id", "text")
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH u AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000, '  ' || upper(text) || ' !!  '
          |  FROM documents WHERE doc_id % 5 = 0),
          |n AS (SELECT doc_id, text,
          |   trim(regexp_replace(regexp_replace(lower(text),
          |     '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS norm
          | FROM u),
          |k AS (SELECT doc_id,
          |   CASE WHEN norm = '' THEN 'empty:' || CAST(doc_id AS VARCHAR)
          |        ELSE md5(norm) END AS content_key,
          |   CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
          |     AS n_tok
          | FROM n),
          |c AS (SELECT content_key, CAST(count(*) AS BIGINT) AS dup_count
          | FROM k GROUP BY content_key)
          |SELECT k.doc_id, k.content_key, c.dup_count, k.n_tok,
          |  CAST(k.n_tok // c.dup_count AS BIGINT) AS eff_tok,
          |  1.0 / CAST(c.dup_count AS DOUBLE) AS weight
          |FROM k JOIN c USING (content_key)
          |ORDER BY doc_id""".stripMargin
      ),
      doc = "SoftDeDup duplicate reweighting (He et al. '24): keep " +
        "every duplicate but scale its training weight by 1/group " +
        "multiplicity over the normalized-exact key — corpus token " +
        "mass per distinct content collapses to one copy's worth " +
        "without dropping rows; text never shuffles"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_lm_buckets",
      covers = "lm-buckets,text-lm-quality",
      fn = (s, dir) => {
        val d = table(s, dir, "documents")
        // same reference LM as q_text_lm_quality: every 10th document,
        // bigrams kept at count >= 2
        val model = graft.text.TextAnalysis
          .bigramModel(d.filter(col("doc_id") % 10 === 0), "text",
            minCount = 2L)
        graft.text.TextAnalysis
          .lmBuckets(d, "doc_id", "text", "lang", model)
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
          |  GROUP BY b.doc_id),
          |s AS (
          |  SELECT d.doc_id, d.lang,
          |    CAST(length(d.text) - length(replace(d.text, ' ', '')) + 1
          |      AS BIGINT) AS n_tok,
          |    CASE WHEN coalesce(p.n_bigrams, 0) > 0
          |         THEN CAST((coalesce(p.n_hits, 0) * 1000000)
          |                // coalesce(p.n_bigrams, 0) AS BIGINT)
          |         ELSE CAST(0 AS BIGINT) END AS score_key
          |  FROM documents d LEFT JOIN per p USING (doc_id)),
          |c AS (
          |  SELECT doc_id, lang, score_key, n_tok,
          |    CAST(sum(n_tok) OVER (PARTITION BY lang
          |      ORDER BY score_key DESC, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS cum_tok,
          |    CAST(sum(n_tok) OVER (PARTITION BY lang) AS BIGINT) AS lang_tok
          |  FROM s)
          |SELECT doc_id, lang, score_key, n_tok, cum_tok, lang_tok,
          |  CASE WHEN cum_tok * 3 <= lang_tok THEN 'head'
          |       WHEN cum_tok * 3 <= lang_tok * 2 THEN 'middle'
          |       ELSE 'tail' END AS bucket
          |FROM c ORDER BY doc_id""".stripMargin
      ),
      doc = "CCNet head/middle/tail perplexity bucketing (Wenzek et " +
        "al. '20 §4.3): per language, rank best-LM-explained first " +
        "and cut into three equal token-mass buckets — rank key and " +
        "cuts are integer-exact; running mass is the native " +
        "RunningSumExec running sum, never a single-partition window"
    )
  )
}
