package graft.text

import graft.plans.GramHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * language ID, quality scoring, token counting, fingerprinting. All
  * per-row Column compositions (codegen'd, embarrassingly parallel —
  * these scale linearly with data and never shuffle).
  */
object TextAnalysis {

  /** Whitespace token count without materializing the split array:
    * len(text) − len(text without spaces) + 1. O(n) per row, exact for
    * single-space-separated text.
    */
  def tokenCountWs(text: Column): Column =
    (length(text) - length(regexp_replace(text, " ", "")) + 1).cast("long")

  /** BPE-ish pre-tokenizer count: runs of letters, single digits, or
    * single non-alphanumeric marks (the GPT-2 pre-tokenizer shape,
    * simplified to an engine-portable regex).
    */
  val bpeIshPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def tokenCountBpeIsh(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeIshPattern), lit(0))).cast("long")

  /** Stopword profiles for the language-ID heuristic. Tiny on purpose:
    * they ride along as literals into codegen; a production list would
    * broadcast a dictionary instead.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "du"),
    "es" -> Seq("el", "la", "de", "los", "las", "un", "una", "por"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "von", "zu")
  )

  private def tokens(text: Column): Column = split(text, " ")

  /** Count of tokens from `words` present in the text (duplicates
    * count). One compiled loop + hash-set probe per row — the filter()
    * HOF with an isin lambda is interpreted per token, and this runs
    * once per language per document on the curation gate path.
    */
  def stopwordHits(text: Column, words: Seq[String]): Column = {
    val set = words.toSet
    val f = udf { (t: String) =>
      if (t == null) 0L
      else {
        var n = 0L
        var from = 0
        var i = t.indexOf(' ')
        while (i >= 0) {
          if (set.contains(t.substring(from, i))) n += 1
          from = i + 1
          i = t.indexOf(' ', from)
        }
        if (set.contains(t.substring(from))) n += 1
        n
      }
    }
    f(text)
  }

  /** CJK detection: count of codepoints in the unified-ideograph block.
    * One regex scan; no per-char loop.
    */
  def cjkChars(text: Column): Column =
    size(regexp_extract_all(text, lit("[\\x{4e00}-\\x{9fff}]"), lit(0))).cast("long")

  /** N-gram/stopword language-ID heuristic: per-language hit counts,
    * CJK short-circuit, deterministic tie-break in declaration order.
    */
  def langIdScores(text: Column): Seq[(String, Column)] =
    stopwords.toSeq.sortBy(_._1).map { case (l, ws) => l -> stopwordHits(text, ws) }

  def langId(text: Column): Column = {
    val scores = langIdScores(text)
    val best = greatest(scores.map(_._2): _*)
    val pick = scores.foldRight(lit("und")) { case ((l, sc), els) =>
      when(sc === best && best > 0L, lit(l)).otherwise(els)
    }
    when(cjkChars(text) > 0L, lit("zh")).otherwise(pick)
  }

  /** Quality-score components: length, punctuation ratio, stopword
    * ratio, mean word length — the classic cheap text-quality signals
    * (Gopher/C4-style rules, simplified). All ratios are
    * int/int→double: deterministic across engines.
    */
  def qualityComponents(text: Column): Seq[(String, Column)] = {
    val nTok = tokenCountWs(text)
    val nPunct = size(regexp_extract_all(text, lit("[.,!?;:]"), lit(0))).cast("long")
    val nStop = stopwordHits(text, stopwords("en"))
    Seq(
      "n_tokens" -> nTok,
      "n_punct" -> nPunct,
      "n_stop" -> nStop,
      "punct_ratio" -> nPunct.cast("double") / nTok.cast("double"),
      "stop_ratio" -> nStop.cast("double") / nTok.cast("double"),
      "mean_tok_len" ->
        (length(regexp_replace(text, " ", "")).cast("long").cast("double") /
          nTok.cast("double"))
    )
  }

  /** ONE-PASS fused gate signals: (lang_pred, quality, n_tok) from a
    * single walk over the text. The composed column formulation
    * (langId + qualityScore + tokenCountWs) traverses each document
    * ~8× — five stopword probes, two regex scans, two length scans;
    * at corpus scale the gate is a full-table scan and the traversal
    * count is the cost. This UDF reproduces the EXACT same outputs
    * (GateFusionSpec proves per-document equality on the corpus,
    * including the double arithmetic association of qualityScore) in
    * one character pass + one hash probe per token.
    */
  private val gateLangs: Array[String] = stopwords.keys.toArray.sorted // de, en, es, fr
  private val gateEnIdx: Int = gateLangs.indexOf("en")
  private val gateWordMask: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    gateLangs.zipWithIndex.foreach { case (l, i) =>
      stopwords(l).foreach { w =>
        val prev = m.get(w)
        m.put(w, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << i)))
      }
    }
    m
  }

  val gateSignalsUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      // null text: langId's stopwordHits returns 0 for null and the
      // CJK when() falls through → "und"; the numeric columns stay
      // null (boxed types carry the nulls through the struct)
      if (text == null)
        ("und", null.asInstanceOf[java.lang.Double], null.asInstanceOf[java.lang.Long])
      else {
        val len = text.length
        var spaces = 0
        var punct = 0
        var cjk = 0
        val counts = new Array[Int](gateLangs.length)
        var from = 0
        var i = 0
        while (i <= len) {
          val atEnd = i == len
          val ch = if (atEnd) ' ' else text.charAt(i)
          if (!atEnd) {
            if (ch == ' ') spaces += 1
            else {
              if (ch == '.' || ch == ',' || ch == '!' || ch == '?' || ch == ';' || ch == ':')
                punct += 1
              if (ch >= 0x4e00 && ch <= 0x9fff) cjk += 1
            }
          }
          if (atEnd || ch == ' ') {
            val mask = gateWordMask.get(text.substring(from, i))
            if (mask != null) {
              var b = 0
              while (b < counts.length) {
                if ((mask.intValue() & (1 << b)) != 0) counts(b) += 1
                b += 1
              }
            }
            from = i + 1
          }
          i += 1
        }
        val nTok = (spaces + 1).toLong
        // langId: CJK short-circuit, then first (alphabetical) language
        // holding the max hit count, if any hits at all
        var best = 0
        var b = 0
        while (b < counts.length) { if (counts(b) > best) best = counts(b); b += 1 }
        val lang =
          if (cjk > 0) "zh"
          else if (best == 0) "und"
          else gateLangs(counts.indexOf(best))
        // qualityScore, same double association:
        // ((stop*2 + (1 - punct)) + lenOk) / 4
        val nTokD = nTok.toDouble
        val stopRatio = counts(gateEnIdx).toLong.toDouble / nTokD
        val punctRatio = punct.toLong.toDouble / nTokD
        val meanLen = (len - spaces).toLong.toDouble / nTokD
        val lenOk = if (meanLen >= 3.0d && meanLen <= 10.0d) 1.0d else 0.5d
        val quality = (stopRatio * 2.0d + (1.0d - punctRatio) + lenOk) / 4.0d
        (lang, java.lang.Double.valueOf(quality), java.lang.Long.valueOf(nTok))
      }
    }

  /** Attach the fused gate columns (lang_pred, quality, n_tok). */
  def withGateSignals(
      df: DataFrame,
      textCol: String
  ): DataFrame =
    df.withColumn("__gate", gateSignalsUdf(col(textCol)))
      .withColumn("lang_pred", col("__gate._1"))
      .withColumn("quality", col("__gate._2"))
      .withColumn("n_tok", col("__gate._3"))
      .drop("__gate")

  /** Gopher-style quality GATE (Rae et al. '21, Table A1 — the
    * engine-portable subset): word-count bounds, mean-word-length
    * bounds, symbol-to-word ratio cap (#/ellipsis), alphabetic-word
    * fraction floor, minimum stopword hits. Every decision is an
    * INTEGER comparison — ratio thresholds are cross-multiplied
    * (mean_len ≥ 3 becomes n_chars ≥ 3·n_words) so the gate is
    * bit-identical on any engine, with no float anywhere.
    */
  def gopherSignals(
      text: Column,
      minWords: Long = 50L,
      maxWords: Long = 100000L
  ): Seq[(String, Column)] = {
    val nTok = tokenCountWs(text)
    val nChars = length(regexp_replace(text, " ", "")).cast("long")
    val nSym = size(regexp_extract_all(text, lit("#|\\.\\.\\."), lit(0))).cast("long")
    val nAlphaW =
      size(regexp_extract_all(text, lit("(?:^| )[^ ]*[A-Za-z][^ ]*"), lit(0))).cast("long")
    val nStop = stopwordHits(text, stopwords("en"))
    val flags = Seq(
      "words_ok" -> (nTok >= minWords && nTok <= maxWords),
      "mean_len_ok" -> (nChars >= nTok * 3L && nChars <= nTok * 10L),
      "symbol_ok" -> (nSym * 10L <= nTok),
      "alpha_ok" -> (nAlphaW * 5L >= nTok * 4L),
      "stop_ok" -> (nStop >= 2L)
    )
    Seq(
      "n_words" -> nTok,
      "n_chars" -> nChars,
      "n_sym" -> nSym,
      "n_alpha_words" -> nAlphaW,
      "n_stop_hits" -> nStop
    ) ++ flags :+ ("pass_gopher" -> flags.map(_._2).reduce(_ && _))
  }

  /** Composite quality score in [0,1]-ish: rewards stopword presence and
    * moderate token length, penalizes punctuation soup. Pure arithmetic
    * over the components — same expression on the oracle side.
    */
  def qualityScore(text: Column): Column = {
    val comps = qualityComponents(text).toMap
    val stop = comps("stop_ratio")
    val punct = comps("punct_ratio")
    val meanLen = comps("mean_tok_len")
    val lenOk =
      when(meanLen >= 3.0d && meanLen <= 10.0d, 1.0d).otherwise(0.5d)
    (stop * 2.0d + (lit(1.0d) - punct) + lenOk) / 4.0d
  }

  /** PII redaction: emails, phone numbers, IPv4s, URLs → typed
    * placeholder tokens. Portable regexes (same semantics in RE2 and
    * Java regex). Order matters: URLs are redacted BEFORE emails —
    * a credential-style URL (https://user@host/...) contains an
    * email-shaped substring, and replacing that first would mangle the
    * URL into two non-matching halves. The phone pattern requires
    * either an international `+` prefix or a separated 3-3-4 group
    * shape, so bare digit runs (order ids), timestamps (4-2-2), and
    * numeric ranges do not match.
    */
  /** Text normalization for dedup keys and display cleanup: control
    * characters → space, whitespace runs collapsed, trimmed. Explicit
    * byte ranges (not \p classes) so the regex means the same thing in
    * every engine's regex dialect.
    */
  def normalizeWhitespace(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(text, "[\\x00-\\x1F\\x7F]", " "), " {2,}", " "))

  /** The "fuzzy-exact" normalization (RefinedWeb / C4): lowercase,
    * strip ASCII punctuation and symbols — explicit byte ranges
    * !-/ :-@ [-` {-~ (0x21-0x2F, 0x3A-0x40, 0x5B-0x60, 0x7B-0x7E),
    * not \p classes, so the regex means the same thing in every
    * engine's dialect — collapse whitespace runs, trim. The recipe
    * removes punctuation, NOT non-Latin letters: zh/ru/ar text keeps
    * its characters (stripping all non-[a-z0-9] would normalize every
    * non-Latin document to '' and collapse them into one "duplicate"
    * group).
    */
  def normalizedText(text: Column): Column =
    graft.plans.ArrayOps.normalize_text(text)

  /** Digest of [[normalizedText]]: two documents that differ only in
    * case, punctuation, or spacing share a key; real wording changes
    * do not.
    */
  def normalizedDigest(text: Column): Column = md5(normalizedText(text))

  /** C4 line-level cleaning rules (Raffel et al. '20 §2.2, the C4
    * recipe; Dolma ships the same family): keep only lines that
    *  - end in a terminal punctuation mark (. ! ? ") after trimming,
    *  - carry at least `minLineWords` words,
    *  - do not mention "javascript" (the boilerplate tell);
    * then gate the whole page:
    *  - at least `minKeptLines` surviving lines,
    *  - no "lorem ipsum", no '{' anywhere in the original text.
    *
    * Returns (idCol, clean_text [newline-joined survivors], n_lines,
    * n_kept, page_kept). Pure per-row column HOFs — no shuffle, no
    * UDF; every predicate is an exact string/integer decision so the
    * whole recipe replays in SQL.
    */
  def c4LineFilters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLineWords: Int = 3,
      minKeptLines: Int = 3
  ): DataFrame = {
    val keepLine = (l: Column) => {
      val t = trim(l)
      length(t) >= 1 &&
        t.substr(length(t), lit(1)).isin(".", "!", "?", "\"") &&
        size(split(t, " ")) >= minLineWords &&
        !lower(t).contains("javascript")
    }
    val keptArr = filter(transform(split(col(textCol), "\n"), l => trim(l)), keepLine)
    df.withColumn("__c4_kept", keptArr)
      .select(
        col(idCol),
        array_join(col("__c4_kept"), "\n").as("clean_text"),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"),
        size(col("__c4_kept")).cast("long").as("n_kept"),
        (size(col("__c4_kept")) >= minKeptLines &&
          !lower(col(textCol)).contains("lorem ipsum") &&
          !col(textCol).contains("{")).as("page_kept"))
  }

  val emailRx = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipRx = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRx = "\\+\\d[\\d -]{7,14}\\d|\\(?\\d{3}\\)?[ -]\\d{3}[ -]\\d{4}"
  val urlRx = "https?://[^\\s]+"

  def redactPii(text: Column): Column = {
    val u = regexp_replace(text, urlRx, "<URL>")
    val e = regexp_replace(u, emailRx, "<EMAIL>")
    val i = regexp_replace(e, ipRx, "<IP>")
    regexp_replace(i, phoneRx, "<PHONE>")
  }

  /** Email count is taken over the text with URLs blanked first, so an
    * email-shaped substring inside a URL's userinfo is not double-
    * counted as an email.
    */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_email" -> size(regexp_extract_all(
      regexp_replace(text, urlRx, " "), lit(emailRx), lit(0))).cast("long"),
    "n_url" -> size(regexp_extract_all(text, lit(urlRx), lit(0))).cast("long"),
    "n_ip" -> size(regexp_extract_all(text, lit(ipRx), lit(0))).cast("long")
  )

  /** Token-bounded document chunking with overlap: doc → ⌈n/stride⌉
    * chunks of ≤ maxTokens whitespace tokens, consecutive chunks
    * sharing `overlap` tokens (stride = maxTokens − overlap). Pure
    * per-row HOF — 1→N without a shuffle.
    */
  def chunkByTokens(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      maxTokens: Int,
      overlap: Int = 0
  ): org.apache.spark.sql.DataFrame = {
    require(maxTokens > overlap && overlap >= 0, "need maxTokens > overlap >= 0")
    val stride = maxTokens - overlap
    // ONE compiled loop per document (split once, StringBuilder per
    // chunk) — ~4× the interpreted transform/slice/concat_ws HOF chain
    // it replaces at sf0.1 (MicroBench A-B, NOTES.md); output is
    // field-for-field identical, including the HOF chain's null-text row
    // (chunk_idx 0, chunk '', n_tok null) and its ceil/clamp shapes.
    val chunkUdf = udf { (text: String) =>
      if (text == null) Array((0L, "", null: java.lang.Long))
      else {
        val toks = text.split(" ", -1)
        val n = math.max(1,
          math.ceil((toks.length - overlap).toDouble / stride).toInt)
        val out = new Array[(Long, String, java.lang.Long)](n)
        var i = 0
        while (i < n) {
          val from = i * stride
          val until = math.min(toks.length, from + maxTokens)
          val sb = new java.lang.StringBuilder(256)
          var j = from
          while (j < until) { if (j > from) sb.append(' '); sb.append(toks(j)); j += 1 }
          out(i) = (i.toLong, sb.toString,
            java.lang.Long.valueOf(math.min(toks.length - from, maxTokens).toLong))
          i += 1
        }
        out
      }
    }
    df.select(col(idCol), explode(chunkUdf(col(textCol))).as("c"))
      .select(
        col(idCol),
        col("c._1").as("chunk_idx"),
        col("c._2").as("chunk"),
        col("c._3").as("n_tok")
      )
  }

  /** Concat-then-split sequence packing: order documents
    * deterministically (idCol must be a unique ordering key), lay their
    * token counts end-to-end, and assign every document its
    * [start, end) offset in the global token stream plus the
    * training-sequence ids it lands in (seqLen-sized bins).
    *
    * `start_off` is the global running sum of `n_tok` in id order
    * ([[graft.ops.GlobalSeq.withRunningSum]]): a range exchange on id
    * plus the native running-sum exec — never a corpus-wide
    * single-partition window. The returned frame is lazy and needs no
    * cache for correctness: the exec reads its partition sums and its
    * output from one child RDD, so the offsets never depend on where
    * the sampled range boundaries fall, and every evaluation — a
    * recompute included — yields the same offsets. Callers cache it
    * only when several consumers read it.
    */
  def packSequences(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      seqLen: Long
  ): org.apache.spark.sql.DataFrame =
    graft.ops.GlobalSeq
      .withRunningSum(
        df.select(col(idCol), tokenCountWs(col(textCol)).as("n_tok")),
        Seq(col(idCol)), col("n_tok"), "start_off")
      .withColumn("end_off", col("start_off") + col("n_tok"))
      .withColumn("first_seq", expr(s"start_off div $seqLen"))
      .withColumn("last_seq", expr(s"(end_off - 1) div $seqLen"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)

  /** Word n-grams of one document as one compiled loop per row (HOF
    * transform/slice/concat_ws chains are interpreted). Emits the n-gram
    * STRINGS (joined with ' ') so both engines of an oracle pair can
    * agree on the values; `distinct` dedupes per document. At corpus
    * scale prefer joining on hashes of these (GramHash.shingle_hashes).
    */
  def ngramsUdf(n: Int, distinct: Boolean)
      : org.apache.spark.sql.expressions.UserDefinedFunction = udf {
    (text: String) =>
      if (text == null) Array.empty[String]
      else {
        val toks = text.split(" ", -1)
        if (toks.length < n) Array.empty[String]
        else {
          val m = toks.length - n + 1
          val out = new Array[String](m)
          val sb = new java.lang.StringBuilder(64)
          var i = 0
          while (i < m) {
            sb.setLength(0)
            var j = 0
            while (j < n) {
              if (j > 0) sb.append(' ')
              sb.append(toks(i + j))
              j += 1
            }
            out(i) = sb.toString
            i += 1
          }
          if (distinct) out.distinct else out
        }
      }
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * n-gram with a benchmark/eval set — the standard guard against
    * test-set leakage into training data. The benchmark side is tiny
    * (an eval suite), so its distinct n-grams broadcast; the corpus
    * side explodes its distinct n-grams once and counts matches per
    * document. Returns (id, n_shared, contaminated).
    */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int
  ): DataFrame = {
    // the match runs on 64-bit FNV gram hashes (round 16 — the LM-tally
    // layout): the corpus side never BUILDS a gram string per position,
    // broadcast probe keys are 8 bytes, and the eval-suite side hashes
    // its distinct gram strings once (suite-sized). shingle_hashes =
    // distinct sorted FNV hashes, value-identical to fnv64 of the
    // ngramsUdf strings; an aliasing collision (~n²/2^64) is the same
    // vanishing perturbation class every shingle-hash path carries.
    // The REPORT face keeps strings — the shared gram is its OUTPUT.
    val grams = ngramsUdf(n, distinct = true)
    val benchGrams = benchmark
      .select(explode(grams(col(textCol))).as("gram"))
      .select(GramHash.fnv64(col("gram")).as("__gh"))
      .distinct()
    val hits = corpus
      .select(col(idCol),
        explode(GramHash.shingle_hashes(col(textCol), n)).as("__gh"))
      .join(broadcast(benchGrams), Seq("__gh"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shared"))
    corpus
      .select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("contaminated", col("n_shared") > 0L)
  }

  /** The AUDIT face of [[decontaminate]]: per (corpus doc, benchmark
    * item) pair, how many distinct n-grams they share and the
    * lexicographically-first shared gram — the concrete evidence row
    * a contamination report cites (WHICH eval item leaked into WHICH
    * doc, with a quotable n-gram), where [[decontaminate]] only
    * answers "is this doc dirty". Same broadcast shape: the eval
    * suite's (bench_id, gram) pairs broadcast, the corpus explodes
    * its distinct grams once, and only matching pairs reach the
    * aggregate.
    */
  def decontaminationReport(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int
  ): DataFrame = {
    val grams = ngramsUdf(n, distinct = true)
    val benchGrams = benchmark
      .select(col(idCol).as("bench_id"), explode(grams(col(textCol))).as("gram"))
      .distinct()
    corpus
      .select(col(idCol), explode(grams(col(textCol))).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"))
      .groupBy(col(idCol), col("bench_id"))
      .agg(
        count(lit(1)).as("n_shared"),
        min(col("gram")).as("first_shared_gram"))
  }

  /** FUZZY benchmark decontamination: flag corpus documents whose
    * shingle-set Jaccard with ANY benchmark/eval item reaches
    * `minJaccard` — the near-duplicate guard that catches lightly
    * paraphrased or reformatted eval leakage the exact n-gram face
    * ([[decontaminate]]) misses. Engine: the incremental MinHash-LSH
    * machinery ([[graft.dedup.Dedup.minHashLshPairsAgainst]]) with the
    * benchmark as the "history" side — corpus docs never pair with
    * each other, only with eval items, so the work is corpus-bands ×
    * bench-bands bucket joins (the eval suite is tiny), never an
    * all-pairs scan. Candidates are exact-Jaccard verified before any
    * doc is flagged.
    *
    * Returns one row per corpus doc: (id, n_bench_matches,
    * max_jaccard, contaminated). max_jaccard is order-independent
    * (the max of per-pair doubles each computed identically on every
    * engine), so the whole face is oracle-checkable.
    */
  def decontaminateFuzzy(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.5
  ): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, max}
    val pairs = graft.dedup.Dedup.minHashLshPairsAgainst(
      corpus, benchmark, idCol, textCol, n, bands, rowsPerBand, minJaccard)
    val hits = pairs
      .groupBy(col("new_id").as(idCol))
      .agg(
        count(lit(1)).as("n_bench_matches"),
        max(col("jaccard")).as("max_jaccard"))
    corpus
      .select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_bench_matches", coalesce(col("n_bench_matches"), lit(0L)))
      .withColumn("max_jaccard", coalesce(col("max_jaccard"), lit(0.0d)))
      .withColumn("contaminated", col("n_bench_matches") > 0L)
  }

  /** Reference bigram LM counts: (bigram, c2) with multiplicity over
    * the reference corpus, pruned by minCount (Zipf concentration
    * makes the pruned model orders of magnitude smaller than its V²
    * worst case). One explode + one count shuffle over the reference.
    */
  def bigramModel(
      reference: DataFrame,
      textCol: String,
      minCount: Long = 1L
  ): DataFrame =
    reference
      .select(explode(ngramsUdf(2, distinct = false)(col(textCol))).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)

  /** CCNet-style LM quality filter (Wenzek et al. '20, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): score each document by how well a reference language
    * model explains it, keep the well-explained ones. CCNet ranks by
    * KenLM 5-gram perplexity; the engine ships the relational core
    * against a bigram counts model — the per-document hit/OOV tally
    * is integer-exact up to ~n²/2^64 FNV hash aliasing (the join runs
    * on 64-bit gram hashes; a collision between two distinct model
    * bigrams would inflate the tally — the same vanishing perturbation
    * class every shingle-hash path carries) and the keep decision
    * cross-multiplies (n_hits·1000 ≥ n_bigrams·minHitPermille), so no
    * float reaches the gate. A float mean log-probability over hit bigrams rides
    * along for perplexity-style ranking; any (bigram, c2) relation —
    * e.g. a dumped KenLM vocabulary — plugs in unchanged.
    *
    * The model broadcasts when it fits (reference corpora prune to
    * ~10⁷ rows at minCount cutoffs); pass broadcastModel = false to
    * shuffle-join a huge model instead. The normalizing total is one
    * scalar aggregate (metadata, like IVF centroids).
    */
  def lmQuality(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame,
      minHitPermille: Int = 500,
      broadcastModel: Boolean = true
  ): DataFrame = {
    // the join runs on 64-bit FNV gram hashes, not gram strings: the
    // corpus side never BUILDS a string per bigram position (measured
    // half the tally at sf0.1 — NOTES.md r15: 0.85 → 0.41 s), join keys
    // are 8 bytes, and the model side hashes once (model-sized). Hash
    // layout matches hashing the ngramsUdf string (GramHashesExpr doc);
    // an aliasing collision (~n²/2^64) is the same vanishing
    // perturbation class every shingle-hash path carries.
    // c2 widened to long: the broadcast path reads it with getLong
    val hashedModel = model.select(
      GramHash.fnv64(col("bigram")).as("__gh"), col("c2").cast("long").as("c2"))
    // ONE model scan (round 16): the normalizing total used to be a
    // separate scalar aggregate over the model subtree, so the model
    // evaluated twice per call. When the model broadcasts (the default)
    // the hashed rows are collected ONCE — exactly the rows the
    // broadcast exchange would pull to the driver anyway — the total
    // sums locally from them, and the join builds its broadcast from
    // the local relation. The shuffle-join posture (huge models) keeps
    // the two-pass form: collecting would defeat its purpose.
    val (m, total) =
      if (broadcastModel) {
        val rows = hashedModel.collect()
        var t = 0L
        rows.foreach(r => if (!r.isNullAt(1)) t += r.getLong(1))
        val local = docs.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), hashedModel.schema)
        (broadcast(local), t.max(1L).toDouble)
      } else {
        val t =
          model.agg(sum(col("c2"))).collect()(0).getLong(0).max(1L).toDouble
        (hashedModel, t)
      }
    val perDoc = docs
      .select(
        col(idCol),
        explode(GramHash.gram_hashes(col(textCol), 2)).as("__gh"))
      .join(m, Seq("__gh"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_bigrams"),
        count(col("c2")).as("n_hits"),
        avg(when(col("c2").isNotNull,
          log(col("c2").cast("double") / lit(total)))).as("mean_logp")
      )
    docs
      .select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("n_oov", col("n_bigrams") - col("n_hits"))
      .withColumn(
        "keep",
        col("n_bigrams") > 0L &&
          col("n_hits") * 1000L >= col("n_bigrams") * minHitPermille.toLong)
  }

  /** CCNet head/middle/tail perplexity bucketing (Wenzek et al. '20
    * §4.3): per language, rank documents best-explained-first by the
    * reference LM and cut the ranking into three buckets of equal
    * TOKEN MASS — "head" is the best-explained third of the language's
    * tokens, "tail" the worst. CCNet ranks by KenLM perplexity; the
    * engine ranks by the integer hit-rate key
    * score_key = (n_hits * 10^6) div n_bigrams from [[lmQuality]]'s
    * tally (monotone in hit rate, float-free — determinism rule 8),
    * ties broken by id, so the ENTIRE bucket assignment is
    * integer-exact and oracle-checkable. A document whose token span
    * crosses a cut lands in the bucket of its END offset, so head and
    * middle each hold at most ⌈mass/3⌉ tokens.
    *
    * Scale: the per-language running token mass is ONE global running
    * sum of n_tok over (lang, -score, id)
    * ([[graft.ops.GlobalSeq.withRunningSum]]: a range exchange plus the
    * native running-sum exec) — never a single-partition window over a
    * language's full corpus. Each language's rows are contiguous in
    * that order, so one aggregate per language (min of the sum = the
    * tokens of the languages before it, max of the sum plus n_tok =
    * its end) broadcasts back each language's base and total. CCNet
    * itself pays this same per-language global sort; nothing wider
    * than (id, lang, two longs) ever shuffles.
    *
    * Returns one row per document:
    * (idCol, langCol, score_key, n_tok, cum_tok, lang_tok, bucket).
    */
  def lmBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      model: DataFrame,
      broadcastModel: Boolean = true
  ): DataFrame = {
    val tally = lmQuality(docs, idCol, textCol, model,
      broadcastModel = broadcastModel)
      .select(col(idCol), col("n_bigrams"), col("n_hits"))
    val scored = docs
      .select(col(idCol), col(langCol), tokenCountWs(col(textCol)).as("n_tok"))
      .join(tally, Seq(idCol))
      .withColumn("score_key",
        when(col("n_bigrams") > 0L,
          expr("CAST((n_hits * CAST(1000000 AS BIGINT)) div n_bigrams AS BIGINT)"))
          .otherwise(lit(0L)))
    val summed = graft.ops.GlobalSeq
      .withRunningSum(scored, Seq(col(langCol), -col("score_key"), col(idCol)),
        col("n_tok"), "__before")
      .cache()
    // one row per language — metadata at any corpus size
    val langs = summed
      .groupBy(col(langCol))
      .agg(min(col("__before")).as("__base"),
        max(col("__before") + col("n_tok")).as("__end"))
    val out = summed
      .join(broadcast(langs), Seq(langCol))
      .withColumn("cum_tok", col("__before") + col("n_tok") - col("__base"))
      .withColumn("lang_tok", col("__end") - col("__base"))
      .withColumn("bucket",
        when(col("cum_tok") * 3 <= col("lang_tok"), lit("head"))
          .when(col("cum_tok") * 3 <= col("lang_tok") * 2, lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col(langCol), col("score_key"), col("n_tok"),
        col("cum_tok"), col("lang_tok"), col("bucket"))
    val res = out.cache()
    res.count()
    summed.unpersist()
    res
  }

  /** Gopher-style repetition metrics per document: distinct-token
    * ratio and the fraction of all word bigrams taken by the single
    * most frequent bigram. Ratios are long/long→double (exact, engine
    * portable). One explode + two aggregations keyed by doc id.
    */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val g2 = df.select(col(idCol),
      explode(ngramsUdf(2, distinct = false)(col(textCol))).as("g2"))
    val perGram = g2.groupBy(idCol, "g2").agg(count(lit(1)).as("c"))
    val rep = perGram
      .groupBy(idCol)
      .agg(sum(col("c")).as("n_2gram"), max(col("c")).as("top_2gram_n"))
    df.select(
        col(idCol),
        tokenCountWs(col(textCol)).as("n_tok"),
        size(array_distinct(split(col(textCol), " "))).cast("long")
          .as("n_distinct_tok")
      )
      .join(rep, Seq(idCol))
      .withColumn(
        "distinct_tok_ratio",
        col("n_distinct_tok").cast("double") / col("n_tok").cast("double"))
      .withColumn(
        "top_2gram_ratio",
        col("top_2gram_n").cast("double") / col("n_2gram").cast("double"))
  }

  /** Per-row repetition signals — the SHUFFLE-FREE face of
    * [[repetitionMetrics]] (whose explode+groupBy formulation stays as
    * the oracle face): one compiled pass per document computing
    * (n_tok, n_distinct_tok, n_2gram, top_2gram_n) with a local hash
    * map. Identical tokenization to [[ngramsUdf]] (split(" ", -1)), so
    * the two faces agree exactly (spec-pinned). Per-row means it runs
    * in the streaming funnel too.
    */
  val repetitionSignalsUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) (0L, 0L, 0L, 0L)
      else {
        val toks = text.split(" ", -1)
        val distinct = new java.util.HashSet[String]()
        var i = 0
        while (i < toks.length) { distinct.add(toks(i)); i += 1 }
        var n2 = 0L
        var top = 0L
        if (toks.length >= 2) {
          val counts = new java.util.HashMap[String, Integer]()
          i = 0
          while (i < toks.length - 1) {
            val g = toks(i) + " " + toks(i + 1)
            val c = counts.merge(g, Integer.valueOf(1), (a, b) => a + b)
            if (c.intValue > top) top = c.intValue.toLong
            n2 += 1
            i += 1
          }
        }
        (toks.length.toLong, distinct.size.toLong, n2, top)
      }
    }

  /** Gopher repetition KEEP decision from the per-row signals, as pure
    * integer cross-multiplication (no float touches the gate):
    * top-2gram fraction ≤ maxTop2gramPermille/1000 AND distinct-token
    * fraction ≥ minDistinctPermille/1000. Docs with < 2 tokens have no
    * 2-grams and pass the 2-gram rule vacuously.
    */
  def repetitionKeep(
      text: Column,
      maxTop2gramPermille: Int = 200,
      minDistinctPermille: Int = 300): Column = {
    val s = repetitionSignalsUdf(text)
    val nTok = s.getField("_1")
    val nDistinct = s.getField("_2")
    val n2 = s.getField("_3")
    val top = s.getField("_4")
    (top * 1000L <= n2 * maxTop2gramPermille.toLong) &&
      (nDistinct * 1000L >= nTok * minDistinctPermille.toLong)
  }

  /** The COMPLETE Gopher repetition table (Rae et al. '21 App. A1.1;
    * the same suite Dolma/DataTrove ship): per document,
    *  - for n ∈ {2,3,4}: characters inside the MOST FREQUENT n-gram
    *    (occurrences × gram string length; tie → lexicographically
    *    smallest gram, so the pick is deterministic and replayable);
    *  - for n ∈ {5..10}: characters inside tokens covered by ANY
    *    duplicated n-gram (per-doc count ≥ 2), each token counted
    *    ONCE however many duplicated grams overlap it (the paper's
    *    coverage-marking semantics). Coverage chars count token
    *    characters only, not joining spaces (documented deviation:
    *    the paper counts raw text chars; token-chars is the same
    *    monotone signal and stays integer-portable).
    * All outputs are longs — the gate thresholds divide them as
    * cross-multiplied integers downstream. ONE compiled pass per row
    * over a per-doc hash map, zero shuffle.
    */
  val gopherNgramSignalsUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) {
        (0L, 0L, Seq(0L, 0L, 0L), Seq(0L, 0L, 0L, 0L, 0L, 0L))
      } else {
        val toks = text.split(" ", -1)
        var nChars = 0L
        var i = 0
        while (i < toks.length) { nChars += toks(i).length; i += 1 }
        // top-gram chars for n = 2..4
        val top = (2 to 4).map { n =>
          if (toks.length < n) 0L
          else {
            val counts = new java.util.HashMap[String, Integer]()
            var j = 0
            while (j <= toks.length - n) {
              val sb = new java.lang.StringBuilder(toks(j))
              var k = 1
              while (k < n) { sb.append(' ').append(toks(j + k)); k += 1 }
              counts.merge(sb.toString, Integer.valueOf(1), (a, b) => a + b)
              j += 1
            }
            var bestGram: String = null
            var bestN = 0
            counts.forEach { (g, c) =>
              if (c > bestN || (c == bestN && (bestGram == null || g.compareTo(bestGram) < 0))) {
                bestGram = g; bestN = c
              }
            }
            bestN.toLong * bestGram.length
          }
        }
        // duplicated-gram token coverage for n = 5..10
        val dup = (5 to 10).map { n =>
          if (toks.length < n) 0L
          else {
            val counts = new java.util.HashMap[String, Integer]()
            val grams = new Array[String](toks.length - n + 1)
            var j = 0
            while (j <= toks.length - n) {
              val sb = new java.lang.StringBuilder(toks(j))
              var k = 1
              while (k < n) { sb.append(' ').append(toks(j + k)); k += 1 }
              grams(j) = sb.toString
              counts.merge(grams(j), Integer.valueOf(1), (a, b) => a + b)
              j += 1
            }
            val covered = new Array[Boolean](toks.length)
            j = 0
            while (j <= toks.length - n) {
              if (counts.get(grams(j)).intValue >= 2) {
                var k = 0
                while (k < n) { covered(j + k) = true; k += 1 }
              }
              j += 1
            }
            var chars = 0L
            j = 0
            while (j < toks.length) {
              if (covered(j)) chars += toks(j).length
              j += 1
            }
            chars
          }
        }
        (nChars, toks.length.toLong, top, dup)
      }
    }

  /** [[gopherNgramSignalsUdf]] unpacked to one long column per signal:
    * (idCol, n_chars, n_tok, top2_chars, top3_chars, top4_chars,
    * dup5_chars .. dup10_chars).
    */
  def gopherRepetitionSignals(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String
  ): org.apache.spark.sql.DataFrame = {
    val s = gopherNgramSignalsUdf(col(textCol))
    val base = df.select(col(idCol), s.as("__s"))
    val topCols = (2 to 4).zipWithIndex.map { case (n, i) =>
      col("__s._3").getItem(i).as(s"top${n}_chars")
    }
    val dupCols = (5 to 10).zipWithIndex.map { case (n, i) =>
      col("__s._4").getItem(i).as(s"dup${n}_chars")
    }
    base.select(
      col(idCol) +: col("__s._1").as("n_chars") +: col("__s._2").as("n_tok") +:
        (topCols ++ dupCols): _*)
  }

  /** Deterministic fill-in-the-middle transform (Bavarian et al. '22,
    * "Efficient Training of Language Models to Fill in the Middle" —
    * the code-corpus preprocessing op): with salted-hash probability
    * ≈ (hexThresh4+1)/65536, a document is split at two hash-derived
    * character positions into (prefix, middle, suffix) and re-emitted
    * in PSM order `preTok·prefix·sufTok·suffix·midTok·middle` (the
    * StarCoder/SantaCoder sentinel layout); other documents pass
    * through unchanged. Every decision — the apply flag and both cut
    * points — is a pure function of (salt, id), so the transform is
    * reproducible across runs, engines, and partitionings (the
    * Sampling.saltedHex discipline), and the whole op is one
    * codegen'd per-row projection with zero shuffle.
    *
    * Cut points are uniform over 0..len inclusive (either span may be
    * empty, per the paper). Returns (idCol, fim_applied, cut_lo,
    * cut_hi, fim_text); cuts are null on pass-through rows.
    *
    * `mode` selects the sentinel layout: "psm" (default) emits
    * preTok·prefix·sufTok·suffix·midTok·middle; "spm" emits the
    * paper's joined suffix-prefix-middle variant
    * preTok·sufTok·suffix·midTok·prefix·middle (App. D — prefix and
    * middle concatenate with no sentinel between, which is what lets
    * an inference server reuse the suffix KV cache).
    */
  def fimTransform(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      salt: String = "fim",
      hexThresh4: String = "7fff",
      preTok: String = "<fim_prefix>",
      sufTok: String = "<fim_suffix>",
      midTok: String = "<fim_middle>",
      mode: String = "psm"
  ): org.apache.spark.sql.DataFrame = {
    require(mode == "psm" || mode == "spm", s"fim mode must be psm|spm, got $mode")
    val id = col(idCol)
    val text = col(textCol)
    val len = length(text).cast("long")
    def cut(sub: String) =
      conv(substring(Sampling.saltedHex(salt + sub, id), 1, 8), 16, 10)
        .cast("long") % (len + 1L)
    val u1 = cut("c1")
    val u2 = cut("c2")
    val lo = least(u1, u2)
    val hi = greatest(u1, u2)
    val flag = Sampling.sampleFlag(salt, id, hexThresh4)
    val prefix = text.substr(lit(1L), lo)
    val middle = text.substr(lo + 1L, hi - lo)
    val suffix = text.substr(hi + 1L, len - hi)
    val psm =
      if (mode == "psm")
        concat(lit(preTok), prefix, lit(sufTok), suffix, lit(midTok), middle)
      else
        concat(lit(preTok), lit(sufTok), suffix, lit(midTok), prefix, middle)
    df.select(
      id,
      flag.as("fim_applied"),
      when(flag, lo).cast("long").as("cut_lo"),
      when(flag, hi).cast("long").as("cut_hi"),
      when(flag, psm).otherwise(text).as("fim_text"))
  }

  /** Deterministic span-corruption transform (Raffel et al. '20 §3.1.4
    * — the T5/UL2 denoising objective's data-preprocessing op): mask
    * `nSpans` non-overlapping token spans with `<extra_id_k>` sentinels
    * and emit the (input, target) pair — input keeps the unmasked
    * tokens with sentinels in place of each span, target is the
    * sentinel-delimited span contents.
    *
    * Every decision is a pure function of (salt, id): the token
    * sequence is cut into `nSpans` equal strata (integer floor bounds
    * b_k = n·k/nSpans), and within stratum k the span start is
    * b_k + H(salt·"s"·k, id) mod w_k and its length
    * 1 + H(salt·"l"·k, id) mod min(maxSpanTokens, e_k − start) — spans
    * are confined to their stratum, so they can never overlap, and the
    * whole construction replays bit-identically on any md5-capable
    * engine (the [[Sampling.saltedHex]] discipline). A stratum with no
    * tokens (doc shorter than nSpans) contributes nothing. One
    * codegen'd per-row projection over the token array; zero shuffle —
    * at 100 TB this runs at scan speed next to the parquet read.
    *
    * Returns (idCol, n_spans, masked_tokens, input_text, target_text).
    */
  def spanCorrupt(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      salt: String = "spanc",
      nSpans: Int = 3,
      maxSpanTokens: Int = 4
  ): org.apache.spark.sql.DataFrame = {
    require(nSpans >= 1 && maxSpanTokens >= 1, "nSpans/maxSpanTokens >= 1")
    val id = col(idCol)
    // null text behaves as "" (the Bpe.encode convention)
    val toks = split(coalesce(col(textCol), lit("")), " ")
    val n = size(toks).cast("long")
    def h(sub: String) =
      conv(substring(Sampling.saltedHex(salt + sub, id), 1, 8), 16, 10)
        .cast("long")
    // per-stratum (start, len); len = 0 marks an empty stratum so the
    // prevEnd recurrence stays uniform (s = b = e there)
    // Column./ is double division; floor() restores the integer floor
    // bound exactly (token counts are far below 2^52)
    def stratum(k: Int) = floor(n * k / nSpans).cast("long")
    val spans = (0 until nSpans).map { k =>
      val b = stratum(k)
      val e = stratum(k + 1)
      val w = e - b
      val s = when(w > 0L, b + h(s"s$k") % w).otherwise(b)
      val cap = least(lit(maxSpanTokens.toLong), e - s)
      val l = when(w > 0L, lit(1L) + h(s"l$k") % cap).otherwise(lit(0L))
      (s, l)
    }
    def sent(k: Int) = s"<extra_id_$k>"
    val emptyArr = array().cast("array<string>")
    def seg(fromEnd: Column, to: Column) =
      slice(toks, (fromEnd + 1L).cast("int"), (to - fromEnd).cast("int"))
    // input: seg_0 · sent_0 · seg_1 · sent_1 · … · tail
    var prevEnd: Column = lit(0L)
    val inputParts = scala.collection.mutable.ArrayBuffer.empty[Column]
    val targetParts = scala.collection.mutable.ArrayBuffer.empty[Column]
    spans.zipWithIndex.foreach { case ((s, l), k) =>
      inputParts += seg(prevEnd, s)
      inputParts += when(l > 0L, array(lit(sent(k)))).otherwise(emptyArr)
      targetParts += when(l > 0L, array(lit(sent(k)))).otherwise(emptyArr)
      targetParts += slice(toks, (s + 1L).cast("int"), l.cast("int"))
      prevEnd = s + l
    }
    inputParts += seg(prevEnd, n)
    val nApplied =
      spans.map { case (_, l) => when(l > 0L, 1L).otherwise(0L) }
        .reduce(_ + _).cast("long")
    val masked = spans.map(_._2).reduce(_ + _).cast("long")
    df.select(
      id,
      nApplied.as("n_spans"),
      masked.as("masked_tokens"),
      array_join(concat(inputParts.toSeq: _*), " ").as("input_text"),
      array_join(concat(targetParts.toSeq: _*), " ").as("target_text"))
  }

  /** Full-width → half-width folding (the NFKC subset multilingual
    * web cleaning actually needs: CJK pages mix full-width ASCII
    * forms U+FF01..U+FF5E and the ideographic space U+3000 into
    * otherwise-Latin runs, which breaks tokenization, langid stopword
    * matching, and exact dedup keys). One translate() over the
    * 95-char mapping — codegen'd, zero shuffle, and exactly
    * replayable on any engine with the same mapping (unlike a full
    * ICU NFKC pass, whose tables differ by version).
    */
  def foldWidth(text: Column): Column = {
    val full = (0xFF01 to 0xFF5E).map(_.toChar).mkString + '　'
    val half = (0x21 to 0x7E).map(_.toChar).mkString + ' '
    translate(text, full, half)
  }

  /** Context-length truncation (head-keep): cap every document at
    * `maxTokens` whitespace tokens, reporting how many were cut — the
    * standard preprocessing guard before packing/batching against a
    * model's context window. Pure per-row projection, zero shuffle.
    * Returns (idCol, n_cut, text_trunc).
    */
  def truncateTokens(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      maxTokens: Int
  ): org.apache.spark.sql.DataFrame = {
    require(maxTokens >= 1, "maxTokens >= 1")
    val text = coalesce(col(textCol), lit(""))
    val toks = split(text, " ")
    val n = size(toks)
    df.select(
      col(idCol),
      greatest(n - maxTokens, lit(0)).cast("long").as("n_cut"),
      when(n <= maxTokens, text)
        .otherwise(array_join(slice(toks, 1, maxTokens), " "))
        .as("text_trunc"))
  }

  /** Dolma-style wordlist taggers (Soldaini et al. '24 §3 — the
    * "taggers" stage: per-document hit counts against categorized
    * lexicons, e.g. toxicity / adult / quality wordlists; downstream
    * gates threshold on hit RATE, which stays an integer
    * cross-multiplication since n_tok rides along).
    *
    * Matching is case-folded exact-token against a broadcast
    * (term, tag) lexicon — unmatched tokens die at the hash join
    * beside the scan, so only hit rows (corpus-sparse) ever shuffle;
    * the aggregation is keyed by (doc, tag). Emits one row per
    * (idCol, tag) WITH hits; zero-hit docs are absent by design
    * (left-join at the gate if presence is needed).
    */
  def wordlistTags(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      lexicon: org.apache.spark.sql.DataFrame // (term, tag), terms lowercase
  ): org.apache.spark.sql.DataFrame = {
    val toks = df.select(
      col(idCol),
      size(split(col(textCol), " ")).cast("long").as("n_tok"),
      explode(split(col(textCol), " ")).as("w"))
    toks
      // a duplicated lexicon row would double-count hits — dedupe
      .join(broadcast(lexicon.distinct()), lower(col("w")) === col("term"))
      .groupBy(col(idCol), col("tag"), col("n_tok"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col(idCol), col("tag"), col("n_hits"), col("n_tok"))
  }

  /** Rare-token suppression ("UNK-thresholding" / vocabulary
    * k-anonymity): replace every token whose corpus document frequency
    * is below `minDf` with `unkTok`. The classic count-LM vocabulary
    * cut (tokens seen in < k docs become <unk>) doubling as a privacy
    * mitigation — one-document-only identifiers (account numbers,
    * emails that slipped the regex redactor, secrets) cannot survive
    * into the training set, complementing pattern-based PII redaction
    * with a statistical backstop.
    *
    * Shape: the corpus-wide df aggregation shuffles (token-digest,
    * doc) pairs — 16-byte digests, never text; rare positions come
    * back per doc as a bounded int list, and the rewrite is a per-row
    * transform after ONE id-keyed graft join. Returns (idCol,
    * n_masked, clean_text).
    */
  def unkRareTokens(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      minDf: Long = 2L,
      unkTok: String = "<unk>"
  ): org.apache.spark.sql.DataFrame = {
    // null text behaves as "" (explode would otherwise drop the doc
    // from the df table while the graft join still emits its row)
    val toks = split(coalesce(col(textCol), lit("")), " ")
    val exploded = df
      .select(col(idCol), posexplode(toks).as(Seq("pos", "w")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        md5(col("w")).as("d"))
    val dfreq = exploded.groupBy("d")
      .agg(countDistinct(col(idCol)).as("df_docs"))
    val rarePos = exploded
      .join(dfreq.filter(col("df_docs") < minDf), Seq("d"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__mask_pos"))
    val mask = coalesce(col("__mask_pos"), array().cast("array<bigint>"))
    df.join(rarePos, Seq(idCol), "left")
      .select(
        col(idCol),
        size(mask).cast("long").as("n_masked"),
        array_join(
          transform(toks, (t, i) =>
            when(array_contains(mask, i.cast("long")), lit(unkTok))
              .otherwise(t)),
          " ").as("clean_text"))
  }

  /** Corpus vocabulary with document frequencies: one explode +
    * two-level aggregation; the shuffle carries (token) pairs only.
    */
  def vocabulary(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token")
      .agg(
        count(lit(1)).as("tf_corpus"),
        countDistinct(col(idCol)).as("df_docs")
      )

  /** TF-IDF per (doc, term): tf = in-doc count, idf = ln(N/df).
    * Counts are integer-exact; the idf log makes scores float — the
    * oracle-checked query therefore exposes the counts and leaves the
    * final multiply to the caller.
    */
  def tfIdf(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    val toks = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df_docs"))
    val n = df.select(countDistinct(col(idCol)).as("n_docs"))
    tf.join(broadcast(dfreq), Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn(
        "tfidf",
        col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df_docs").cast("double"))
      )
  }

  /** Polynomial rolling-hash document fingerprint (Karp-Rabin over UTF-8
    * bytes, base 257 mod 2^61−1). Pure Scala for flatMap/Dataset use and
    * property tests; the SQL-checkable fingerprint op uses md5 instead
    * (see DedupQueries) because char-fold order is awkward to mirror in
    * portable SQL.
    */
  val FpMod: Long = 1000000007L
  val FpBase: Long = 257L

  def rollingHash(s: String): Long = {
    var h = 0L
    var i = 0
    val bytes = s.getBytes("UTF-8")
    while (i < bytes.length) {
      // h < p < 2^30, so h*257 + 255 < 2^39 — no overflow.
      h = (h * FpBase + (bytes(i) & 0xffL)) % FpMod
      i += 1
    }
    h
  }

  /** Per-gram md5 for the winnowing hot loops (30M+ grams at sf10):
    * pure-ASCII text — the overwhelmingly common case — encodes to
    * UTF-8 ONCE and each gram hashes a slice of the shared buffer,
    * which is byte-identical to hashing `substring(i, i+k).getBytes`
    * (every char is one byte) while skipping the two per-gram
    * allocations + copies. Any non-ASCII char falls back to the
    * substring encode, preserving exact byte semantics for multi-byte
    * chars AND unpaired surrogates (which String.getBytes replaces —
    * a slice of the whole-text encoding would differ there).
    */
  private def mkGramHasher(text: String, k: Int): Int => Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var ascii = true
    var p = 0
    while (ascii && p < text.length) {
      if (text.charAt(p) >= 0x80) ascii = false
      p += 1
    }
    val asciiBytes = if (ascii) text.getBytes("UTF-8") else null
    i => {
      md.reset()
      if (asciiBytes != null) md.update(asciiBytes, i, k)
      else md.update(text.substring(i, i + k).getBytes("UTF-8"))
      md.digest()
    }
  }

  /** Per-document winnowing selection as ONE compiled loop: md5 every
    * char k-gram (MessageDigest — bit-identical to SQL md5 on the same
    * UTF-8 bytes), take the min hex of each window of w consecutive
    * grams (full windows only), dedupe. Selection is document-LOCAL,
    * so doing it in-row removes the posexplode and both window
    * shuffles the relational formulation needs (~10×). O(m·w) min
    * scan — w is small by construction.
    */
  def winnowUdf(k: Int, w: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = udf {
    (text: String) =>
      if (text == null || text.length < k) Array.empty[String]
      else {
        val gramMd5 = mkGramHasher(text, k)
        val m = text.length - k + 1
        val hs = new Array[String](m)
        val hexChars = "0123456789abcdef".toCharArray
        var i = 0
        while (i < m) {
          val d = gramMd5(i)
          val sb = new Array[Char](32)
          var j = 0
          while (j < 16) {
            sb(2 * j) = hexChars((d(j) >> 4) & 0xf)
            sb(2 * j + 1) = hexChars(d(j) & 0xf)
            j += 1
          }
          hs(i) = new String(sb)
          i += 1
        }
        if (m < w) Array.empty[String]
        else {
          val sel = new java.util.LinkedHashSet[String]()
          var s = 0
          while (s <= m - w) {
            var best = hs(s)
            var j = s + 1
            while (j < s + w) {
              if (hs(j).compareTo(best) < 0) best = hs(j)
              j += 1
            }
            sel.add(best)
            s += 1
          }
          sel.toArray(new Array[String](sel.size))
        }
      }
  }


  /** [[winnowUdf]] with 64-bit NUMERIC prints: the selected
    * fingerprint is the first 8 md5 bytes as an unsigned little-endian
    * 64-bit value (= DuckDB `md5_number_upper(gram)` exactly), chosen
    * by UNSIGNED window-min. For the pair-detection face the print is
    * only ever compared for equality and df-capped, so any injective
    * truncation both engines apply identically is lossless — and an
    * 8-byte long print cuts the fingerprint relation (30M+ rows at
    * sf10, the face's dominant cache/shuffle/join payload) to ~1/4 the
    * bytes of the 32-char hex form. 2^64 print space keeps collisions
    * negligible at the 10^8-doc design point (and an engine/oracle
    * collision is shared — both sides still agree row-for-row).
    */
  def winnowLongUdf(k: Int, w: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = udf {
    (text: String) =>
      if (text == null || text.length < k) Array.empty[Long]
      else {
        val gramMd5 = mkGramHasher(text, k)
        val m = text.length - k + 1
        val hs = new Array[Long](m)
        var i = 0
        while (i < m) {
          val d = gramMd5(i)
          var l = 0L
          var b = 7
          while (b >= 0) { l = (l << 8) | (d(b) & 0xffL); b -= 1 }
          hs(i) = l
          i += 1
        }
        if (m < w) Array.empty[Long]
        else {
          val sel = new java.util.LinkedHashSet[java.lang.Long]()
          var st = 0
          while (st <= m - w) {
            var best = hs(st)
            var j = st + 1
            while (j < st + w) {
              if (java.lang.Long.compareUnsigned(hs(j), best) < 0) best = hs(j)
              j += 1
            }
            sel.add(best)
            st += 1
          }
          val out = new Array[Long](sel.size)
          val it = sel.iterator()
          var o = 0
          while (it.hasNext) { out(o) = it.next(); o += 1 }
          out
        }
      }
  }

  /** The selected winnowing fingerprint set, one (id, wm) row per
    * selected hash — the shared substrate of the per-doc rollup and
    * the pair detector.
    */
  def winnowFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int
  ): DataFrame =
    df.select(col(idCol), explode(winnowUdf(k, w)(col(textCol))).as("wm"))

  /** Relational winnowing (Schleimer et al. SIGMOD'03) with md5 gram
    * hashes — the oracle-checkable formulation: md5 is identical in
    * every engine and the window-min over hex strings is a plain
    * lexicographic min. Per document: hash every char k-gram, take the
    * min hash of each window of w consecutive grams (full windows
    * only), dedupe — the selected set is the document fingerprint.
    * Output: (id, n_fp, min_fp, max_fp). The Scala `winnow` below is
    * the faster scale path (rolling hash, no per-gram md5).
    */
  def winnowRelational(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int
  ): DataFrame = {
    val agg = winnowFingerprints(df, idCol, textCol, k, w)
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_fp"),
        min(col("wm")).as("min_fp"),
        max(col("wm")).as("max_fp")
      )
    df.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .withColumn("n_fp", coalesce(col("n_fp"), lit(0L)))
  }

  /** Shared-substring near-dup pairs (Lee et al. '22-style detection
    * surface): documents sharing ≥ minShared winnowing fingerprints.
    * Same inverted-index shape as n-gram Jaccard — fingerprints whose
    * document frequency exceeds maxDf are dropped (boilerplate
    * substrings carry no dedup signal and their join fan-out is df²).
    */
  def winnowPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int,
      minShared: Long,
      maxDf: Long = 1000L
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // 64-bit numeric prints (winnowLongUdf): the fingerprint relation
    // is the face's dominant payload (30M+ rows at sf10), and an
    // 8-byte key moves ~1/4 the bytes of the 32-char hex form through
    // the df-cap sort, the cache, and the pair self-join. One-pass
    // plan shape (measured against a groupBy+semi-join df-cap, which
    // double-materializes the stream and re-times 2.5x WORSE at sf10):
    // window count per wm, filter, cache the survivors, self-join —
    // the cached frame keeps the window's hash(wm) partitioning, so
    // the self-join adds no exchange.
    val sel = df
      .select(col(idCol), explode(winnowLongUdf(k, w)(col(textCol))).as("wm"))
    val rare = sel
      .withColumn("df", count(lit(1)).over(Window.partitionBy("wm")))
      .filter(col("df") <= maxDf)
      .drop("df")
      .cache()
    val a = rare.select(col(idCol).as("a"), col("wm"))
    val b = rare.select(col(idCol).as("b"), col("wm"))
    val pairs = a
      .join(b, Seq("wm"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= minShared)
    val out = pairs.cache()
    out.count()
    rare.unpersist()
    out
  }

  /** Winnowing fingerprints: rolling hash over every k-gram (chars),
    * keep the minimum hash in each window of w consecutive k-grams —
    * the standard winnowing scheme (Schleimer, Wilkerson, Aiken,
    * SIGMOD'03). Returns distinct selected hashes.
    */
  def winnow(s: String, k: Int = 8, w: Int = 4): Seq[Long] = {
    if (s.length < k) return Seq(rollingHash(s))
    val grams = s.sliding(k).map(rollingHash).toArray
    if (grams.length <= w) return Seq(grams.min)
    grams.sliding(w).map(_.min).toSeq.distinct
  }
}
