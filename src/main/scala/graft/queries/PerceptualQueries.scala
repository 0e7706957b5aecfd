package graft.queries

import graft.core.Graft.table
import graft.dedup.Dedup
import graft.multimodal.PerceptualHash
import graft.plans.ScriptCounts.script_counts
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Perceptual-identity + curation-planning operators:
  *
  *  - image near-dup dedup via 64-bit dHash over the REAL decode path
  *    (the LAION/DataComp front door), sharing the text SimHash family's
  *    Manku Hamming-join machinery;
  *  - audio fingerprinting (frame-energy delta hash — the
  *    chromaprint-shaped invariant: gain scaling preserves the print);
  *  - Unicode-script histograms (native codegen expression) for
  *    multilingual routing ahead of langid;
  *  - curriculum ordering (stage by quality, deterministic shuffle
  *    within stage — two GlobalSeq range exchanges at any scale,
  *    never a single-reducer window);
  *  - the MinHash-LSH banding planner (threshold → (bands, rows)).
  *
  * Every face is integer/string-exact end to end, so all five are
  * fully DuckDB-oracle-checked under the QueryDef determinism rules.
  */
object PerceptualQueries {

  private val stripePngUdf =
    udf { (id: Long) => PerceptualHash.fixtureStripePng(id) }

  /** Marker-guarded parquet materialization of the stripe-PNG payload
    * table `(doc_id, payload)` — the IMAGE-CORPUS stand-in the dHash
    * family reads. PNG ENCODING is fixture synthesis (building the
    * corpus), not operator work, so it runs once per (documents
    * vintage) here and the timed queries measure what the operator
    * actually costs at scale: parquet scan → decode → dHash → band
    * join. Same pattern as [[LayoutQueries.compactionFixture]]:
    * signature = documents.parquet listing, stale fixture rebuilt,
    * `fn` self-prepares so Verify/QTime stay correct standalone.
    */
  private[graft] def payloadFixture(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    FixtureCache.payloadParquet(s, dir, "stripepng") {
      table(s, dir, "documents")
        .select(col("doc_id"))
        .withColumn("payload", stripePngUdf(col("doc_id")))
    }

  /** The fixture image corpus as a DataFrame (self-preparing). */
  private def payloads(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    s.read.parquet(payloadFixture(s, dir))

  /** Mixed-script BMP literal fragments shared between the Spark query
    * and the oracle SQL (embedded verbatim in both — no chr()
    * construction, which Spark truncates to one byte).
    */
  private val frags = Seq(
    "привет мир",   // Cyrillic
    "中文处理",      // Han
    "αβγδε",        // Greek
    "مرحبا",        // Arabic
    "שלום",         // Hebrew
    "नमस्ते",        // Devanagari
    "한국어",        // Hangul
    "カタカナかな"    // Kana
  )

  val defs: Seq[QueryDef] = Seq(
    // ----------------------------------------------------------------
    QueryDef(
      "q_mm_dhash",
      covers = "multimodal-phash",
      fn = (s, dir) => {
        // REAL pixel path end to end: deterministic striped PNG
        // (javax.imageio encoder) → decode → 9×8 nearest-sample integer
        // dHash. The oracle predicts all 64 bits arithmetically from
        // the fixture recipe, so a decode, channel-order, or grid-math
        // bug cannot pass.
        val d = payloads(s, dir)
        PerceptualHash
          .imageHashes(d, "doc_id", "payload")
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH fx AS (
          |  SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS j,
          |    9 + (doc_id // 3) % 24 AS w, 8 + (doc_id // 3) % 11 AS h
          |  FROM documents),
          |samp AS (
          |  SELECT f.doc_id, f.g, f.j, cy.cy, cx.cx,
          |    (((cx.cx * f.w) // 9) * 8) // f.w AS sx,
          |    (((cy.cy * f.h) // 8) * 8) // f.h AS sy
          |  FROM fx f CROSS JOIN range(0, 8) cy(cy) CROSS JOIN range(0, 9) cx(cx)),
          |v AS (
          |  SELECT doc_id, cy, cx,
          |    16 + (g * 37 + sx * 73 + sy * 41
          |      + (g // 7392) * (sx * 59 + sy * 17 + sx * sy * 29)) % 224 + j
          |      + CASE WHEN j = 2 AND sx = 3 AND sy = 3 THEN 5 ELSE 0 END AS v
          |  FROM samp),
          |bits AS (
          |  SELECT a.doc_id, a.cy, a.cx,
          |    CASE WHEN a.v < b.v THEN 1 ELSE 0 END AS bit
          |  FROM v a JOIN v b ON a.doc_id = b.doc_id AND a.cy = b.cy
          |    AND b.cx = a.cx + 1
          |  WHERE a.cx < 8),
          |hh AS (
          |  SELECT doc_id,
          |    sum(CASE WHEN bit = 1
          |        THEN CAST(1 AS HUGEINT) << CAST(cy * 8 + cx AS INTEGER)
          |        ELSE CAST(0 AS HUGEINT) END) AS uh
          |  FROM bits GROUP BY doc_id)
          |SELECT doc_id,
          |  CAST(CASE WHEN uh >= CAST(1 AS HUGEINT) << 63
          |       THEN uh - 18446744073709551616 ELSE uh END AS BIGINT) AS phash
          |FROM hh ORDER BY doc_id""".stripMargin
      ),
      doc = "64-bit perceptual image hash (nearest-sample dHash) over " +
        "REAL decoded pixels — every bit an integer luma comparison " +
        "the oracle predicts from the striped-fixture recipe; per-row " +
        "work behind the codec boundary, payloads never shuffle",
      prepare = Some((s, d) => { payloadFixture(s, d); () })
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_mm_dhash_neardup",
      covers = "multimodal-neardup-dedup",
      fn = (s, dir) => {
        // Near-dup IMAGE pairs: three payload-distinct variants per
        // fixture group (uniform +1 luma shift hashes IDENTICALLY;
        // the j=2 variant perturbs one stripe → a genuine ≤7-bit
        // neighbor) through the SHARED Manku Hamming join. The oracle
        // replays the complete-cover pair set with a pigeonhole
        // 8×8-bit banding — both covers are complete, so the pair sets
        // agree exactly.
        val d = payloads(s, dir)
        PerceptualHash
          .nearDupImagePairs(d, "doc_id", "payload", maxHamming = 7)
          .orderBy("a", "b")
      },
      oracle = Some(
        """WITH fx AS (
          |  SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS j,
          |    9 + (doc_id // 3) % 24 AS w, 8 + (doc_id // 3) % 11 AS h
          |  FROM documents),
          |samp AS (
          |  SELECT f.doc_id, f.g, f.j, cy.cy, cx.cx,
          |    (((cx.cx * f.w) // 9) * 8) // f.w AS sx,
          |    (((cy.cy * f.h) // 8) * 8) // f.h AS sy
          |  FROM fx f CROSS JOIN range(0, 8) cy(cy) CROSS JOIN range(0, 9) cx(cx)),
          |v AS (
          |  SELECT doc_id, cy, cx,
          |    16 + (g * 37 + sx * 73 + sy * 41
          |      + (g // 7392) * (sx * 59 + sy * 17 + sx * sy * 29)) % 224 + j
          |      + CASE WHEN j = 2 AND sx = 3 AND sy = 3 THEN 5 ELSE 0 END AS v
          |  FROM samp),
          |bits AS (
          |  SELECT a.doc_id, a.cy, a.cx,
          |    CASE WHEN a.v < b.v THEN 1 ELSE 0 END AS bit
          |  FROM v a JOIN v b ON a.doc_id = b.doc_id AND a.cy = b.cy
          |    AND b.cx = a.cx + 1
          |  WHERE a.cx < 8),
          |hh AS (
          |  SELECT doc_id,
          |    sum(CASE WHEN bit = 1
          |        THEN CAST(1 AS HUGEINT) << CAST(cy * 8 + cx AS INTEGER)
          |        ELSE CAST(0 AS HUGEINT) END) AS uh
          |  FROM bits GROUP BY doc_id),
          |hs AS (
          |  SELECT doc_id, uh,
          |    CAST(CASE WHEN uh >= CAST(1 AS HUGEINT) << 63
          |         THEN uh - 18446744073709551616 ELSE uh END AS BIGINT) AS fps
          |  FROM hh),
          |banded AS (
          |  SELECT doc_id, fps, c,
          |    CAST((uh >> CAST(c * 8 AS INTEGER)) & 255 AS BIGINT) AS key
          |  FROM hs CROSS JOIN range(0, 8) r(c))
          |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
          |  CAST(bit_count(xor(x.fps, y.fps)) AS BIGINT) AS hamming
          |FROM banded x JOIN banded y ON x.c = y.c AND x.key = y.key
          |  AND x.doc_id < y.doc_id
          |WHERE bit_count(xor(x.fps, y.fps)) <= 7
          |ORDER BY a, b""".stripMargin
      ),
      doc = "Image near-dup dedup: real decode → dHash → the SAME " +
        "Manku combinatorial-blocking Hamming join the text SimHash " +
        "path uses (hammingPairs64) — only 8-byte fingerprints " +
        "shuffle; the oracle replays an independent complete cover",
      prepare = Some((s, d) => { payloadFixture(s, d); () })
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_mm_dhash_incremental",
      covers = "multimodal-neardup-dedup,T2",
      fn = (s, dir) => {
        // refresh shape for the IMAGE family: the new batch
        // (doc_id%3==0 — every group's j=0 variant) hashes and joins
        // against the standing history (j=1,2) with NO
        // history-internal pairwork — the same T2 story
        // q_dedup_minhash_incremental certifies for text, now on the
        // perceptual fingerprint. j=0 must find its identical-hash
        // j=1 sibling and its ≤7-bit j=2 neighbor in every group.
        val d = payloads(s, dir)
        PerceptualHash
          .nearDupImagePairsAgainst(
            d.filter(col("doc_id") % 3L === 0L),
            d.filter(col("doc_id") % 3L =!= 0L),
            "doc_id", "payload", maxHamming = 7)
          .orderBy("new_id", "hist_id")
      },
      // the neardup oracle's complete-cover replay with the final
      // join re-shaped new×history (no a<b; both slices of the same
      // fingerprint relation)
      oracle = Some(
        """WITH fx AS (
          |  SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS j,
          |    9 + (doc_id // 3) % 24 AS w, 8 + (doc_id // 3) % 11 AS h
          |  FROM documents),
          |samp AS (
          |  SELECT f.doc_id, f.g, f.j, cy.cy, cx.cx,
          |    (((cx.cx * f.w) // 9) * 8) // f.w AS sx,
          |    (((cy.cy * f.h) // 8) * 8) // f.h AS sy
          |  FROM fx f CROSS JOIN range(0, 8) cy(cy) CROSS JOIN range(0, 9) cx(cx)),
          |v AS (
          |  SELECT doc_id, cy, cx,
          |    16 + (g * 37 + sx * 73 + sy * 41
          |      + (g // 7392) * (sx * 59 + sy * 17 + sx * sy * 29)) % 224 + j
          |      + CASE WHEN j = 2 AND sx = 3 AND sy = 3 THEN 5 ELSE 0 END AS v
          |  FROM samp),
          |bits AS (
          |  SELECT a.doc_id, a.cy, a.cx,
          |    CASE WHEN a.v < b.v THEN 1 ELSE 0 END AS bit
          |  FROM v a JOIN v b ON a.doc_id = b.doc_id AND a.cy = b.cy
          |    AND b.cx = a.cx + 1
          |  WHERE a.cx < 8),
          |hh AS (
          |  SELECT doc_id,
          |    sum(CASE WHEN bit = 1
          |        THEN CAST(1 AS HUGEINT) << CAST(cy * 8 + cx AS INTEGER)
          |        ELSE CAST(0 AS HUGEINT) END) AS uh
          |  FROM bits GROUP BY doc_id),
          |hs AS (
          |  SELECT doc_id, uh,
          |    CAST(CASE WHEN uh >= CAST(1 AS HUGEINT) << 63
          |         THEN uh - 18446744073709551616 ELSE uh END AS BIGINT) AS fps
          |  FROM hh),
          |banded AS (
          |  SELECT doc_id, fps, c,
          |    CAST((uh >> CAST(c * 8 AS INTEGER)) & 255 AS BIGINT) AS key
          |  FROM hs CROSS JOIN range(0, 8) r(c))
          |SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS hist_id,
          |  CAST(bit_count(xor(x.fps, y.fps)) AS BIGINT) AS hamming
          |FROM banded x JOIN banded y ON x.c = y.c AND x.key = y.key
          |  AND x.doc_id % 3 = 0 AND y.doc_id % 3 <> 0
          |WHERE bit_count(xor(x.fps, y.fps)) <= 7
          |ORDER BY new_id, hist_id""".stripMargin
      ),
      doc = "Incremental image near-dup (refresh shape): new batch " +
        "dHashes × standing history via the cross-shape Manku " +
        "Hamming join (hammingPairsAgainst64) — no history-internal " +
        "pairwork, only 8-byte fingerprints shuffle; the T2 " +
        "resumability story for the perceptual family, oracle = " +
        "independent complete cover restricted to cross pairs",
      prepare = Some((s, d) => { payloadFixture(s, d); () })
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_audio_fingerprint",
      covers = "audio-fingerprint,G7",
      fn = (s, dir) => {
        // Chromaprint-shaped audio identity: per-user waveform (the
        // q_s9 PCM16 quantization — integer-exact in both engines),
        // 4-sample frame energies, fingerprint bit f = energy rises
        // f→f+1. A 3× gain copy scales every energy by 9 exactly, so
        // the print is provably gain-invariant — the scale_invariant
        // column CHECKS it per row. All-HOF column chain: codegen'd,
        // zero extra shuffles beyond the one groupBy.
        val e = table(s, dir, "events")
          .filter(col("user_id") % 5 === 0)
          .groupBy("user_id")
          .agg(sort_array(collect_list(struct(col("event_id"), col("value"))))
            .as("evs"))
          .select(col("user_id"),
            expr("transform(evs, e -> CAST(floor(e.value / 1000.0 * 32767.0 + 0.5) AS BIGINT))")
              .as("q"))
          .withColumn("nf", (size(col("q")) / 4).cast("long"))
        def energies(scale: Int) =
          s"""CASE WHEN size(q) div 4 < 1 THEN CAST(array() AS ARRAY<BIGINT>)
             |ELSE transform(sequence(1, size(q) div 4),
             |  f -> aggregate(slice(q, (f - 1) * 4 + 1, 4), 0L,
             |         (a, x) -> a + (x * $scale) * (x * $scale))) END""".stripMargin
        def fp(eCol: String) =
          s"""CASE WHEN size($eCol) < 2 THEN 0L
             |ELSE aggregate(sequence(0, least(size($eCol) - 2, 63)), 0L,
             |  (acc, f) -> acc + IF(element_at($eCol, f + 2) > element_at($eCol, f + 1),
             |                       shiftleft(1L, f), 0L)) END""".stripMargin
        e.withColumn("e1", expr(energies(1)))
          .withColumn("e3", expr(energies(3)))
          .withColumn("fp", expr(fp("e1")))
          .withColumn("fp3", expr(fp("e3")))
          .select(
            col("user_id"),
            col("nf").as("n_frames"),
            col("fp"),
            (col("fp") === col("fp3")).as("scale_invariant"),
            count(lit(1)).over(Window.partitionBy(col("fp")))
              .cast("long").as("fp_group_size"))
          .orderBy("user_id")
      },
      oracle = Some(
        """WITH e AS (
          |  SELECT user_id, event_id,
          |    CAST(floor(value / 1000.0 * 32767.0 + 0.5) AS BIGINT) AS q,
          |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS rn
          |  FROM events WHERE user_id % 5 = 0),
          |n AS (SELECT user_id, count(*) // 4 AS nf FROM e GROUP BY user_id),
          |fr AS (
          |  SELECT e.user_id, e.rn // 4 AS f,
          |    sum(e.q * e.q) AS en1, sum((3 * e.q) * (3 * e.q)) AS en3
          |  FROM e JOIN n ON e.user_id = n.user_id
          |  WHERE e.rn // 4 < n.nf
          |  GROUP BY e.user_id, e.rn // 4),
          |bits AS (
          |  SELECT user_id, f,
          |    CASE WHEN lead(en1) OVER (PARTITION BY user_id ORDER BY f) > en1
          |         THEN 1 ELSE 0 END AS b1,
          |    CASE WHEN lead(en3) OVER (PARTITION BY user_id ORDER BY f) > en3
          |         THEN 1 ELSE 0 END AS b3
          |  FROM fr),
          |fps AS (
          |  SELECT user_id,
          |    sum(CASE WHEN b1 = 1 AND f <= 63
          |        THEN CAST(1 AS HUGEINT) << CAST(f AS INTEGER)
          |        ELSE CAST(0 AS HUGEINT) END) AS u1,
          |    sum(CASE WHEN b3 = 1 AND f <= 63
          |        THEN CAST(1 AS HUGEINT) << CAST(f AS INTEGER)
          |        ELSE CAST(0 AS HUGEINT) END) AS u3
          |  FROM bits GROUP BY user_id),
          |outt AS (
          |  SELECT n.user_id, n.nf,
          |    CAST(CASE WHEN coalesce(u1, 0) >= CAST(1 AS HUGEINT) << 63
          |         THEN u1 - 18446744073709551616
          |         ELSE coalesce(u1, 0) END AS BIGINT) AS fp,
          |    (coalesce(u1, 0) = coalesce(u3, 0)) AS scale_invariant
          |  FROM n LEFT JOIN fps ON n.user_id = fps.user_id)
          |SELECT user_id, CAST(nf AS BIGINT) AS n_frames, fp, scale_invariant,
          |  CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS fp_group_size
          |FROM outt ORDER BY user_id""".stripMargin
      ),
      doc = "Audio fingerprint: PCM16-quantized frame energies, delta-" +
        "sign hash (chromaprint shape), per-row gain-invariance proof " +
        "(3× copy prints identically) and fingerprint grouping — " +
        "integer-exact, HOF-codegen'd, one groupBy shuffle"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_script_detect",
      covers = "text-script-detect",
      fn = (s, dir) => {
        // per-doc mixed-script synthesis: real corpus text + two BMP
        // literal fragments selected by doc_id (shared verbatim with
        // the oracle), classified by the NATIVE script_counts
        // expression (codepoint iteration — surrogate-safe, unlike a
        // charAt loop).
        val d = table(s, dir, "documents")
        val fragArr = array(frags.map(lit): _*)
        val synth = concat(
          col("text"), lit(" "),
          element_at(fragArr, (col("doc_id") % 8 + 1).cast("int")), lit(" "),
          element_at(fragArr, ((col("doc_id") / 8) % 8 + 1).cast("int")))
        val names = Seq("n_latin", "n_cyrillic", "n_greek", "n_arabic",
          "n_hebrew", "n_devanagari", "n_cjk", "n_hangul", "n_digit",
          "n_space", "n_other")
        val withCounts = d
          .select(col("doc_id"), script_counts(synth).as("sc"))
        val unpacked = names.zipWithIndex.foldLeft(withCounts) {
          case (df, (n, i)) =>
            df.withColumn(n, element_at(col("sc"), i + 1))
        }
        unpacked
          .withColumn("dominant_class",
            (array_position(col("sc"), array_max(col("sc"))) - 1).cast("long"))
          .drop("sc")
          .orderBy("doc_id")
      },
      oracle = Some {
        val fragList = frags.map(f => s"'$f'").mkString("[", ", ", "]")
        s"""WITH f AS (SELECT $fragList AS fr),
           |synth AS (
           |  SELECT d.doc_id,
           |    d.text || ' ' || f.fr[CAST(d.doc_id % 8 + 1 AS INT)] || ' ' ||
           |      f.fr[CAST((d.doc_id // 8) % 8 + 1 AS INT)] AS t
           |  FROM documents d CROSS JOIN f),
           |ch AS (
           |  SELECT doc_id, unicode(t[i + 1:i + 1]) AS cp
           |  FROM synth CROSS JOIN LATERAL unnest(range(0, length(t))) r(i)),
           |cls AS (
           |  SELECT doc_id,
           |    CASE WHEN cp BETWEEN 48 AND 57 THEN 8
           |         WHEN (cp BETWEEN 65 AND 90) OR (cp BETWEEN 97 AND 122) THEN 0
           |         WHEN cp BETWEEN 192 AND 591 THEN 0
           |         WHEN cp BETWEEN 880 AND 1023 THEN 2
           |         WHEN cp BETWEEN 1024 AND 1279 THEN 1
           |         WHEN cp BETWEEN 1424 AND 1535 THEN 4
           |         WHEN cp BETWEEN 1536 AND 1791 THEN 3
           |         WHEN cp BETWEEN 2304 AND 2431 THEN 5
           |         WHEN cp BETWEEN 12352 AND 12543 THEN 6
           |         WHEN cp BETWEEN 19968 AND 40959 THEN 6
           |         WHEN cp BETWEEN 44032 AND 55215 THEN 7
           |         WHEN cp IN (32, 9, 10, 13) THEN 9
           |         ELSE 10 END AS c
           |  FROM ch),
           |agg AS (
           |  SELECT doc_id,
           |    CAST(count(*) FILTER (c = 0) AS BIGINT) AS n_latin,
           |    CAST(count(*) FILTER (c = 1) AS BIGINT) AS n_cyrillic,
           |    CAST(count(*) FILTER (c = 2) AS BIGINT) AS n_greek,
           |    CAST(count(*) FILTER (c = 3) AS BIGINT) AS n_arabic,
           |    CAST(count(*) FILTER (c = 4) AS BIGINT) AS n_hebrew,
           |    CAST(count(*) FILTER (c = 5) AS BIGINT) AS n_devanagari,
           |    CAST(count(*) FILTER (c = 6) AS BIGINT) AS n_cjk,
           |    CAST(count(*) FILTER (c = 7) AS BIGINT) AS n_hangul,
           |    CAST(count(*) FILTER (c = 8) AS BIGINT) AS n_digit,
           |    CAST(count(*) FILTER (c = 9) AS BIGINT) AS n_space,
           |    CAST(count(*) FILTER (c = 10) AS BIGINT) AS n_other
           |  FROM cls GROUP BY doc_id),
           |lst AS (
           |  SELECT *, [n_latin, n_cyrillic, n_greek, n_arabic, n_hebrew,
           |    n_devanagari, n_cjk, n_hangul, n_digit, n_space, n_other] AS sc
           |  FROM agg)
           |SELECT doc_id, n_latin, n_cyrillic, n_greek, n_arabic, n_hebrew,
           |  n_devanagari, n_cjk, n_hangul, n_digit, n_space, n_other,
           |  CAST(list_position(sc, list_max(sc)) - 1 AS BIGINT) AS dominant_class
           |FROM lst ORDER BY doc_id""".stripMargin
      },
      doc = "Unicode-script histogram via the NATIVE script_counts " +
        "codegen expression (codepoint-iterating — surrogate-safe): " +
        "11-class counts + dominant script per doc, the multilingual " +
        "routing signal ahead of langid; per-row, zero shuffle"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_curriculum_order",
      covers = "curriculum-order,O1",
      fn = (s, dir) => {
        // Curriculum construction: stage by a quality proxy (quartiles
        // of n_chars — unique (n_chars, doc_id) order so ntile is
        // deterministic), deterministic salted shuffle WITHIN each
        // stage, one global sequence. r14: both global ranks ride
        // GlobalSeq (range exchange + shuffle-reused zipWithIndex) —
        // the former Window.orderBy formulation moved the WHOLE corpus
        // into one sort reducer (Spark's own "No Partition Defined"
        // warning), the classic 100 TB failure; ntile derives
        // arithmetically from the rank (GlobalSeqSpec pins equality
        // with the window formulation, the SQL oracle pins it here).
        val d = table(s, dir, "documents")
        val n = d.count()
        val staged = graft.ops.GlobalSeq
          .withGlobalSeq(d.select(col("doc_id"), col("n_chars")),
            Seq(col("n_chars").asc, col("doc_id").asc), "__qrank")
          .withColumn("stage",
            graft.ops.GlobalSeq.ntileCol(col("__qrank"), n, 4))
          .withColumn("shuffle_key",
            graft.text.Sampling.shuffleKey("curr1", col("doc_id")))
        graft.ops.GlobalSeq
          .withGlobalSeq(staged,
            Seq(col("stage").asc, col("shuffle_key").asc,
              col("doc_id").asc), "seq")
          .select(col("doc_id"), col("stage"), col("shuffle_key"), col("seq"))
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH st AS (
          |  SELECT doc_id,
          |    CAST(ntile(4) OVER (ORDER BY n_chars ASC, doc_id ASC) AS BIGINT)
          |      AS stage,
          |    md5('curr1:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
          |  FROM documents)
          |SELECT doc_id, stage, shuffle_key,
          |  CAST(row_number() OVER
          |    (ORDER BY stage ASC, shuffle_key ASC, doc_id ASC) AS BIGINT) AS seq
          |FROM st ORDER BY doc_id""".stripMargin
      ),
      doc = "Curriculum ordering: quality-quartile stages, " +
        "deterministic salted shuffle within stage, global training " +
        "sequence — reproducible on any engine/layout, two range " +
        "exchange at scale"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_lsh_band_plan",
      covers = "lsh-band-planner",
      fn = (s, _) => {
        // the planner face: for each target Jaccard threshold, the
        // (bands, rows) factorization of 128 hashes whose S-curve
        // inflection (1/b)^(1/r) is closest (MMDS §3.4.3). Decision-
        // only float (rule 9): LshPlanMarginSpec proves every grid
        // decision carries ≥1e-2 margin, 13 orders above cross-libm
        // pow noise. Agreement with the driver-side Dedup.lshBandPlan
        // is spec-pinned.
        val ts = s.range(0, 10)
          .select((lit(50) + col("id") * 5).cast("int").as("t_pct"))
        val cands = Seq(1, 2, 4, 8, 16, 32, 64, 128).map(b =>
          struct(lit(b).as("b"), lit(128 / b).as("r")))
        val g = ts
          .select(col("t_pct"), explode(array(cands: _*)).as("c"))
          .select(col("t_pct"), col("c.b").as("b"), col("c.r").as("r"))
          .withColumn("diff",
            abs(pow(lit(1.0) / col("b"), lit(1.0) / col("r"))
              - col("t_pct") / lit(100.0)))
        val w = Window.partitionBy(col("t_pct"))
          .orderBy(col("diff").asc, col("b").desc)
        g.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(
            col("t_pct").cast("long").as("t_pct"),
            col("b").cast("long").as("bands"),
            col("r").cast("long").as("rows_per_band"))
          .orderBy("t_pct")
      },
      oracle = Some(
        """WITH t AS (SELECT 50 + i * 5 AS t_pct FROM range(0, 10) r(i)),
          |c AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64, 128]) AS b),
          |g AS (
          |  SELECT t.t_pct, c.b, 128 // c.b AS r,
          |    abs(pow(1.0 / c.b, 1.0 * c.b / 128) - t.t_pct / 100.0) AS diff
          |  FROM t CROSS JOIN c),
          |rk AS (
          |  SELECT t_pct, b, r,
          |    row_number() OVER (PARTITION BY t_pct
          |      ORDER BY diff ASC, b DESC) AS rn
          |  FROM g)
          |SELECT CAST(t_pct AS BIGINT) AS t_pct, CAST(b AS BIGINT) AS bands,
          |  CAST(r AS BIGINT) AS rows_per_band
          |FROM rk WHERE rn = 1 ORDER BY t_pct""".stripMargin
      ),
      doc = "MinHash-LSH banding planner: threshold → (bands, rows) " +
        "by S-curve inflection distance — the auto-tuning rule that " +
        "turns 'dedup at 0.8 Jaccard' into a concrete banding; " +
        "margin-guarded integer decision (LshPlanMarginSpec)"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_mm_dhash_clusters",
      covers = "multimodal-neardup-clusters",
      fn = (s, dir) => {
        // the full image-dedup keep/drop list via the PRODUCTION
        // shape: exact-duplicate fingerprints collapse to one
        // representative each (linear stars), the Hamming join runs
        // over DISTINCT fingerprints only, then components +
        // canonical per cluster. The partition provably equals
        // clusterize over the full pair relation (the oracle below
        // still replays THAT full-pair graph), and pair emission
        // stops scaling with exact-clique size — the striped fixture
        // has a FINITE fingerprint space (patterns cycle every 7392
        // groups), so at sf1+ the full-pair face grows quadratically
        // while this face stays distinct-fingerprint-bounded.
        val d = payloads(s, dir)
        PerceptualHash
          .imageClusters(d, "doc_id", "payload", maxHamming = 7)
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH fx AS (
          |  SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS j,
          |    9 + (doc_id // 3) % 24 AS w, 8 + (doc_id // 3) % 11 AS h
          |  FROM documents),
          |samp AS (
          |  SELECT f.doc_id, f.g, f.j, cy.cy, cx.cx,
          |    (((cx.cx * f.w) // 9) * 8) // f.w AS sx,
          |    (((cy.cy * f.h) // 8) * 8) // f.h AS sy
          |  FROM fx f CROSS JOIN range(0, 8) cy(cy) CROSS JOIN range(0, 9) cx(cx)),
          |v AS (
          |  SELECT doc_id, cy, cx,
          |    16 + (g * 37 + sx * 73 + sy * 41
          |      + (g // 7392) * (sx * 59 + sy * 17 + sx * sy * 29)) % 224 + j
          |      + CASE WHEN j = 2 AND sx = 3 AND sy = 3 THEN 5 ELSE 0 END AS v
          |  FROM samp),
          |bits AS (
          |  SELECT a.doc_id, a.cy, a.cx,
          |    CASE WHEN a.v < b.v THEN 1 ELSE 0 END AS bit
          |  FROM v a JOIN v b ON a.doc_id = b.doc_id AND a.cy = b.cy
          |    AND b.cx = a.cx + 1
          |  WHERE a.cx < 8),
          |hh AS (
          |  SELECT doc_id,
          |    sum(CASE WHEN bit = 1
          |        THEN CAST(1 AS HUGEINT) << CAST(cy * 8 + cx AS INTEGER)
          |        ELSE CAST(0 AS HUGEINT) END) AS uh
          |  FROM bits GROUP BY doc_id),
          |hs AS (
          |  SELECT doc_id, uh,
          |    CAST(CASE WHEN uh >= CAST(1 AS HUGEINT) << 63
          |         THEN uh - 18446744073709551616 ELSE uh END AS BIGINT) AS fps
          |  FROM hh),
          |-- exact-group collapse (r11): identical fingerprints share
          |-- EVERY band key and every Hamming relation, so the full-pair
          |-- graph's components equal the distinct-fingerprint rep
          |-- graph's components expanded back through the fps groups
          |-- (an inter-group edge holds for any member pair iff it holds
          |-- for the reps — it is a property of the fps VALUES). The
          |-- recursive CTE then runs over the fps-bounded rep graph
          |-- instead of the member graph, whose intra-clique edge set
          |-- spilled >76 GB of duckdb temp at 50k images.
          |grp AS (
          |  SELECT fps, min(uh) AS uh, min(doc_id) AS rep,
          |    count(*) AS gsize
          |  FROM hs GROUP BY fps),
          |banded AS (
          |  SELECT rep, fps, c,
          |    CAST((uh >> CAST(c * 8 AS INTEGER)) & 255 AS BIGINT) AS key
          |  FROM grp CROSS JOIN range(0, 8) r(c)),
          |rpairs AS (
          |  SELECT DISTINCT x.rep AS a, y.rep AS b
          |  FROM banded x JOIN banded y ON x.c = y.c AND x.key = y.key
          |    AND x.rep < y.rep
          |  WHERE bit_count(xor(x.fps, y.fps)) <= 7),
          |redges AS (SELECT a AS src, b AS dst FROM rpairs
          |           UNION SELECT b, a FROM rpairs),
          |rreach AS (
          |  WITH RECURSIVE r(node, mn) AS (
          |    SELECT src, src FROM redges
          |    UNION
          |    SELECT e.dst, r.mn FROM r JOIN redges e ON e.src = r.node
          |  ) SELECT node, min(mn) AS component FROM r GROUP BY node),
          |-- a doc appears in the output iff it has >= 1 full-graph pair:
          |-- its rep is edged (cross-fps pair) OR its fps group has >= 2
          |-- members (intra-group Hamming-0 pairs)
          |repcomp AS (
          |  SELECT g.fps, coalesce(rr.component, g.rep) AS component
          |  FROM grp g LEFT JOIN rreach rr ON rr.node = g.rep
          |  WHERE rr.node IS NOT NULL OR g.gsize >= 2),
          |members AS (
          |  SELECT h.doc_id, rc.component
          |  FROM hs h JOIN repcomp rc ON rc.fps = h.fps),
          |csize AS (SELECT component, count(*) AS cluster_size
          |          FROM members GROUP BY component)
          |SELECT m.doc_id, m.component, c.cluster_size,
          |       m.doc_id = m.component AS is_canonical
          |FROM members m JOIN csize c USING (component)
          |ORDER BY doc_id""".stripMargin
      ),
      doc = "Image near-dup CLUSTERS via the production shape: exact " +
        "fingerprints collapse to min-id representatives (linear " +
        "stars), the Manku Hamming join runs over DISTINCT prints " +
        "only, then components + canonical (clusterizeHamming64) — " +
        "partition provably equal to the full-pair graph the oracle " +
        "replays; pair emission no longer scales with exact-clique " +
        "size (the sf1 quadratic fixed: 138 s → seconds)",
      prepare = Some((s, d) => { payloadFixture(s, d); () })
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_audio_fingerprint_pairs",
      covers = "audio-neardup-dedup",
      fn = (s, dir) => {
        // audio near-dup JOIN: every user's waveform plus a 3×-gain
        // copy (distinct synthetic id), fingerprints through the
        // SHARED Manku Hamming machinery — each copy must pair with
        // its original at hamming 0 (gain invariance), plus whatever
        // deterministic cross-user print collisions exist.
        //
        // Frame size is 1 SAMPLE (r14): the fixture waveforms are
        // ~50-90 samples, so 4-sample frames left only ~15 informative
        // print bits — and hamming ≤ 4 in a 15-bit space is DENSE by
        // pigeonhole (measured ~1.9k neighbors/word: ~10⁸ true pairs
        // at 60k ids, quadratic per decade no matter how the fixture
        // decorrelates copies — the face was measuring pair OUTPUT,
        // not join machinery). Per-sample energies fill the full
        // 63-bit capacity the 64-bit print carries, prints go
        // near-unique, and the pair set is the linear gain-pair
        // relation + rare true collisions. The general lesson is the
        // simhash64→128 one: print width must cover ~2·log2(corpus).
        // Gain invariance is untouched: (3q)² ordering ≡ q² ordering.
        val e = table(s, dir, "events")
          .filter(col("user_id") % 5 === 0)
          .groupBy("user_id")
          .agg(sort_array(collect_list(struct(col("event_id"), col("value"))))
            .as("evs"))
          .select(col("user_id"),
            expr("transform(evs, e -> CAST(floor(e.value / 1000.0 * 32767.0 + 0.5) AS BIGINT))")
              .as("q"))
        def energies(scale: Int) =
          s"transform(q, x -> (x * $scale) * (x * $scale))"
        def fp(eCol: String) =
          s"""CASE WHEN size($eCol) < 2 THEN 0L
             |ELSE aggregate(sequence(0, least(size($eCol) - 2, 63)), 0L,
             |  (acc, f) -> acc + IF(element_at($eCol, f + 2) > element_at($eCol, f + 1),
             |                       shiftleft(1L, f), 0L)) END""".stripMargin
        val scored = e
          .withColumn("e1", expr(energies(1)))
          .withColumn("e3", expr(energies(3)))
        val orig = scored.select((col("user_id") * 2).as("id"),
          expr(fp("e1")).as("fp"))
        val copy = scored.select((col("user_id") * 2 + 1).as("id"),
          expr(fp("e3")).as("fp"))
        Dedup
          .hammingPairs64(orig.unionByName(copy), "id", "fp", maxHamming = 4)
          .orderBy("a", "b")
      },
      oracle = Some(
        """WITH e AS (
          |  SELECT user_id, event_id,
          |    CAST(floor(value / 1000.0 * 32767.0 + 0.5) AS BIGINT) AS q,
          |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS rn
          |  FROM events WHERE user_id % 5 = 0),
          |n AS (SELECT user_id, count(*) AS nf FROM e GROUP BY user_id),
          |fr AS (
          |  SELECT user_id, rn AS f,
          |    q * q AS en1, (3 * q) * (3 * q) AS en3
          |  FROM e),
          |bits AS (
          |  SELECT user_id, f,
          |    CASE WHEN lead(en1) OVER (PARTITION BY user_id ORDER BY f) > en1
          |         THEN 1 ELSE 0 END AS b1,
          |    CASE WHEN lead(en3) OVER (PARTITION BY user_id ORDER BY f) > en3
          |         THEN 1 ELSE 0 END AS b3
          |  FROM fr),
          |fps AS (
          |  SELECT user_id,
          |    sum(CASE WHEN b1 = 1 AND f <= 63
          |        THEN CAST(1 AS HUGEINT) << CAST(f AS INTEGER)
          |        ELSE CAST(0 AS HUGEINT) END) AS u1,
          |    sum(CASE WHEN b3 = 1 AND f <= 63
          |        THEN CAST(1 AS HUGEINT) << CAST(f AS INTEGER)
          |        ELSE CAST(0 AS HUGEINT) END) AS u3
          |  FROM bits GROUP BY user_id),
          |uni AS (
          |  SELECT n.user_id * 2 AS id, coalesce(u1, 0) AS u
          |  FROM n LEFT JOIN fps USING (user_id)
          |  UNION ALL
          |  SELECT n.user_id * 2 + 1 AS id, coalesce(u3, 0) AS u
          |  FROM n LEFT JOIN fps USING (user_id)),
          |sgn AS (
          |  SELECT id, u,
          |    CAST(CASE WHEN u >= CAST(1 AS HUGEINT) << 63
          |         THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS fps
          |  FROM uni),
          |banded AS (
          |  SELECT id, fps, c,
          |    CAST((u >> CAST(c * 8 AS INTEGER)) & 255 AS BIGINT) AS key
          |  FROM sgn CROSS JOIN range(0, 8) r(c))
          |SELECT DISTINCT x.id AS a, y.id AS b,
          |  CAST(bit_count(xor(x.fps, y.fps)) AS BIGINT) AS hamming
          |FROM banded x JOIN banded y ON x.c = y.c AND x.key = y.key
          |  AND x.id < y.id
          |WHERE bit_count(xor(x.fps, y.fps)) <= 4
          |ORDER BY a, b""".stripMargin
      ),
      doc = "Audio near-dup join: per-user print + a 3×-gain copy " +
        "through the shared hammingPairs64 — gain copies pair at " +
        "hamming 0 by construction; the oracle replays the complete " +
        "cover (both covers complete ⇒ identical pair sets)"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_zipf",
      covers = "text-zipf-profile",
      fn = (s, dir) => {
        // corpus token rank-frequency spectrum (the Zipf audit a
        // tokenizer/vocab decision reads): global token counts, rank
        // by (count desc, token), top 50 + each token's share of the
        // total in parts-per-million (integer — rule 8).
        val d = table(s, dir, "documents")
        val toks = d.select(explode(
          expr("filter(split(text, ' '), t -> t != '')")).as("tok"))
        val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        val total = counts.agg(sum(col("cnt")).cast("long").as("tot"))
        // top-50 via TakeOrderedAndProject (per-partition heaps), THEN
        // rank the 50 survivors — the old global row_number sorted the
        // ENTIRE vocabulary in one reducer before its rank<=50 filter
        val top = counts
          .orderBy(col("cnt").desc, col("tok").asc)
          .limit(50)
        top
          .crossJoin(broadcast(total))
          .withColumn("rank",
            row_number().over(
              Window.orderBy(col("cnt").desc, col("tok").asc)).cast("long"))
          .select(col("rank"), col("tok"), col("cnt"),
            expr("cnt * 1000000L div tot").as("ppm"))
          .orderBy("rank")
      },
      oracle = Some(
        """WITH toks AS (
          |  SELECT unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
          |  FROM documents),
          |c AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
          |t AS (SELECT sum(cnt) AS tot FROM c),
          |r AS (
          |  SELECT tok, cnt,
          |    row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rank
          |  FROM c)
          |SELECT CAST(rank AS BIGINT) AS rank, tok, CAST(cnt AS BIGINT) AS cnt,
          |  CAST(cnt * 1000000 // t.tot AS BIGINT) AS ppm
          |FROM r CROSS JOIN t WHERE rank <= 50 ORDER BY rank""".stripMargin
      ),
      doc = "Zipf rank-frequency spectrum: global token counts, " +
        "deterministic rank, integer ppm share — the vocabulary-" +
        "decision audit; one shuffle of (token, count) pairs, top-50 " +
        "via TakeOrderedAndProject-shaped window"
    ),
    // ----------------------------------------------------------------
    QueryDef(
      "q_text_fold_diacritics",
      covers = "text-fold-diacritics",
      fn = (s, dir) => {
        // accent-insensitive normalization via the NATIVE
        // fold_diacritics expression (NFD − combining marks, NFC —
        // DuckDB strip_accents parity pinned on this alphabet by
        // PerceptualSpec). Mangle round-trip: inject accents with
        // translate, fold back, prove restoration by md5 — plus the
        // accented-char count from the mangled form.
        val d = table(s, dir, "documents")
        val mangled = translate(col("text"), "aeiouAEIOUcn", "àéîõüÀÉÎÕÜçñ")
        d.select(
          col("doc_id"),
          length(mangled).cast("long").as("n_chars_mangled"),
          (length(mangled) -
            length(translate(mangled, "àéîõüÀÉÎÕÜçñ", "")))
            .cast("long").as("n_accented"),
          md5(graft.plans.FoldDiacriticsExpr.fold_diacritics(mangled))
            .as("folded_md5"),
          (graft.plans.FoldDiacriticsExpr.fold_diacritics(mangled)
            === col("text")).as("restores"))
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH m AS (
          |  SELECT doc_id, text,
          |    translate(text, 'aeiouAEIOUcn', 'àéîõüÀÉÎÕÜçñ') AS mangled
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(length(mangled) AS BIGINT) AS n_chars_mangled,
          |  CAST(length(mangled) - length(translate(mangled, 'àéîõüÀÉÎÕÜçñ', ''))
          |    AS BIGINT) AS n_accented,
          |  md5(strip_accents(mangled)) AS folded_md5,
          |  (strip_accents(mangled) = text) AS restores
          |FROM m ORDER BY doc_id""".stripMargin
      ),
      doc = "Diacritic folding via the NATIVE fold_diacritics codegen " +
        "expression (NFD − Mn, NFC; ASCII fast path returns the input " +
        "buffer untouched) — accent-insensitive match keys; the " +
        "mangle round-trip proves exact restoration against DuckDB " +
        "strip_accents"
    )
  )
}
