package graft

import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** The exact sub-document dedup faces over one seeded corpus, each
  * against a driver-side brute-force replay of its documented rule
  * (units compared as strings, first occurrence = smallest (id, pos)).
  * The corpus has a line repeated in 70 docs, repeats inside a doc,
  * blank and space-padded lines, char-level dup windows at gaps of
  * exactly l and l + 1, and null and empty text. The faces' one in-row
  * rebuild kernel is also held against the four UDFs it replaced.
  */
class OccurrenceCoreSpec extends SparkTestBase {
  import spark.implicits._

  private val l = 20
  private val x = "QWERTYUIOPASDFGHJKLZ" // 20 chars found in no other doc
  private val y = "0123456789!@$%^&*()+"

  private val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(20261019L)
    val vocab = Vector("the", "data", "pipeline", "spark", "corpus", "dedup",
      "window", "token", "line", "page", "crawl", "model", "train", "shard",
      "filter", "exact", "near", "text", "web", "quality")
    def words(k: Int) = Seq.fill(k)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val pool = Vector.fill(25)(words(4 + rnd.nextInt(8)))
    // exactly 8 words: window 0 of windowDedup(8) when it leads a doc
    val boiler = "subscribe to our newsletter for weekly curated updates"
    val ids = rnd.shuffle((1L to 400L).toVector).take(140)
    val random = ids.zipWithIndex.map { case (id, i) =>
      val body = Seq.fill(1 + rnd.nextInt(5))(pool(rnd.nextInt(pool.size)))
      val lead = if (i % 2 == 0) Seq(boiler + " ") else Nil
      val extra = if (i % 7 == 0) Seq("  ", " " + words(3) + " ") else Nil
      id -> (lead ++ body ++ extra).mkString("\n")
    }
    random ++ Seq(
      1001L -> s"alpha $x|$y omega",
      1002L -> s"start $x$y end", // x and y dup windows l apart
      1003L -> s"go $x#$y stop", // ... and l + 1 apart
      1004L -> s"$x$x$x", // repeats inside one doc
      1005L -> (null: String),
      1006L -> "",
      1007L -> "one two three four five one two three four five")
  }

  private lazy val df: DataFrame = corpus.toDF("doc_id", "text")

  private def rows(out: DataFrame): Map[Long, Seq[Any]] =
    out.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap

  private def byId = corpus.sortBy(_._1)

  private def trimSpaces(s: String): String = {
    var a = 0; var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  private def paras(t: String): Seq[String] =
    if (t == null) Nil
    else t.split("\n", -1).toSeq.map(trimSpaces).filter(_.nonEmpty)

  test("paragraphDedup keeps each paragraph's first occurrence") {
    val seen = mutable.Set.empty[String]
    val want = byId.map { case (id, t) =>
      val ps = paras(t)
      val kept = ps.filter(seen.add)
      id -> Seq(kept.mkString("\n"), kept.size.toLong, (ps.size - kept.size).toLong)
    }.toMap
    assert(rows(Dedup.paragraphDedup(df, "doc_id", "text")) == want)
  }

  test("boilerplateRemove drops every line whose doc frequency reaches maxDf") {
    val maxDf = 10L
    val docFreq = corpus.flatMap { case (id, t) => paras(t).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (p, ids) => p -> ids.size.toLong }
    assert(docFreq("subscribe to our newsletter for weekly curated updates") >= 50L)
    val want = corpus.map { case (id, t) =>
      val ps = paras(t)
      val kept = ps.filter(docFreq(_) < maxDf)
      id -> Seq(kept.mkString("\n"), kept.size.toLong, (ps.size - kept.size).toLong)
    }.toMap
    assert(rows(Dedup.boilerplateRemove(df, "doc_id", "text", maxDf)) == want)
  }

  test("windowDedup keeps each fixed word window's first occurrence") {
    val w = 8
    val seen = mutable.Set.empty[String]
    val want = byId.map { case (id, t) =>
      // a null text is one empty window (the chunkByTokens contract)
      val toks = if (t == null) Array("") else t.split(" ", -1)
      val n = math.max(1, (toks.length + w - 1) / w)
      val kept = (0 until n).filter(i =>
        seen.add(toks.slice(i * w, i * w + w).mkString(" ")))
      val clean = kept.flatMap(i => toks.slice(i * w, i * w + w)).mkString(" ")
      id -> Seq(clean, kept.size.toLong, (n - kept.size).toLong)
    }.toMap
    assert(rows(Dedup.windowDedup(df, "doc_id", "text", w)) == want)
  }

  /** The documented CDC cut: a boundary after position i when the
    * FNV-1a hash of the `window` chars ending at i has its low
    * `maskBits` bits zero. */
  private def cdcChunks(t: String, window: Int, maskBits: Int): Seq[String] =
    if (t == null || t.isEmpty) Nil
    else {
      val mask = (1L << maskBits) - 1L
      val cuts = (window - 1 until t.length - 1).filter { i =>
        val h = t.substring(i - window + 1, i + 1)
          .foldLeft(0xcbf29ce484222325L)((h, c) => (h ^ c.toLong) * 0x100000001b3L)
        (h & mask) == 0L
      }.map(_ + 1) :+ t.length
      (0 +: cuts).zip(cuts).map { case (a, b) => t.substring(a, b) }
    }

  test("cdcChunkDedup keeps each content-defined chunk's first occurrence") {
    val seen = mutable.Set.empty[String]
    val want = byId.map { case (id, t) =>
      val cs = cdcChunks(t, 8, 5)
      val kept = cs.filter(seen.add)
      id -> Seq(cs.size.toLong, kept.size.toLong, (cs.size - kept.size).toLong,
        kept.mkString)
    }.toMap
    assert(rows(Dedup.cdcChunkDedup(df, "doc_id", "text")) == want)
  }

  test("removeDuplicateSpans drops every token window past its first occurrence") {
    val w = 4
    val seen = mutable.Set.empty[String]
    val want = byId.map { case (id, t) =>
      if (t == null) id -> Seq(null, null, null)
      else {
        val toks = t.split(" ", -1)
        val covered = new Array[Boolean](toks.length)
        for (p <- 0 to toks.length - w
             if !seen.add(toks.slice(p, p + w).mkString(" ")))
          (p until p + w).foreach(covered(_) = true)
        val kept = toks.indices.filterNot(covered)
        id -> Seq(kept.map(toks(_)).mkString(" "), toks.length.toLong,
          (toks.length - kept.size).toLong)
      }
    }.toMap
    assert(want(1007L) == Seq("one two three four five", 10L, 5L))
    assert(rows(Dedup.removeDuplicateSpans(df, "doc_id", "text", w)) == want)
  }

  test("substringDedup cuts merged dup-window spans (new span iff pos - prev > l)") {
    val seen = mutable.Set.empty[String]
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val want = byId.map { case (id, t) =>
      if (t == null) id -> Seq(0L, null, null, null, null)
      else {
        val dups = (0 to t.length - l).filter(p => !seen.add(t.substring(p, p + l)))
        val spans = mutable.ArrayBuffer.empty[(Int, Int)]
        dups.foreach { p =>
          if (spans.nonEmpty && p - (spans.last._2 - l) <= l)
            spans(spans.size - 1) = (spans.last._1, p + l)
          else spans += ((p, p + l))
        }
        val sb = new StringBuilder
        var from = 0
        spans.foreach { case (s, e) => sb.append(t.substring(from, s)); from = e }
        val clean = sb.append(t.substring(from)).toString
        id -> Seq(spans.size.toLong, (t.length - clean.length).toLong,
          clean.length.toLong, md5(clean), clean)
      }
    }.toMap
    assert(want(1002L).head == 1L, "x and y dup windows l apart merge into one span")
    assert(want(1003L).head == 2L, "x and y dup windows l + 1 apart stay two spans")
    assert(rows(Dedup.substringDedup(df, "doc_id", "text", l)) == want)
  }

  test("the one rebuild kernel gives the four replaced UDFs' strings and " +
    "counts, bit for bit") {
    import graft.plans.ArrayOps.rebuild_units
    import graft.plans.RebuildUnitsExpr.{Chars, Lines, Tokens}
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._

    // ---- the four old UDF bodies, verbatim ----
    val lineRebuildUdf =
      udf { (text: String, kept: Seq[Long]) =>
        if (text == null) ""
        else {
          val ls = text.split("\n", -1)
          val ks = kept.toSet
          val sb = new java.lang.StringBuilder(text.length)
          var i = 0; var first = true
          while (i < ls.length) {
            if (ks.contains(i.toLong)) {
              val l = ls(i)
              var a = 0; var b = l.length
              while (a < b && l.charAt(a) == ' ') a += 1
              while (b > a && l.charAt(b - 1) == ' ') b -= 1
              if (first) first = false else sb.append('\n')
              sb.append(l, a, b)
            }
            i += 1
          }
          sb.toString
        }
      }
    def windowRebuildUdf(w: Int) =
      udf { (text: String, kept: Seq[Long]) =>
        val toks = if (text == null) Array("") else text.split(" ", -1)
        val sb = new java.lang.StringBuilder(if (text == null) 0 else text.length)
        var first = true
        kept.foreach { ki =>
          val from = (ki * w).toInt
          val until = math.min(toks.length, from + w)
          var j = from
          while (j < until) {
            if (first) first = false else sb.append(' ')
            sb.append(toks(j)); j += 1
          }
        }
        sb.toString
      }
    def spanRemoveUdf(w: Int) =
      udf { (text: String, drops: Seq[Long]) =>
        if (text == null) ("", 0L)
        else if (drops == null || drops.isEmpty)
          (text, text.split(" ", -1).length.toLong)
        else {
          val toks = text.split(" ", -1)
          val covered = new Array[Boolean](toks.length)
          drops.foreach { p =>
            var i = p.toInt
            val end = math.min(toks.length, p.toInt + w)
            while (i < end) { covered(i) = true; i += 1 }
          }
          val sb = new java.lang.StringBuilder(text.length)
          var kept = 0L; var first = true; var i = 0
          while (i < toks.length) {
            if (!covered(i)) {
              if (first) first = false else sb.append(' ')
              sb.append(toks(i)); kept += 1
            }
            i += 1
          }
          (sb.toString, kept)
        }
      }
    def substringCutUdf(l: Int) =
      udf { (text: String, pos: Seq[Int]) =>
        if (text == null || pos == null || pos.isEmpty) (text, 0L)
        else {
          val sb = new java.lang.StringBuilder(text.length)
          var from = 0
          var start = pos.head; var prev = start; var spans = 1L
          pos.iterator.drop(1).foreach { p =>
            if (p - prev > l) {
              sb.append(text, from, start); from = prev + l
              start = p; spans += 1
            }
            prev = p
          }
          sb.append(text, from, start)
          sb.append(text, prev + l, text.length)
          (sb.toString, spans)
        }
      }

    // each (kernel, oracle) pair agrees on every row, strings also on
    // their raw UTF-8 bytes (a lone surrogate encodes as '?')
    def agree(face: String, rows: Seq[(String, Option[Seq[Long]])],
        pairs: (Column, Column)*): Unit = {
      val df = rows.toDF("t", "p").withColumn("pi", col("p").cast("array<int>"))
      val cols = pairs.flatMap { case (k, o) => Seq(k, o) } ++
        pairs.take(1).flatMap { case (k, o) => Seq(hex(k.cast("binary")), hex(o.cast("binary"))) }
      df.select(cols: _*).collect().zip(rows).foreach { case (r, in) =>
        (0 until r.length by 2).foreach { i =>
          assert(r.get(i) == r.get(i + 1), s"$face on $in: column $i: $r")
        }
      }
    }
    val t = col("t"); val p = col("p"); val pi = col("pi")
    val none = Option.empty[Seq[Long]]
    def at(xs: Long*) = Some(xs.toSeq)

    // lines: keep mode, space-only trim (tabs and '\r' stay)
    val lines = rebuild_units(t, p, Lines, 1, 1, keep = true)
    agree("lines", Seq(
      (null, at(0)), (null, none), ("a\nb", none), ("a\nb", at()), ("", at(0)),
      ("  lead\ntrail  \n   \n\tx\t \n a b \r\nend\r", at(0, 1, 2, 3, 4, 5, 9)),
      ("\n\n\nx\n", at(1, 3)), ("x", at(0)), ("  \n  ", at(0, 1))),
      lines.getField("text") ->
        when(p.isNull, lit("")).otherwise(lineRebuildUdf(t, p)))

    // word windows of 3: keep mode, empty tokens, windows past the end
    val windows = rebuild_units(t, p, Tokens, 3, 3, keep = true)
    agree("windows", Seq(
      (null, at(0)), (null, none), ("", at(0)), ("", none), (" a  b ", at(0, 1)),
      ("one two three four five six seven", at(0, 2, 5)), ("a b c d e f g", at()),
      ("x\ty  z\r\nw", at(1)), ("  ", at(0)), ("😀 b 😀", at(0))),
      windows.getField("text") ->
        when(p.isNull, lit("")).otherwise(windowRebuildUdf(3)(t, p)))

    // token spans of 2: drop mode, repeated and past-the-end positions
    val spans = rebuild_units(t, p, Tokens, 1, 2, keep = false)
    val spanOld = spanRemoveUdf(2)(t, p)
    agree("spans", Seq(
      (null, at(0)), (null, none), ("", none), ("", at(0)), ("a b c d", none),
      ("a b c d", at()), (" a  b c ", at(0, 0, 3)), ("a b c d e", at(1, 1, 2, 7)),
      ("😀 x 😀", at(1)), ("a\tb c\r\nd", at(0))),
      spans.getField("text") -> when(t.isNotNull, spanOld.getField("_1")),
      spans.getField("kept") -> spanOld.getField("_2"))

    // chars, l = 3: drop mode, int and long positions, merged spans,
    // surrogate pairs cut in half
    val cutOld = substringCutUdf(3)(t, pi)
    for (positions <- Seq(pi, p)) {
      val chars = rebuild_units(t, positions, Chars, 1, 3, keep = false)
      agree("chars", Seq(
        (null, none), (null, at(0)), ("", none), ("abc", at()), ("abcdef", at(0)),
        ("abcdefghij", at(0, 0, 3, 7)), ("abcdefghij", at(1, 5)),
        ("a😀b😀c", at(2)), ("a😀bc", at(2)), ("  a  b  ", at(1, 4)),
        ("x\r\ny\tz", at(1)), ("😀😀", at(1))),
        chars.getField("text") -> cutOld.getField("_1"),
        chars.getField("runs") -> cutOld.getField("_2"))
    }
  }

  test("cdcChunkDedup and substringDedup plan no window operator") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => Seq(q) ++ allNodes(q.plan)
      case other => Seq(other) ++ other.children.flatMap(allNodes)
    }
    for ((name, out) <- Seq(
        "cdcChunkDedup" -> Dedup.cdcChunkDedup(df, "doc_id", "text"),
        "substringDedup" -> Dedup.substringDedup(df, "doc_id", "text", l))) {
      out.collect()
      val windows = allNodes(out.queryExecution.executedPlan)
        .collect { case w: WindowExec => w }
      assert(windows.isEmpty, s"$name plans a window:\n${windows.mkString("\n")}")
    }
  }
}
