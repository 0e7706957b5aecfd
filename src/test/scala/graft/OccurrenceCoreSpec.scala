package graft

import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** The exact sub-document dedup faces over one seeded corpus, each
  * against a driver-side brute-force replay of its documented rule
  * (units compared as strings, first occurrence = smallest (id, pos)).
  * The corpus has a line repeated in 70 docs, repeats inside a doc,
  * blank and space-padded lines, char-level dup windows at gaps of
  * exactly l and l + 1, and null and empty text.
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
