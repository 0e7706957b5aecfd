package graft

import graft.ops.LinkGraph
import graft.text.{CorpusAudit, Html, TextAnalysis}
import org.apache.spark.sql.functions._

/** Hand-computed cases for the web front-door + audit + graph family
  * (q_text_html_extract / q_graph_pagerank / q_text_top_ngrams /
  * q_text_mad_gate cover the corpus faces; these pin the operator
  * semantics on adversarial micro-fixtures).
  */
class WebOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def extract(html: String): String = {
    val df = Seq(html).toDF("h").select(Html.htmlToText(col("h")).as("t"))
    df.collect()(0).getString(0)
  }

  test("htmlToText strips script/style wholesale, including markup inside them") {
    val out = extract(
      "<html><head><style>p { color: red; }</style>" +
        "<script>var s = \"<b>fake</b>\";</script></head>" +
        "<body><p>real text</p></body></html>")
    assert(out == "real text")
  }

  test("htmlToText turns block closers into paragraph breaks, inline tags into nothing") {
    val out = extract("<p>one</p><p>two <b>bold</b> end</p><div>three</div>")
    assert(out == "one\ntwo bold end\nthree")
  }

  test("htmlToText decodes entities with &amp; last (single decode level)") {
    // "&amp;lt;" must decode to the TEXT "&lt;", not to "<"
    val out = extract("<p>A &amp; B &lt;tag&gt; &quot;q&quot; it&#39;s x&nbsp;y &amp;lt;</p>")
    assert(out == "A & B <tag> \"q\" it's x y &lt;")
  }

  test("htmlToText removes comments and collapses blank-line runs") {
    val out = extract("<p>a</p><!-- hidden\ntext --><br><br><br><p>b</p>")
    assert(out == "a\n\nb")
  }

  test("htmlToText survives a lone angle bracket (unclosed tag eats to next close)") {
    // '<' with no '>' to the end: the tag-strip regex leaves it (no
    // match without a closing '>') — documented, not silently dropped
    val out = extract("<p>5 < 7 stays</p>")
    assert(out.contains("stays") || out == "5")
  }

  test("extractHrefs pulls double-quoted hrefs in document order") {
    val links = Seq(
      "<a href=\"https://a.com/1\">x</a><link href=\"s.css\"><a HREF=\"https://b.com/2\">y</a>")
      .toDF("h")
      .select(Html.extractHrefs(col("h")).as("l"))
      .collect()(0).getSeq[String](0)
    assert(links == Seq("https://a.com/1", "s.css", "https://b.com/2"))
  }

  // ------------------------------------------------------------------

  test("pageRank: hand-computed two-node cycle") {
    // A <-> B, scale 1000000, damping 85/100: base = 150000.
    // r0 = 1e6 each; each round every node receives floor(.85 * other)
    // r1 = 150000 + 850000 = 1000000 — the cycle is a fixed point
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = LinkGraph.pageRank(e, iters = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("pageRank: star graph concentrates mass in the hub, dangling hub keeps base") {
    // 1,2,3 -> 4; node 4 has no out-edges (dangling: its mass evaporates)
    val e = Seq((1L, 4L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val r1 = LinkGraph.pageRank(e, iters = 1).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // round 1: spokes get base only; hub gets base + 3*floor(.85*1e6/1)
    assert(r1(1L) == 150000L && r1(2L) == 150000L && r1(3L) == 150000L)
    assert(r1(4L) == 150000L + 3 * 850000L)
    val r2 = LinkGraph.pageRank(e, iters = 2).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // round 2: hub receives floor(.85 * 150000) from each spoke
    assert(r2(4L) == 150000L + 3 * 127500L)
  }

  test("pageRank: out-degree splits mass with floor division; checkpointed run matches") {
    // 1 -> {2,3}: each receives floor(.85 * 1e6 / 2) = 425000
    val e = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val r = LinkGraph.pageRank(e, iters = 1).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(2L) == 150000L + 425000L && r(3L) == 150000L + 425000L)
    // crossing the localCheckpoint boundary (checkpointEvery=2, iters=6)
    // must equal the unchunked lineage
    val a = LinkGraph.pageRank(e, iters = 6, checkpointEvery = 2).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val b = LinkGraph.pageRank(e, iters = 6, checkpointEvery = 100).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(a == b)
  }

  test("pageRank: broadcast and shuffle postures emit identical ranks") {
    // 40-node deterministic graph with cycles, a dangling sink, fan-in
    // and fan-out — enough structure that a posture bug would show
    val e = (0L until 40L).flatMap { i =>
      Seq((i, (i * 7 + 3) % 40), (i, (i * 13 + 1) % 40)) ++
        (if (i % 5 == 0) Seq((i, 39L)) else Nil)
    }.distinct.filter { case (s, d) => s != d && s != 39L }
      .toDF("src", "dst")
    def run(bound: String) = {
      spark.conf.set("spark.graft.pagerank.broadcastMaxNodes", bound)
      try LinkGraph.pageRank(e, iters = 4, checkpointEvery = 2).collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
      finally spark.conf.unset("spark.graft.pagerank.broadcastMaxNodes")
    }
    val viaShuffle = run("0")
    val viaBroadcast = run("1000000")
    assert(viaShuffle == viaBroadcast)
    assert(viaShuffle.size == 40)
  }

  test("pageRank broadcast posture: the whole iteration plan is " +
    "exchange-free (ranks broadcast into the dst-partitioned edge cache)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => Seq(q) ++ allNodes(q.plan)
      case r: ReusedExchangeExec => Seq(r) ++ allNodes(r.child)
      case other => Seq(other) ++ other.children.flatMap(allNodes)
    }
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
      .toDF("src", "dst")
    // the final round's rank build runs as the returned frame's
    // localCheckpoint action; a query execution listener sees its plan
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      LinkGraph.pageRank(e, iters = 2).collect()
      // the listener bus delivers asynchronously: bounded wait
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      val plan = Option(plans.peek()).getOrElse(
        fail("no localCheckpoint plan reached the listener within 30 s"))
      val nodes = allNodes(plan)
      // every exchange in the round plan would be edge- or node-sized
      // work repeated per iteration; the broadcast posture needs none —
      // the caches were built partitioned (dst for edges, node for the
      // node table) and the rank table ships as a broadcast
      val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty,
        s"broadcast-posture iteration plan has shuffles:\n" +
          shuffles.mkString("\n"))
      assert(nodes.exists(_.nodeName.contains("BroadcastHashJoin")),
        nodes.map(_.nodeName).mkString(", "))
    } finally spark.listenerManager.unregister(listener)
  }

  // ------------------------------------------------------------------

  test("topDuplicatedNgrams counts occurrences and distinct docs, min exemplar") {
    val docs = Seq(
      (10L, "a b c a b c"), // "a b c" twice here, "b c a" once
      (7L, "a b c d"),      // "a b c" once more
      (3L, "x y")           // too short for 3-grams
    ).toDF("doc_id", "text")
    val out = CorpusAudit.topDuplicatedNgrams(docs, "doc_id", "text", 3, 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // only grams with >1 occurrence survive
    assert(out.head == (("a b c", 3L, 2L, 7L)))
    assert(!out.exists(_._1 == "b c a"))
    assert(!out.exists(_._1.startsWith("x")))
  }

  test("ngramsUdf matches the HOF transform/slice/concat_ws pipeline, " +
    "including empty-token and short-doc edges") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "x  y z"), // double space: empty token kept
      (3L, " lead"), (4L, "trail "), (5L, "ab"), (6L, ""), (7L, "a b c")
    ).toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3)) {
      val viaHof = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
        .where(size(col("toks")) >= n)
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(0), size(col("toks")) - n),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(n))))).as("gram"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val viaUdf = docs.select(col("doc_id"),
          explode(TextAnalysis.ngramsUdf(n, distinct = false)(col("text"))).as("gram"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(viaUdf == viaHof, s"n=$n")
    }
  }

  test("madLengthGate: exact lower medians and integer keep decision") {
    // group g: lens 1, 5, 9, 100 (even count → lower median = 5)
    // adevs: 4, 0, 4, 95 → lower-median MAD = 4 → keep iff |len-5| <= 12
    val docs = Seq(
      (1L, "g", 1L), (2L, "g", 5L), (3L, "g", 9L), (4L, "g", 100L),
      (5L, "h", 7L) // singleton group: med=7, mad=0, only itself kept
    ).toDF("doc_id", "grp", "len")
    val out = CorpusAudit.madLengthGate(docs, "doc_id", "grp", "len", 3L, 1L)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(out(1L) == ((5L, 4L, true)))   // |1-5|=4 <= 12
    assert(out(4L) == ((5L, 4L, false)))  // |100-5|=95 > 12
    assert(out(5L) == ((7L, 0L, true)))   // singleton: 0 <= 0
  }
}
