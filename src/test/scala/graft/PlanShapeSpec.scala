package graft

import graft.queries.Registry

/** Plan-shape regression guards: the properties that make these queries
  * scale (pushdown, pruning, broadcast, top-k without global sort) are
  * asserted so a refactor can't silently regress them (SURVEY §4).
  */
class PlanShapeSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Registry.byName(name).fn(spark, dir).queryExecution.executedPlan.toString

  test("q_s1_scan_project prunes the scan to the projected columns") {
    val p = plan("q_s1_scan_project")
    assert(p.contains("ReadSchema"), p)
    // only the 4 projected columns are read, not the full table
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("c_custkey") && read.contains("c_acctbal"))
    assert(!read.contains("c_nationkey"), read)
  }

  test("q_f1 filter is evaluated at/near the scan, not post-shuffle") {
    val p = plan("q_f1_subscriber_threshold")
    val scanIdx = p.indexOf("Scan parquet")
    val filterIdx = p.indexOf("Filter")
    assert(scanIdx >= 0 && filterIdx >= 0)
    // formatted tree prints top-down: Filter directly above the scan
    assert(filterIdx < scanIdx, p)
  }

  test("q_j1 joins with a broadcast of the dimension side") {
    assert(plan("q_j1_catalog_join").contains("BroadcastHashJoin"))
  }

  test("q_o1_o2 compiles to TakeOrderedAndProject (no full sort)") {
    assert(plan("q_o1_o2_topk").contains("TakeOrderedAndProject"))
  }

  test("q_a2 global max is a broadcast, not an empty-partition window") {
    val p = plan("q_a2_minmax_score")
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q_o3_topk_native plans the custom operator with zero Sort nodes") {
    val p = plan("q_o3_topk_native")
    assert(p.contains("TopKPerKey"), p)
    // the outer orderBy is the only sort allowed (the operator itself
    // must not sort partitions)
    val inner = p.substring(p.indexOf("TopKPerKey"))
    assert(!inner.contains("Sort"), inner)
  }

  test("q_url_canonical_dedup is one scan + one hash exchange (canonical key dedup)") {
    val p = plan("q_url_canonical_dedup")
    // canonicalization is a pure projection; the only shuffle is the
    // final groupBy on the canonical string (plus its agg pair)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("q_url_domain_quota plans the native TopKPerKey, no per-partition sort") {
    val p = plan("q_url_domain_quota")
    assert(p.contains("TopKPerKey"), p)
    val inner = p.substring(p.indexOf("TopKPerKey"))
    assert(!inner.contains("Sort"), inner)
  }

  test("q_sample_cluster_balanced plans the native TopKPerKey, no window sort") {
    val p = plan("q_sample_cluster_balanced")
    assert(p.contains("TopKPerKey"), p)
    // the quota cap must be the bounded-heap operator, not a
    // row_number window (which would sort every cluster's full
    // membership on the exchange's reduce side)
    assert(!p.contains("Window"), p)
  }

  test("q_dedup_edit_distance never plans a nested-loop/cartesian pair join") {
    val p = plan("q_dedup_edit_distance")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_text_packing shards by range — the corpus never hits one window partition") {
    val p = plan("q_text_packing")
    assert(p.contains("rangepartitioning"), p)
    // the offsets are the native running sum over the range exchange —
    // no window of any kind, partitioned or not
    val lines = p.linesIterator.toSeq
    val sumAt = lines.indexWhere(_.contains("RunningSum"))
    assert(sumAt >= 0, p)
    assert(lines.indexWhere(_.contains("Exchange rangepartitioning"), sumAt) > sumAt, p)
    assert(!p.contains("Window"), p)
  }

  test("q_text_gopher_gate is one scan, zero hash exchanges (pure per-row gate)") {
    val p = plan("q_text_gopher_gate")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q_sample_budget broadcasts the weights dimension") {
    val p = plan("q_sample_budget")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_sample_shuffle shuffles only for the final range sort") {
    val p = plan("q_sample_shuffle")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("rangepartitioning"), p)
  }

  test("q_gate_adaptive_band broadcasts the per-group band table back") {
    val p = plan("q_gate_adaptive_band")
    // the corpus side must NOT shuffle for the gate: the band table
    // (one row per group) broadcasts onto it
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_dedup_substring joins only on keys — no nested-loop/pairwise plan") {
    val p = plan("q_dedup_substring")
    // every join is keyed (hash or sort-merge); duplicate-window
    // detection must stay a shuffle on the 8-byte hash, never pairwise
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_text_lm_quality broadcasts the LM counts model") {
    val p = plan("q_text_lm_quality")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_url_blocklist matches via a BROADCAST semi-join (no blocklist shuffle)") {
    val p = plan("q_url_blocklist")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"blocklist match is not a broadcast semi-join:\n$p")
  }

  test("events.ts vintage normalization does NOT block pushdown: a " +
    "user_id filter still reaches the parquet scan as a PushedFilter") {
    import org.apache.spark.sql.functions._
    val df = graft.core.Graft.table(spark, dir, "events")
      .filter(col("user_id") === 7L)
      .select("event_id", "ts")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: ["), p)
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("user_id"),
      s"user_id filter not pushed through the ts-normalization projection: $pushed")
  }

  test("q_text_gopher_ngrams is one scan, zero exchanges (pure per-row pass)") {
    val p = plan("q_text_gopher_ngrams")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q_text_fim is one scan with no hash exchange (pure projection + output sort)") {
    val p = plan("q_text_fim")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("seedCentroidApply plans zero exchanges (stateless broadcast-literal scoring)") {
    val e = graft.core.Graft.table(spark, dir, "embeddings")
    val model = graft.similarity.Ann.seedCentroidFit(
      e.filter(org.apache.spark.sql.functions.col("label") === 0),
      "vec_id", "embedding")
    val p = graft.similarity.Ann
      .seedCentroidApply(e, model, "vec_id", "embedding", 0.2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("softDedupWeights shuffles digests only — corpus text stays out of every exchange") {
    // text reduces to (id, content_key, n_tok) at the scan projection;
    // the count aggregation and join-back shuffle that triple only
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.dedup.Dedup
      .softDedupWeights(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    val at = p.indexOf("Exchange hashpartitioning(content_key")
    assert(at >= 0, s"no digest-keyed exchange found:\n$p")
    // no exchange feeder anywhere in the plan carries the raw text
    // attribute: after the scan projections, text#N must only appear
    // inside Project/Scan nodes, never in an Exchange line
    for (line <- p.linesIterator if line.contains("Exchange "))
      assert(!line.contains("text#"), s"corpus text rides a shuffle: $line")
  }

  test("q_text_span_corrupt is a pure projection — no hash exchange, no window") {
    val p = plan("q_text_span_corrupt")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Window"), p)
  }

  test("corpusManifest shuffles digests only — text stays out of every exchange") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.Profile
      .corpusManifest(docs, "doc_id", "text", "source", groupSize = 16)
      .queryExecution.executedPlan.toString
    for (line <- p.linesIterator if line.contains("Exchange "))
      assert(!line.contains("text#"), s"corpus text rides a shuffle: $line")
  }

  test("q_text_lm_backoff shuffles tokens and counts, never document text") {
    val p = plan("q_text_lm_backoff")
    for (line <- p.linesIterator if line.contains("Exchange "))
      assert(!line.contains("text#"), s"corpus text rides a shuffle: $line")
  }

  test("q_text_inverted_index caps postings via TopKPerKey with no inner sort") {
    val p = plan("q_text_inverted_index")
    assert(p.contains("TopKPerKey"), p)
    val inner = p.substring(p.indexOf("TopKPerKey"))
    // the only Sort below the operator is none — sort_array is an
    // expression, not a Sort node
    assert(!inner.contains("\nSort") && !inner.contains("+- Sort"), inner)
  }

  test("q_text_html_extract is a pure projection — zero exchanges") {
    val p = plan("q_text_html_extract")
    // extraction is the widest stage of a crawl pipeline: it must stay
    // embarrassingly parallel (the only allowed movement is the final
    // ORDER BY's range exchange)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Window"), p)
  }

  test("q_text_top_ngrams ranks via TakeOrderedAndProject, not a global sort") {
    val p = plan("q_text_top_ngrams")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_agg_rollup computes every grouping set in ONE shuffle (Expand, not one job per level)") {
    val p = plan("q_agg_rollup")
    assert(p.contains("Expand"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    // one hash exchange feeds the final aggregate for ALL levels (the
    // distinct-aggregate pair over Expand); never one per level
    assert(exchanges <= 2, s"expected <=2 hash exchanges, got $exchanges:\n$p")
  }

  test("q_event_funnel stays on keyed shuffle joins — no nested-loop fallback") {
    val p = plan("q_event_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("corpus-sized similarity passes run native expressions, not Scala UDFs " +
    "(quantize_1m / pq_encode / sign_lsh in the executed plans)") {
    import org.apache.spark.sql.functions._
    val e = graft.core.Graft.table(spark, dir, "embeddings")
    // sign-LSH bucketer: native, and nothing UDF-shaped in the projection
    val lshPlan = graft.similarity.Ann
      .signLshBuckets(e, "vec_id", "embedding", bits = 4)
      .queryExecution.executedPlan.toString
    assert(lshPlan.contains("sign_lsh"), lshPlan)
    assert(!lshPlan.contains("UDF"), lshPlan)
    // PQ index: the corpus-sized encode relation is the native encoder
    val idx = graft.similarity.Pq.pqBuild(e, "vec_id", "embedding", m = 4, k = 16)
    val codesPlan = idx.codes.queryExecution.executedPlan.toString
    assert(codesPlan.contains("pq_encode"), codesPlan)
    assert(!codesPlan.contains("UDF"), codesPlan)
    // quantizer behind every quantized-cosine dedup path
    val qPlan = e.select(graft.plans.ArrayOps.quantize_1m(col("embedding")))
      .queryExecution.executedPlan.toString
    assert(qPlan.contains("quantize_1m"), qPlan)
    assert(!qPlan.contains("UDF"), qPlan)
  }

  test("unpartitioned windows are enumerated and pinned: every " +
    "WindowExec with no partitionSpec in every registered query's plan " +
    "sits above a LIMIT/top-k bound or is on the adjudicated " +
    "dimension-sized allowlist (a pre-limit unpartitioned window is a " +
    "single-reducer sort at 100 TB)") {
    import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, LocalLimitExec, SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    // query → why its unpartitioned window is safe at scale (each
    // window's INPUT is dimension-sized or k-bounded by construction).
    // Full r16 enumeration (graft.tools.WinAudit one-off): the ONLY
    // unpartitioned windows across all 202 registered plans are
    // q_text_bpe_pairs / q_text_index_search ×3 / q_text_zipf — all
    // k-bounded above a limit/top-k (boundedBelow passes) — and the
    // three below.
    val pinned: Map[String, String] = Map(
      // apportionment windows rank the (source, n_tok) AGGREGATE — the
      // relation is #sources rows (dimension-sized) by construction;
      // the corpus never reaches these windows (temperaturePlan doc)
      "q_sample_temperature" ->
        "largest-remainder apportionment over the per-source aggregate"
    )
    def boundedBelow(p: SparkPlan): Boolean = p.collectFirst {
      case _: GlobalLimitExec => ()
      case _: LocalLimitExec => ()
      case _: CollectLimitExec => ()
      case _: TakeOrderedAndProjectExec => ()
      case _: WindowGroupLimitExec => ()
    }.isDefined
    // AQE off for the audit: the adaptive wrapper is a leaf that hides
    // the tree, and the NON-adaptive sparkPlan leaves subquery plans
    // logical (collectWithSubqueries would CCE on them)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val offenders =
      try {
        (for {
          q <- Registry.all
          plan = Registry.byName(q.name).fn(spark, dir).queryExecution.executedPlan
          w <- plan.collectWithSubqueries {
            case w: WindowExec if w.partitionSpec.isEmpty => w
          }
          if !boundedBelow(w.child) && !pinned.contains(q.name)
        } yield q.name).distinct.sorted
      } finally spark.conf.unset("spark.sql.adaptive.enabled")
    assert(offenders.isEmpty,
      s"un-adjudicated pre-limit unpartitioned WindowExec in: $offenders")
  }

  test("no oracle query plans a CartesianProduct") {
    for (q <- Registry.all if q.oracle.isDefined) {
      val p = Registry.byName(q.name).fn(spark, dir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"${q.name} has a cartesian:\n$p")
    }
  }

  test("containment verify joins broadcast the doc-array side below the bound") {
    // the operator caches its output, so the verify plan lives inside
    // the InMemoryRelation — pull the cached plan out and assert both
    // verify joins are broadcast (the 25 GB-shuffle regression guard)
    val out = graft.dedup.Dedup.containmentPairs(
      graft.core.Graft.table(spark, dir, "documents"),
      "doc_id", "text", n = 3, minContainment = 0.8, maxDf = Long.MaxValue)
    val cached = out.queryExecution.optimizedPlan.collect {
      case im: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        im.cachedPlan.toString
    }
    assert(cached.nonEmpty, out.queryExecution.optimizedPlan.toString)
    val p = cached.mkString("\n")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    // Both verify sides project to identical columns/constraints so
    // the two broadcast subtrees CANONICALIZE equal — under AQE's
    // TableCacheQueryStage wrapping the stages still materialize
    // separately (no ReusedExchange), so the session-memory story for
    // whole-catalog runs is Verify's between-query GC nudge, not
    // reuse. Guard the count at ≤3 exchanges (posting index + two
    // verify sides) so a refactor can't quietly add more.
    val nodes2 = out.queryExecution.optimizedPlan.collect {
      case im: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        im.cachedPlan
    }.flatMap(allNodes)
    val bx = nodes2.collect {
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => e
    }
    assert(bx.map(System.identityHashCode).distinct.size <= 3,
      s"verify plan grew extra broadcasts (${bx.size}):\n$p")
    out.unpersist()
  }

  test("jaccard-prefix verify joins broadcast the doc-array side below the bound") {
    val out = graft.dedup.Dedup.ngramJaccardPairsPrefix(
      graft.core.Graft.table(spark, dir, "documents"),
      "doc_id", "text", n = 3, minJaccard = 0.8, maxDf = Long.MaxValue)
    val cached = out.queryExecution.optimizedPlan.collect {
      case im: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        im.cachedPlan.toString
    }
    assert(cached.nonEmpty, out.queryExecution.optimizedPlan.toString)
    val p = cached.mkString("\n")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    out.unpersist()
  }

  /** Flatten a physical plan through AQE wrappers and query stages. */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      allNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      Seq(q) ++ allNodes(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      Seq(r) ++ allNodes(r.child)
    case other => Seq(other) ++ other.children.flatMap(allNodes)
  }

  /** The plan a pair finder's verify ran: the returned frame is the
    * verify result's cache, so its one in-memory scan carries the plan
    * that built it.
    */
  private def verifyPlan(out: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.SparkPlan = {
    val scans = allNodes(out.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }
    assert(scans.size == 1, out.queryExecution.executedPlan.toString)
    scans.head.relation.cachedPlan
  }

  /** [[allNodes]], descending also into the plans of cached relations. */
  private def deepNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    allNodes(p).flatMap {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s +: deepNodes(s.relation.cachedPlan)
      case o => Seq(o)
    }

  /** An explicit `repartition(n, col)` exchange. */
  private def isRepartitionByNum(p: org.apache.spark.sql.execution.SparkPlan) =
    p match {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.shuffleOrigin == org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM
      case _ => false
    }

  test("pair verify ABOVE the broadcast bound: containment, jaccard, LSH " +
    "self and LSH against co-locate on an id-repartitioned docs cache, " +
    "identical pairs, exchange-free docs scans, at most one array-bearing " +
    "exchange, no cache, table or temp dir left behind") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, TableCacheQueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.ArrayType
    val docs = graft.core.Graft.table(spark, dir, "documents")
    val runs = Seq[(String, () => DataFrame)](
      "containment" -> (() => Dedup.containmentPairs(
        docs, "doc_id", "text", n = 3, minContainment = 0.8, maxDf = Long.MaxValue)),
      "jaccard" -> (() => Dedup.ngramJaccardPairsPrefix(
        docs, "doc_id", "text", n = 3, minJaccard = 0.8, maxDf = Long.MaxValue)),
      "lsh self" -> (() => Dedup.minHashLshPairs(
        docs, "doc_id", "text", n = 3, minJaccard = 0.5)),
      "lsh against" -> (() => Dedup.minHashLshPairsAgainst(
        docs.filter(col("doc_id") % 3 === 0), docs, "doc_id", "text",
        n = 3, minJaccard = 0.5)))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val wants = runs.map { case (_, run) =>
      val base = run(); val want = rows(base); base.unpersist(); want
    }
    def leftovers() = (
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_verify_")).toSet,
      Option(new java.io.File(sys.props("java.io.tmpdir")).list())
        .toSeq.flatten.filter(_.startsWith("graft_verify_")).toSet)
    // in-memory scans reachable from a join child without crossing an
    // exchange or another join
    def scansBelow(p: SparkPlan): Seq[InMemoryTableScanExec] = p match {
      case s: InMemoryTableScanExec => Seq(s)
      case q: TableCacheQueryStageExec => scansBelow(q.plan)
      case _: Exchange | _: QueryStageExec | _: BaseJoinExec => Nil
      case a: AdaptiveSparkPlanExec => scansBelow(a.executedPlan)
      case o => o.children.flatMap(scansBelow)
    }
    def isDocsCache(s: InMemoryTableScanExec) =
      deepNodes(s.relation.cachedPlan).exists(isRepartitionByNum)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // broadcast joins off — the one switch to the co-located posture;
    // without it the tiny fixture would be broadcast and the
    // co-location path would go untested
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (((label, run), want) <- runs.zip(wants)) {
        val before = leftovers()
        val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
        val out = run()
        assert(rows(out) == want, s"$label pairs differ above the bound")
        val nodes = allNodes(verifyPlan(out))
        // each docs side is an in-memory scan of the id-repartitioned
        // cache with no exchange between it and its join
        val docsScans = nodes.collect {
          case s: InMemoryTableScanExec if isDocsCache(s) => s
        }
        val joinSides = nodes.collect {
          case j: BaseJoinExec => j.children.flatMap(scansBelow).filter(isDocsCache)
        }.filter(_.nonEmpty)
        assert(joinSides.size == 2 &&
            docsScans.forall(s => joinSides.flatten.exists(_ eq s)),
          s"$label: expected both verify joins on exchange-free scans of " +
            s"the id-repartitioned docs cache:\n${verifyPlan(out)}")
        // the docs arrays never cross a shuffle from their scans: the
        // only exchange allowed to carry an array column is the single
        // candidate-side intermediate (one array per candidate pair)
        val arrayExchanges = nodes.collect {
          case e: ShuffleExchangeExec
              if e.output.exists(_.dataType.isInstanceOf[ArrayType]) => e
        }
        assert(arrayExchanges.size <= 1,
          s"$label: ${arrayExchanges.size} array-bearing exchanges:\n" +
            arrayExchanges.mkString("\n"))
        // the result is the only cached data the call leaves: the
        // id-repartitioned (id, xs) copies are released
        val kept = spark.sparkContext.getPersistentRDDs.keySet.toSet -- rddsBefore
        assert(kept.size == 1, s"$label left cached data behind: $kept")
        assert(leftovers() == before,
          s"$label left a graft_verify_* table or temp dir")
        out.unpersist()
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("containment verify above the bound on a PRE-BUCKETED corpus: no " +
    "id-repartition, identical pairs") {
    val docs = graft.core.Graft.table(spark, dir, "documents")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0), r.get(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val base = graft.dedup.Dedup.containmentPairs(
      docs, "doc_id", "text", n = 3, minContainment = 0.8, maxDf = Long.MaxValue)
    val want = rows(base); base.unpersist()
    val tbl = s"graft_prebucketed_docs_${System.nanoTime}"
    graft.layout.Layout.writeBucketed(
      docs.select("doc_id", "text"), tbl, "doc_id", buckets = 4)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAuto = spark.conf
      .getOption("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // the engine session (Graft.session / Bench / Verify) sets this
    // false; the shared test session must match or the scan hides its
    // bucketing when planned standalone
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val out = graft.dedup.Dedup.containmentPairs(
        spark.table(tbl), "doc_id", "text",
        n = 3, minContainment = 0.8, maxDf = Long.MaxValue)
      assert(rows(out) == want, "pre-bucketed pairs differ")
      // both verify joins co-locate on the caller's own bucketing: no
      // repartition of the docs, in the verify or in any cache it reads
      val plan = verifyPlan(out)
      assert(!deepNodes(plan).exists(isRepartitionByNum),
        s"pre-bucketed corpus was still repartitioned by id:\n$plan")
      out.unpersist()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      prevAuto match {
        case Some(v) => spark.conf
          .set("spark.sql.sources.bucketing.autoBucketedScan.enabled", v)
        case None => spark.conf
          .unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      }
      graft.layout.Layout.dropWithLocation(spark, tbl)
    }
  }

  test("keyed self pair faces pair inside key groups: each pair step is " +
    "one GroupPairsExec over one shuffle, and no join pairs on a group key") {
    import graft.plans.GroupPairsExec
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, HashJoin, SortMergeJoinExec}
    val groupKeys = Set("band", "h", "key", "prior", "shingle", "shingle_b", "list_id", "bucket")
    def shufflesUnder(p: SparkPlan): Seq[SparkPlan] = p match {
      case s @ (_: ShuffleQueryStageExec | _: ShuffleExchangeExec) => Seq(s)
      case o => o.children.flatMap(shufflesUnder)
    }
    for (face <- Seq("q_dedup_ngram_jaccard", "q_dedup_jaccard_prefix",
        "q_dedup_minhash_lsh", "q_dedup_semantic", "q_dedup_embedding_cosine",
        "q_dedup_simhash", "q_dedup_simhash128", "q_mm_dhash_neardup",
        "q_audio_fingerprint_pairs")) {
      val df = Registry.byName(face).fn(spark, dir)
      df.collect()
      val nodes = deepNodes(df.queryExecution.executedPlan)
      val execs = nodes.collect { case e: GroupPairsExec => e }
      assert(execs.nonEmpty, s"$face plans no GroupPairsExec")
      for (e <- execs)
        assert(shufflesUnder(e.child).size == 1, s"$face:\n$e")
      val keyed = nodes.collect {
        case j: HashJoin => j.leftKeys ++ j.rightKeys
        case j: SortMergeJoinExec => j.leftKeys ++ j.rightKeys
      }.flatten.flatMap(_.collect { case a: AttributeReference => a.name })
      assert(!keyed.exists(groupKeys), s"$face joins on a group key: $keyed")
      assert(!nodes.exists(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
        n.isInstanceOf[CartesianProductExec]), s"$face plans a nested-loop join")
      spark.catalog.clearCache()
    }
  }

  test("keyed Ann self faces quantize each vector once: one quantize_1m, " +
    "in a projection, no isnotnull filter over it") {
    import graft.plans.QuantizeExpr
    import org.apache.spark.sql.execution.ProjectExec
    for (face <- Seq("q_dedup_semantic", "q_dedup_embedding_cosine")) {
      val df = Registry.byName(face).fn(spark, dir)
      df.collect()
      val quantizing = allNodes(df.queryExecution.executedPlan).filter(
        _.expressions.exists(_.exists(_.isInstanceOf[QuantizeExpr])))
      assert(quantizing.size == 1 && quantizing.head.isInstanceOf[ProjectExec] &&
        quantizing.head.expressions.map(_.collect { case q: QuantizeExpr => q }.size).sum == 1,
        s"$face:\n${df.queryExecution.executedPlan}")
    }
  }
}
