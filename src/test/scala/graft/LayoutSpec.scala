package graft

import graft.layout.Layout
import graft.plans.BottomKIds
import graft.queries.Registry
import org.apache.spark.sql.functions._

/** Bucketed-layout plan properties (the point of the layout: zero
  * exchange) and the native bottom-k aggregate's semantics across the
  * partial/merge/final aggregation path.
  */
class LayoutSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("bucketed co-located join plans with ZERO hash exchange") {
    val df = Registry.byName("q_layout_bucketed_join").fn(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    // the scan reports the bucket layout
    assert(p.contains("SelectedBucketsCount"), p)
  }

  test("aggregation on the bucket key plans with ZERO hash exchange") {
    val df = Registry.byName("q_layout_bucketed_agg").fn(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("unbucketed baseline DOES shuffle — the layout is what removes it") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "n_chars")
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"))
    val p = docs.hint("merge").join(embs, docs("doc_id") === embs("vec_id"))
      .queryExecution.executedPlan.toString
    assert(p.contains("Exchange hashpartitioning"), p)
  }

  test("writeBucketed produces one file per bucket (sort metadata stays usable)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "n_chars")
    Layout.writeBucketed(docs, "graft_bkt_spec_files", "doc_id", buckets = 4)
    val catalog = spark.sessionState.catalog
    val meta = catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("graft_bkt_spec_files"))
    val files = new java.io.File(new java.net.URI(meta.location.toString))
      .listFiles().filter(f => f.getName.startsWith("part-"))
    assert(files.length == 4, files.map(_.getName).mkString(","))
    assert(meta.bucketSpec.exists(_.numBuckets == 4))
  }

  test("bottomKIds agrees with the window formulation across a real shuffle") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("string").as("id"), col("source"))
      .repartition(7) // force partial buffers + serialize/merge path
    val agg = docs.groupBy("source")
      .agg(BottomKIds.bottomKIds(col("id"), "spec", 5).as("ids"))
      .select(col("source"), explode(col("ids")).as("id"))
    val win = docs
      .withColumn("h", md5(concat(lit("spec:"), col("id"))))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("h", "id")))
      .filter(col("rn") <= 5)
      .select("source", "id")
    assert(agg.count() == win.count())
    assert(agg.except(win).isEmpty && win.except(agg).isEmpty)
  }

  test("bottomKIds output is sorted by (hash, id) and capped at k") {
    val df = Seq("a", "b", "c", "d", "e").toDF("id")
    val ids = df.agg(BottomKIds.bottomKIds(col("id"), "s", 3).as("ids"))
      .select("ids").as[Seq[String]].head()
    assert(ids.length == 3)
    val hashed = ids.map(i =>
      org.apache.commons.codec.digest.DigestUtils.md5Hex("s:" + i))
    assert(hashed == hashed.sorted)
  }

  test("bottomKIds with k larger than the group returns the whole group") {
    val df = Seq(("g", "x"), ("g", "y")).toDF("grp", "id")
    val ids = df.groupBy("grp")
      .agg(BottomKIds.bottomKIds(col("id"), "s", 100).as("ids"))
      .select("ids").as[Seq[String]].head()
    assert(ids.toSet == Set("x", "y"))
  }

  test("z_order interleaves bits exactly (codegen path = scala path = hand values)") {
    import graft.plans.ZOrderExpr
    // hand-checked: x=0b101 on even bits -> 0b10001, y=0b11 on odd -> 0b1010
    assert(ZOrderExpr.interleave(5L, 0L) == 17L)
    assert(ZOrderExpr.interleave(0L, 3L) == 10L)
    assert(ZOrderExpr.interleave(5L, 3L) == 27L)
    assert(ZOrderExpr.interleave(0x7FFFFFFFL, 0x7FFFFFFFL) == (1L << 62) - 1)
    // mask: bits above 31 are ignored
    assert(ZOrderExpr.interleave(1L << 31 | 5L, 0L) == 17L)
    val df = Seq((5L, 3L), (0L, 0L), (0x7FFFFFFFL, 0L)).toDF("x", "y")
      .select(ZOrderExpr.zorder(col("x"), col("y")).as("z"))
    assert(df.as[Long].collect().toSeq == Seq(27L, 0L, 0x1555555555555555L))
  }

  test("z-order layout clusters BOTH dimensions; a plain sort clusters only one") {
    // 64x64 grid: x-major order is perfectly clustered in x, terrible
    // in y. The z-order layout must be tight in both.
    val grid = spark.range(64L * 64L)
      .select((col("id") / 64L).cast("long").as("x"),
        (col("id") % 64L).cast("long").as("y"))
    val dir = java.nio.file.Files.createTempDirectory("graftz").toString
    Layout.zorderWrite(grid, s"$dir/z", "x", "y", files = 16)
    grid.orderBy("x").repartitionByRange(16, col("x"))
      .write.mode("overwrite").parquet(s"$dir/x")
    def spans(path: String): (Double, Double) = {
      val f = spark.read.parquet(path)
        .withColumn("f", input_file_name())
        .groupBy("f")
        .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
        .agg(avg("sx"), avg("sy")).as[(Double, Double)].head()
      f
    }
    val (zx, zy) = spans(s"$dir/z")
    val (sx, sy) = spans(s"$dir/x")
    // z-order: a 256-row file is a ~16x16 tile (range boundaries are
    // sampled, so a file can straddle a quadrant edge — hence the
    // slack); both dims stay FAR below the 63 full-domain span
    assert(zx < 40 && zy < 40, s"z spans: $zx, $zy")
    // x-sort: x tight but y spans the whole 0..63 domain
    assert(sx < 8, s"x-sort x span: $sx")
    assert(sy > 60, s"x-sort y span: $sy")
  }

  test("point lookup on the bucket column prunes to ONE bucket") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "n_chars")
    Layout.writeBucketed(docs, "graft_bkt_prune", "doc_id", buckets = 8)
    // autoBucketedScan turns the bucketed scan OFF when no operator
    // wants the distribution — which also forfeits bucket pruning;
    // pin it on for the point-lookup shape
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val p = Layout.readTable(spark, "graft_bkt_prune")
        .filter(col("doc_id") === 42L)
        .queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount: 1 out of 8"), p)
    } finally
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
  }

  test("registered q_layout_bucket_prune scans at most 4 of 8 buckets") {
    val q = graft.queries.Registry.byName("q_layout_bucket_prune")
    val prev = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    try {
      // the engine pins this at session bootstrap (Graft.session);
      // the shared test session isn't built there, so mirror it
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val df = q.fn(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      val m = "SelectedBucketsCount: (\\d+) out of 8".r.findFirstMatchIn(p)
      assert(m.isDefined, s"no bucket pruning in plan:\n$p")
      assert(m.get.group(1).toInt <= 4, p)
      // and the lookup returns the probed rows
      assert(df.count() == 4L)
    } finally
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prev)
  }

  test("z-order layout prunes parquet row groups on BOTH dimensions") {
    val grid = spark.range(64L * 64L)
      .select((col("id") / 64L).cast("long").as("x"),
        (col("id") % 64L).cast("long").as("y"))
    val dir = java.nio.file.Files.createTempDirectory("graftzp").toString
    Layout.zorderWrite(grid, s"$dir/z", "x", "y", files = 16)
    grid.orderBy("x").repartitionByRange(16, col("x"))
      .write.mode("overwrite").parquet(s"$dir/x")
    def rowsRead(path: String, cond: org.apache.spark.sql.Column): Long = {
      val df = spark.read.parquet(path).filter(cond)
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics("numOutputRows").value).sum
    }
    // a y-band predicate: the x-major layout cannot prune (y is
    // uniform in every file: reads all 4096); the z layout reads only
    // the row groups whose y-range intersects
    val yOnX = rowsRead(s"$dir/x", col("y") >= 10 && col("y") <= 12)
    val yOnZ = rowsRead(s"$dir/z", col("y") >= 10 && col("y") <= 12)
    assert(yOnX == 4096L, s"x-major read $yOnX")
    assert(yOnZ < 2100L, s"z layout read $yOnZ")
    // an x-band predicate prunes on BOTH layouts (x-major is sorted by
    // x; z clusters x too)
    val xOnZ = rowsRead(s"$dir/z", col("x") >= 10 && col("x") <= 12)
    assert(xOnZ < 2100L, s"z layout read $xOnZ for x-band")
  }

  test("partitioned layout: dim filter prunes fact partitions at runtime (DPP)") {
    // Runtime pruning reuses the dim side's broadcast
    // (dynamicPartitionPruning.reuseBroadcastOnly), so it needs the
    // broadcast join. Pin the confs it depends on to their defaults:
    // an earlier suite on the shared session may have switched
    // broadcast joins off, and the pruning filter then plans as
    // dynamicpruningexpression(true) and prunes nothing.
    import org.apache.spark.sql.internal.SQLConf
    val pinned = Seq(SQLConf.AUTO_BROADCASTJOIN_THRESHOLD,
      SQLConf.DYNAMIC_PARTITION_PRUNING_ENABLED,
      SQLConf.DYNAMIC_PARTITION_PRUNING_REUSE_BROADCAST_ONLY)
      .map(e => e.key -> e.defaultValueString)
    val prior = pinned.map { case (k, _) => k -> spark.conf.getOption(k) }
    pinned.foreach { case (k, v) => spark.conf.set(k, v) }
    try dppPrunesFactScan()
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def dppPrunesFactScan(): Unit = {
    val df = Registry.byName("q_layout_partition_dpp").fn(spark, dir)
    // the optimizer inserted a runtime pruning subquery on the fact scan
    val planned = df.queryExecution.executedPlan.toString
    assert(planned.contains("dynamicpruningexpression"), planned)
    assert(!planned.contains("dynamicpruningexpression(true)"), planned)
    df.collect()
    // after execution: the fact scan only read the surviving month
    // directories — its output is a small fraction of the full table
    // (12 of 83 months), not everything-then-filter
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // plain collect stops at AQE query-stage leaves; expand them
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val here = p match {
        case f: FileSourceScanExec => Seq(f)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      here ++ kids.flatMap(allScans)
    }
    val factScans = allScans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.mkString(",").contains("graft_dpp_fact"))
    assert(factScans.nonEmpty, df.queryExecution.executedPlan.toString)
    val factRows = factScans.map(_.metrics("numOutputRows").value).sum
    val total = spark.read.parquet(s"$dir/lineitem.parquet").count()
    assert(factRows > 0, "fact scan read nothing")
    assert(factRows < total / 4,
      s"fact scan read $factRows of $total rows — partitions were not pruned")
  }

  test("appendBucketed keeps the layout: joins stay exchange-free after appends") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "n_chars")
    Layout.writeBucketed(docs.filter(col("doc_id") < 250L),
      "graft_bkt_append", "doc_id", buckets = 4)
    Layout.appendBucketed(docs.filter(col("doc_id") >= 250L), "graft_bkt_append")
    val t = Layout.readTable(spark, "graft_bkt_append")
    assert(t.count() == docs.count())
    // second batch landed as one more file per bucket, not task×bucket
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("graft_bkt_append"))
    val files = new java.io.File(new java.net.URI(meta.location.toString))
      .listFiles().count(_.getName.startsWith("part-"))
    assert(files == 8, s"expected 2 files per bucket, got $files")
    // co-located join is still exchange-free on the appended table
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id")
    Layout.writeBucketed(emb, "graft_bkt_append_emb", "vec_id", buckets = 4)
    val l = t.hint("merge")
    val p = l.join(Layout.readTable(spark, "graft_bkt_append_emb"),
      l("doc_id") === col("vec_id"))
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") && !p.contains("Exchange hashpartitioning"), p)
    // appending to an unbucketed table is rejected with a clear message
    Layout.dropWithLocation(spark, "graft_unbucketed")
    docs.limit(1).write.mode("overwrite").saveAsTable("graft_unbucketed")
    val ex = intercept[IllegalArgumentException] {
      Layout.appendBucketed(docs.limit(1), "graft_unbucketed")
    }
    assert(ex.getMessage.contains("not bucketed"))
  }

  test("compaction plans ceil(bytes/target) files and preserves rows exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graftc").toString
    // 64 tiny skewed files
    spark.range(10000L).toDF("id")
      .withColumn("pad", lpad(col("id").cast("string"), 64, "x"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/small")
    val (nIn, bytes, nOut) = Layout.compactionPlan(spark, s"$dir/small", 64 * 1024L)
    assert(nIn == 64)
    assert(nOut == ((bytes + 64 * 1024 - 1) / (64 * 1024)).toInt && nOut < 64)
    val written = Layout.compact(spark, s"$dir/small", s"$dir/big", 64 * 1024L)
    assert(written == nOut)
    val outFiles = new java.io.File(s"$dir/big")
      .listFiles().count(f => f.getName.startsWith("part-"))
    assert(outFiles == nOut)
    val a = spark.read.parquet(s"$dir/small").orderBy("id").collect().toSeq
    val b = spark.read.parquet(s"$dir/big").orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("bottom_k_ids is callable from SQL once registered") {
    GraftExtensions.install(spark)
    val got = spark.sql(
      "SELECT bottom_k_ids(id, 'q', 2) AS ids FROM VALUES ('a'),('b'),('c') t(id)")
      .as[Seq[String]].head()
    assert(got.length == 2)
  }

  test("snapshotDiff classifies added/removed/changed/unchanged per id") {
    val oldSnap = Seq((1L, "same"), (2L, "before"), (3L, "gone"))
      .toDF("doc_id", "text")
    val newSnap = Seq((1L, "same"), (2L, "after"), (4L, "fresh"))
      .toDF("doc_id", "text")
    val got = Layout.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq(
      (1L, "unchanged"), (2L, "changed"), (3L, "removed"), (4L, "added")))
  }

  test("mergeUpsert: update/delete/insert semantics, untouched partitions' files are byte-identical") {
    import spark.implicits._
    val path = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_merge_spec_${System.nanoTime}").getPath
    val base = Seq(
      (1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p2", 30.0), (4L, "p3", 40.0)
    ).toDF("k", "part", "v")
    Layout.writePartitioned(base, path, "part")

    val fsPath = new org.apache.hadoop.fs.Path(path, "part=p3")
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p3Files() = fs.listStatus(fsPath)
      .filter(_.getPath.getName.startsWith("part-"))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSeq.sorted

    val before = p3Files()
    // batch touches p1 (update k=1, delete k=2, insert k=5) and p2
    // (unmatched delete = no-op); p3 is never read or written
    val batch = Seq(
      (1L, "p1", 11.0, false),
      (2L, "p1", 0.0, true),
      (5L, "p1", 50.0, false),
      (99L, "p2", 0.0, true)
    ).toDF("k", "part", "v", "__deleted")
    Layout.mergeUpsert(spark, path, "part", "k", batch)

    val got = spark.read.parquet(path).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 11.0, 3L -> 30.0, 4L -> 40.0, 5L -> 50.0))
    // the untouched partition was not rewritten — same files, sizes, mtimes
    assert(p3Files() == before)
  }

  test("mergeUpsert: deletes that empty a partition remove its directory; " +
    "partition-moving batches and out-of-partition keys fail the contract") {
    import spark.implicits._
    val path = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_merge_empty_${System.nanoTime}").getPath
    val base = Seq(
      (1L, "p1", 10.0), (2L, "p2", 20.0), (3L, "p2", 30.0)
    ).toDF("k", "part", "v")
    Layout.writePartitioned(base, path, "part")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // batch deletes EVERY p1 row → the p1 directory itself must go
    // (dynamic overwrite alone would leave the stale files in place
    // and the "deleted" row would survive a full-table read)
    val wipeP1 = Seq((1L, "p1", 0.0, true)).toDF("k", "part", "v", "__deleted")
    Layout.mergeUpsert(spark, path, "part", "k", wipeP1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path, "part=p1")))
    val got = spark.read.parquet(path).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(2L -> 20.0, 3L -> 30.0))

    // a batch row that MOVES key 2 from p2 to p3 violates partition
    // immutability — but both partitions must be in the batch's set
    // for the pruned scan to see it, hence key 3 pinning p2
    val mover = Seq((2L, "p3", 99.0, false), (3L, "p2", 30.0, false))
      .toDF("k", "part", "v", "__deleted")
    val ex = intercept[IllegalArgumentException] {
      Layout.mergeUpsert(spark, path, "part", "k", mover)
    }
    assert(ex.getMessage.contains("across partitions"))

    // key 2 already lives in p2; a batch claiming it in p3 WITHOUT
    // touching p2 is invisible to the pruned scan — the global
    // validation opt-in catches it
    val foreign = Seq((2L, "p3", 99.0, false)).toDF("k", "part", "v", "__deleted")
    val ex2 = intercept[IllegalArgumentException] {
      Layout.mergeUpsert(spark, path, "part", "k", foreign,
        validateKeysGlobally = true)
    }
    assert(ex2.getMessage.contains("outside"))
  }

  test("mergeRollup: folding delta partials equals one full aggregation; schema drift is rejected") {
    import spark.implicits._
    val path = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_roll_spec_${System.nanoTime}").getPath
    val facts = Seq(
      ("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 30L), ("a", 4L, 40L), ("b", 5L, 5L)
    ).toDF("g", "id", "v")
    def partial(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("sv"))
    Layout.mergeRollup(spark, path, Seq("g"), partial(facts.filter($"id" <= 2)))
    Layout.mergeRollup(spark, path, Seq("g"), partial(facts.filter($"id" > 2)))
    val got = spark.read.parquet(path).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map("a" -> ((3L, 70L)), "b" -> ((2L, 35L))))
    // a delta whose columns drifted must fail loudly, not silently merge
    val drifted = facts.groupBy("g").agg(sum("v").as("other"))
    val ex = intercept[IllegalArgumentException] {
      Layout.mergeRollup(spark, path, Seq("g"), drifted)
    }
    assert(ex.getMessage.contains("drift"))
  }

  test("mergeUpsert: cold start inserts the batch; re-applying an absolute batch is idempotent") {
    import spark.implicits._
    val path = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_merge_cold_${System.nanoTime}").getPath
    val batch = Seq(
      (1L, "a", 1.0, false), (2L, "a", 2.0, true), (3L, "b", 3.0, false)
    ).toDF("k", "part", "v", "__deleted")
    Layout.mergeUpsert(spark, path, "part", "k", batch) // cold start
    val once = spark.read.parquet(path).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(once == Map(1L -> 1.0, 3L -> 3.0)) // delete rows never insert
    Layout.mergeUpsert(spark, path, "part", "k", batch) // merge ∘ merge
    val twice = spark.read.parquet(path).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(twice == once)
  }

  test("mergeUpsert: null partition values merge, flag moves, and their " +
    "emptied __HIVE_DEFAULT_PARTITION__ directory is removed") {
    import spark.implicits._
    val path = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_merge_null_${System.nanoTime}").getPath
    val base = Seq(
      (1L, Some("p1"), 10.0), (2L, None, 20.0), (3L, None, 30.0)
    ).toDF("k", "part", "v")
    Layout.writePartitioned(base, path, "part")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nullDir =
      new org.apache.hadoop.fs.Path(path, "part=__HIVE_DEFAULT_PARTITION__")
    assert(fs.exists(nullDir))

    // update k=2 and delete k=3 INSIDE the null partition — the pruned
    // scan must select the null-partition rows (a bare isin never
    // matches null), or k=2 would duplicate
    val upd = Seq((2L, Option.empty[String], 21.0, false),
      (3L, Option.empty[String], 0.0, true))
      .toDF("k", "part", "v", "__deleted")
    Layout.mergeUpsert(spark, path, "part", "k", upd)
    val got = spark.read.parquet(path).select("k", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 10.0, 2L -> 21.0))
    assert(fs.exists(nullDir)) // k=2 still lives there

    // a batch moving k=2 from the null partition to p1 must flag the
    // immutability violation (plain =!= is NULL on the null side)
    val mover = Seq((2L, Some("p1"), 99.0, false),
      (99L, Option.empty[String], 1.0, true))
      .toDF("k", "part", "v", "__deleted")
    val ex = intercept[IllegalArgumentException] {
      Layout.mergeUpsert(spark, path, "part", "k", mover)
    }
    assert(ex.getMessage.contains("across partitions"))

    // deleting the last null-partition row removes the default-name
    // directory itself (escapePathName(String.valueOf(null)) targeted a
    // literal "null" dir, silently resurrecting deleted rows)
    val wipe = Seq((2L, Option.empty[String], 0.0, true))
      .toDF("k", "part", "v", "__deleted")
    Layout.mergeUpsert(spark, path, "part", "k", wipe)
    assert(!fs.exists(nullDir))
    val left = spark.read.parquet(path).select("k").as[Long].collect().toSet
    assert(left == Set(1L))
  }

  test("mergeUpsert: timestamp partition values — emptied directory is " +
    "removed under Spark's own path rendering") {
    import spark.implicits._
    val path = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_merge_ts_${System.nanoTime}").getPath
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2026-01-02 12:30:00")
    val base = Seq((1L, t1, 10.0), (2L, t2, 20.0)).toDF("k", "part", "v")
    Layout.writePartitioned(base, path, "part")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirs() = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(dirs().size == 2) // sanity: two timestamp partitions on disk

    // delete the only row of the t2 partition: its directory (whose
    // name is the ESCAPED session-tz rendering, not String.valueOf's
    // Timestamp.toString with the .0 fraction) must be gone afterwards
    val wipe = Seq((2L, t2, 0.0, true)).toDF("k", "part", "v", "__deleted")
    Layout.mergeUpsert(spark, path, "part", "k", wipe)
    assert(dirs().size == 1)
    val got = spark.read.parquet(path).select("k").as[Long].collect().toSet
    assert(got == Set(1L))
  }
}
