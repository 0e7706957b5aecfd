package graft

import graft.streaming.Incremental
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The T1 rollup must produce identical results whether the event log
  * arrives as a batch table or as a file stream — Structured
  * Streaming's core guarantee, exercised on the real testdata.
  */
class StreamBatchParitySpec extends SparkTestBase {

  test("curation gates+dedup+redact: stream face equals batch face") {
    import spark.implicits._
    val src = "/root/testdata/sf0.001/documents.parquet"
    val dir = Files.createTempDirectory("graftdocs")
    Files.copy(Paths.get(src), dir.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

    val batch = spark.read.parquet(src)
    val schema = batch.schema
    val cfg = graft.text.CurationPipeline.Config()
    // +1: a row whose event time is EXACTLY epoch 0 sits at the initial
    // watermark and is discarded as late by the stateful dedup — keep
    // synthetic event times strictly above the initial watermark
    def withTs(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("ets", timestamp_micros((col("doc_id") + 1L) * 1000L))

    // batch face of the SAME stages the stream runs (gates + exact
    // content dedup; near-dup clustering is corpus-global and batch-only)
    import graft.text.TextAnalysis
    val batchKeys = batch
      .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("n_tok", TextAnalysis.tokenCountWs(col("text")))
      .filter(
        col("lang_pred").isin(cfg.allowedLangs: _*) &&
          col("quality") >= cfg.minQuality &&
          col("n_tok") >= cfg.minTokens
      )
      .select(md5(col("text")).as("content_key"))
      .distinct().as[String].collect().toSet

    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    val cur = Incremental.curationStream(
      withTs(stream), "doc_id", "text", "ets", cfg)
    val q = cur.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("parity_curation")
      .start()
    q.processAllAvailable()
    val streamKeys = spark
      .sql("SELECT content_key FROM parity_curation")
      .as[String].collect()
    q.stop()

    // stream picks an arbitrary representative per content key; the
    // surviving CONTENT set must match the batch funnel exactly
    assert(streamKeys.length == streamKeys.distinct.length)
    assert(streamKeys.toSet == batchKeys)
  }

  test("DSIR gate is streaming-safe: stream face equals batch face " +
    "under frozen distributions") {
    import spark.implicits._
    val src = "/root/testdata/sf0.001/documents.parquet"
    val dir = Files.createTempDirectory("graftdsir")
    Files.copy(Paths.get(src), dir.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val batch = spark.read.parquet(src)
    // distributions freeze at gate-build time (the production contract:
    // the importance model is fit on a snapshot, then applied to the
    // stream) — dsirScore against a STREAMING raw side reuses the same
    // broadcast arrays, so the per-row decision is stateless
    val target = batch.filter($"lang" === "en")
    val batchKept = graft.text.Dsir
      .dsirScore(batch, target, "doc_id", "text")
      .filter($"keep").select("doc_id").as[Long].collect().toSet
    // fit ONCE on the batch snapshot; the stream only ever APPLIES the
    // frozen model (fitting needs a corpus aggregate, which a stream
    // cannot provide statelessly — that asymmetry IS the contract)
    val model = graft.text.Dsir.fitModel(batch, target, "text", 256)
    val stream = spark.readStream.schema(batch.schema).parquet(dir.toString)
    val got = scala.collection.mutable.Set.empty[Long]
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (mb: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val kept = graft.text.Dsir
          .dsirScoreWithModel(mb, model, "doc_id", "text",
            thetaPermille = 1000)
          .filter(col("keep")).select("doc_id")
          .collect().map(_.getLong(0))
        got.synchronized { got ++= kept }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(got.toSet == batchKept)
  }

  test("frozen seed-centroid model: stream keep set equals batch keep set") {
    import spark.implicits._
    val src = "/root/testdata/sf0.001/embeddings.parquet"
    val dir = Files.createTempDirectory("graftseed")
    Files.copy(Paths.get(src), dir.resolve("embeddings.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val batch = spark.read.parquet(src)
    // fit ONCE on the seed snapshot (a corpus aggregate a stream cannot
    // provide statelessly); the stream only APPLIES the frozen centroid
    val model = graft.similarity.Ann
      .seedCentroidFit(batch.filter($"label" === 0), "vec_id", "embedding")
    val batchKept = graft.similarity.Ann
      .seedCentroidApply(batch, model, "vec_id", "embedding", 0.2)
      .filter($"keep").select("vec_id").as[Long].collect().toSet
    val stream = spark.readStream.schema(batch.schema).parquet(dir.toString)
    val got = scala.collection.mutable.Set.empty[Long]
    val q = graft.similarity.Ann
      .seedCentroidApply(stream, model, "vec_id", "embedding", 0.2)
      .filter(col("keep"))
      .writeStream
      .outputMode("append")
      .foreachBatch { (mb: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val kept = mb.select("vec_id").collect().map(_.getLong(0))
        got.synchronized { got ++= kept }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(batchKept.nonEmpty && got.toSet == batchKept)
  }

  test("gopher gate on: stream face still equals batch face") {
    import spark.implicits._
    val src = "/root/testdata/sf0.001/documents.parquet"
    val dir = Files.createTempDirectory("graftdocs3")
    Files.copy(Paths.get(src), dir.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val batch = spark.read.parquet(src)
    val cfg = graft.text.CurationPipeline.Config(useGopherGate = true)
    import graft.text.TextAnalysis
    val batchKeys = batch
      .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("n_tok", TextAnalysis.tokenCountWs(col("text")))
      .filter(
        col("lang_pred").isin(cfg.allowedLangs: _*) &&
          col("quality") >= cfg.minQuality &&
          col("n_tok") >= cfg.minTokens &&
          graft.text.CurationPipeline.gopherPredicate(col("text"), cfg)
      )
      .select(md5(col("text")).as("content_key"))
      .distinct().as[String].collect().toSet
    val stream = spark.readStream.schema(batch.schema).parquet(dir.toString)
    val cur = Incremental.curationStream(
      stream.withColumn("ets", timestamp_micros((col("doc_id") + 1L) * 1000L)),
      "doc_id", "text", "ets", cfg)
    val q = cur.writeStream.outputMode("append").format("memory")
      .queryName("parity_gopher").start()
    q.processAllAvailable()
    val streamKeys = spark.sql("SELECT content_key FROM parity_gopher")
      .as[String].collect()
    q.stop()
    assert(streamKeys.toSet == batchKeys)
    // the gate must actually bite: it is stricter than the base gates
    assert(batchKeys.nonEmpty && streamKeys.length < 500)
  }

  test("repetition gate on: stream face still equals batch face") {
    import spark.implicits._
    val src = "/root/testdata/sf0.001/documents.parquet"
    val dir = Files.createTempDirectory("graftdocs4")
    Files.copy(Paths.get(src), dir.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val batch = spark.read.parquet(src)
    val cfg = graft.text.CurationPipeline.Config(useRepetitionGate = true,
      maxTop2gramPermille = 50) // tight enough to actually bite
    import graft.text.TextAnalysis
    val batchKeys = batch
      .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("n_tok", TextAnalysis.tokenCountWs(col("text")))
      .filter(
        col("lang_pred").isin(cfg.allowedLangs: _*) &&
          col("quality") >= cfg.minQuality &&
          col("n_tok") >= cfg.minTokens &&
          graft.text.CurationPipeline.repetitionPredicate(col("text"), cfg))
      .select(md5(col("text")).as("content_key"))
      .distinct().as[String].collect().toSet
    val stream = spark.readStream.schema(batch.schema).parquet(dir.toString)
    val cur = Incremental.curationStream(
      stream.withColumn("ets", timestamp_micros((col("doc_id") + 1L) * 1000L)),
      "doc_id", "text", "ets", cfg)
    val q = cur.writeStream.outputMode("append").format("memory")
      .queryName("parity_repetition").start()
    q.processAllAvailable()
    val streamKeys = spark.sql("SELECT content_key FROM parity_repetition")
      .as[String].collect()
    q.stop()
    assert(streamKeys.toSet == batchKeys)
    // the gate must actually bite at this threshold
    assert(batchKeys.nonEmpty && streamKeys.length < 500)
  }

  test("curation dedup state works ACROSS micro-batches") {
    import spark.implicits._
    val src = "/root/testdata/sf0.001/documents.parquet"
    val dir = Files.createTempDirectory("graftdocs2")
    // the same corpus arrives twice, in two separate micro-batches —
    // every second-batch row is a duplicate and must hit first-batch
    // state, not just in-batch dedup
    Files.copy(Paths.get(src), dir.resolve("a_documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(src), dir.resolve("b_documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(src).schema
    val cfg = graft.text.CurationPipeline.Config()
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // force one file per micro-batch
      .parquet(dir.toString)
    val cur = Incremental.curationStream(
      stream.withColumn("ets", timestamp_micros((col("doc_id") + 1L) * 1000L)),
      "doc_id", "text", "ets", cfg)
    val q = cur.writeStream.outputMode("append").format("memory")
      .queryName("parity_crossbatch").start()
    q.processAllAvailable()
    val keys = spark.sql("SELECT content_key FROM parity_crossbatch")
      .as[String].collect()
    q.stop()
    assert(keys.length == keys.distinct.length,
      s"cross-batch duplicates leaked: ${keys.length} rows, ${keys.distinct.length} distinct")
  }

  test("streaming canonical-URL dedup collapses variants across micro-batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("grafturls")
    // same page under two URL spellings, one per micro-batch — the
    // canonical key must hit first-batch state
    Seq((1L, "HTTP://Site.COM:80/p/1/?utm_source=x&id=7"))
      .toDF("row_id", "url").write.parquet(dir.resolve("a").toString)
    Seq((2L, "http://site.com/p/1?id=7#top"),
      (3L, "http://site.com/p/2?id=8"))
      .toDF("row_id", "url").write.parquet(dir.resolve("b").toString)
    val schema = spark.read.parquet(dir.resolve("a").toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/*")
    val deduped = Incremental.dedupByKey(
      stream
        .withColumn("canonical_url",
          graft.text.UrlOps.canonicalizeUrl(col("url")))
        .withColumn("ets", timestamp_micros((col("row_id") + 1L) * 1000L)),
      "ets", Seq("canonical_url"))
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("parity_urldedup").start()
    q.processAllAvailable()
    val urls = spark.sql("SELECT canonical_url FROM parity_urldedup")
      .as[String].collect().sorted
    q.stop()
    assert(urls.toSeq == Seq(
      "http://site.com/p/1?id=7", "http://site.com/p/2?id=8"),
      s"got: ${urls.mkString(", ")}")
  }

  test("streaming corpus refresh equals the batch composite across micro-batches") {
    import spark.implicits._
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = Files.createTempDirectory("graftrefresh")
    // the crawl arrives in TWO micro-batches (split by doc parity);
    // 2/3 of it is already-ingested history and must die at the Bloom
    // front door without reaching the funnel
    src.filter(col("doc_id") % 2L === 0L)
      .write.parquet(dir.resolve("a").toString)
    src.filter(col("doc_id") % 2L =!= 0L)
      .write.parquet(dir.resolve("b").toString)
    val history = src.filter(col("doc_id") % 3L =!= 0L).select("doc_id")
    val cfg = graft.text.CurationPipeline.Config()
    val tableName = "graft_refresh_stream_t"
    val ckpt = Files.createTempDirectory("graftrefreshckpt").toString
    try {
      val stream = spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir.toString + "/*")
      val q = Incremental.refreshStream(
        stream.withColumn("ets", timestamp_micros((col("doc_id") + 1L) * 1000L)),
        history, "doc_id", "text", "ets", tableName, ckpt, cfg)
      q.awaitTermination()

      // batch face of the same composite: plain anti-join (bloom is
      // bit-identical by TextDedupSpec), gates, exact content dedup,
      // redaction
      import graft.text.TextAnalysis
      val novel = src.join(history, Seq("doc_id"), "left_anti")
      val batchClean = novel
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .withColumn("n_tok", TextAnalysis.tokenCountWs(col("text")))
        .filter(
          col("lang_pred").isin(cfg.allowedLangs: _*) &&
            col("quality") >= cfg.minQuality &&
            col("n_tok") >= cfg.minTokens)
        .select(md5(TextAnalysis.redactPii(col("text"))).as("k"))
        .distinct().as[String].collect().toSet

      val table = graft.layout.Layout.readTable(spark, tableName)
      val streamKeys = table.select(md5(col("clean_text")).as("k"))
        .as[String].collect()
      // one representative per surviving content key, none leaked
      // across the micro-batch boundary, content set identical
      assert(streamKeys.length == streamKeys.distinct.length,
        "cross-batch duplicate leaked into the refresh corpus")
      assert(streamKeys.toSet == batchClean)
      assert(streamKeys.nonEmpty)

      // and the appended refresh corpus KEPT the bucketed layout: a
      // key aggregation over it plans with zero shuffle exchanges
      val agg = table.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"), sum(length(col("clean_text"))).as("c"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"refresh corpus lost its layout:\n$plan")
    } finally
      graft.layout.Layout.dropWithLocation(spark, tableName)
  }

  private def nearDupParity(queryName: String, stateTtlMs: Long): Unit = {
    import spark.implicits._
    val raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // synthetic event time for the TTL face: doc_id seconds apart, so
    // the whole corpus spans ~10 min — far inside the 30-day horizon.
    // +1 keeps doc 0 ABOVE the initial epoch-0 watermark (a row AT the
    // watermark is filtered as late before the stateful operator)
    val src = raw.withColumn("ets", timestamp_millis((col("doc_id") + 1L) * 1000L))
    val dir = Files.createTempDirectory("graftneardup")
    // two micro-batches split by parity — near-dup pairs crossing the
    // batch boundary must be closed against first-batch bucket state
    src.filter(col("doc_id") % 2L === 0L)
      .write.parquet(dir.resolve("a").toString)
    src.filter(col("doc_id") % 2L =!= 0L)
      .write.parquet(dir.resolve("b").toString)
    val stream = spark.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString + "/*")
    // generous lateness bound: the odd-id batch arrives entirely
    // "late" relative to the even-id batch's max event time
    val pairs = Incremental.nearDupStream(
      stream, "doc_id", "text", minJaccard = 0.12,
      stateTtlMs = stateTtlMs, eventTimeCol = "ets",
      watermarkDelay = "30 days")
    val q = pairs.writeStream.outputMode("append").format("memory")
      .queryName(queryName).start()
    q.processAllAvailable()
    val got = spark.sql(s"SELECT a, b, jaccard FROM $queryName")
      .as[(String, String, Double)].collect()
      .map { case (a, b, j) =>
        val (x, y) = (a.toLong, b.toLong)
        (math.min(x, y), math.max(x, y), j)
      }.toSet
    q.stop()
    val want = graft.dedup.Dedup
      .minHashLshPairs(src, "doc_id", "text", n = 3, bands = 8,
        rowsPerBand = 4, minJaccard = 0.12)
      .as[(Long, Long, Double)].collect().toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"stream ${got.size} pairs vs batch ${want.size}: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("streaming near-dup (LSH bucket state) equals batch pairs across micro-batches") {
    nearDupParity("parity_neardup", stateTtlMs = 0L)
  }

  test("near-dup TTL face: parity holds within the TTL horizon") {
    // generous TTL — the whole corpus arrives well inside the lease,
    // so the EventTimeTimeout code path must reproduce the batch pair
    // set exactly
    nearDupParity("parity_neardup_ttl", stateTtlMs = 30L * 24 * 3600 * 1000)
  }

  test("near-dup TTL ages out cold bucket state under key churn") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, java.sql.Timestamp)]
    val tA = "the quick brown fox jumps over the lazy dog again and again today"
    val tB = "completely different content about distributed systems and shuffles here"
    val ttl = 60_000L // 1 min of EVENT time — no wall-clock sleeps
    val base = 1_600_000_000_000L
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val pairs = Incremental.nearDupStream(
      input.toDF().toDF("doc_id", "text", "ets"), "doc_id", "text",
      minJaccard = 0.8, stateTtlMs = ttl, eventTimeCol = "ets")
    val q = pairs.writeStream.outputMode("append").format("memory")
      .queryName("ttl_churn_neardup").start()
    def stateRows: Long =
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    // batch 1: an identical pair IN ONE BATCH; both docs share all 8
    // (band, h) buckets, so state is 8 groups with a base+ttl lease
    input.addData((1L, tA, ts(base)), (2L, tA, ts(base)))
    q.processAllAvailable()
    assert(stateRows == 8L, s"expected 8 bucket groups, got $stateRows")
    // batch 2: an unrelated doc advances the watermark past the tA
    // lease; the engine's follow-up batch must REMOVE the expired tA
    // buckets — without the TTL this would settle at 16 state rows
    input.addData((100L, tB, ts(base + ttl + 1000L)))
    q.processAllAvailable()
    assert(stateRows == 8L,
      s"cold buckets survived the TTL: $stateRows state rows")
    // batch 3: tA returns after the horizon — its old state is gone,
    // so no pair against doc 1 or 2 can close
    input.addData((3L, tA, ts(base + ttl + 2000L)))
    q.processAllAvailable()
    val got = spark.sql("SELECT a, b FROM ttl_churn_neardup")
      .as[(String, String)].collect().toSet
    q.stop()
    assert(got == Set(("1", "2")),
      s"expected only the within-horizon pair, got $got")
  }

  test("refresh stream RESUMES from its checkpoint: a restart processes only " +
    "new files and the dedup state survives the restart") {
    import spark.implicits._
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 120L)
    val dir = Files.createTempDirectory("graftresume")
    val tableName = "graft_resume_stream_t"
    val ckpt = Files.createTempDirectory("graftresumeckpt").toString
    val history = src.limit(0).select("doc_id")
    val cfg = graft.text.CurationPipeline.Config()
    def ets(d: org.apache.spark.sql.DataFrame) =
      d.withColumn("ets", timestamp_micros((col("doc_id") + 1L) * 1000L))
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(src.schema)
        .parquet(dir.toString + "/*")
      Incremental.refreshStream(
        ets(stream), history, "doc_id", "text", "ets", tableName, ckpt, cfg)
        .awaitTermination()
    }
    try {
      // run 1: first crawl increment lands
      src.filter(col("doc_id") < 60L).write.parquet(dir.resolve("a").toString)
      runOnce()
      val t1 = graft.layout.Layout.readTable(spark, tableName)
        .select("doc_id").as[Long].collect().toSet
      assert(t1.nonEmpty && t1.forall(_ < 60L))
      // run 2, SAME checkpoint: a second increment arrives — including
      // doc 200, an exact duplicate of a run-1 survivor, which must die
      // against the RESTORED dedup state, not re-enter
      val dupSrc = src.filter(col("doc_id") === t1.min)
        .withColumn("doc_id", lit(200L))
      src.filter(col("doc_id") >= 60L).unionByName(dupSrc)
        .write.parquet(dir.resolve("b").toString)
      runOnce()
      val t2 = graft.layout.Layout.readTable(spark, tableName)
        .select("doc_id").as[Long].collect().toSeq
      // run-1 rows were NOT reprocessed (no duplicate appends) ...
      assert(t2.size == t2.distinct.size, "restart re-appended old rows")
      assert(t1.subsetOf(t2.toSet))
      // ... new docs landed, and the cross-restart duplicate did not
      assert(t2.exists(id => id >= 60L && id < 120L))
      assert(!t2.contains(200L),
        "cross-restart duplicate survived: dedup state was not restored")
    } finally
      graft.layout.Layout.dropWithLocation(spark, tableName)
  }

  test("near-dup stream RESUMES from its checkpoint: LSH bucket state " +
    "survives the restart — cross-restart pairs close, committed pairs " +
    "are not re-emitted") {
    import spark.implicits._
    val root = Files.createTempDirectory("graftndresume")
    val inDir = root.resolve("in")
    val outPath = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt").toString
    val tA = "the quick brown fox jumps over the lazy dog again and again today"
    val tB = "completely different content about distributed systems and shuffles here"
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(inDir.toString + "/*")
      val q = Incremental.nearDupStream(stream, "doc_id", "text", minJaccard = 0.8)
        .writeStream.outputMode("append").format("parquet")
        .option("path", outPath).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // run 1: the (1, 2) pair closes and commits
    Seq((1L, tA), (2L, tA), (10L, tB)).toDF("doc_id", "text")
      .write.parquet(inDir.resolve("a").toString)
    runOnce()
    def rows() = spark.read.parquet(outPath)
      .select("a", "b").as[(String, String)].collect().toSeq
    val r1 = rows()
    assert(r1.toSet == Set(("1", "2")), s"run 1 pairs: $r1")
    val n12 = r1.count(_ == ("1", "2"))
    // run 2, SAME checkpoint: doc 3 (another copy of tA) arrives — it
    // must pair against docs 1 AND 2 out of the RESTORED bucket state,
    // and the already-committed (1, 2) pair must not re-emit
    Seq((3L, tA)).toDF("doc_id", "text")
      .write.parquet(inDir.resolve("b").toString)
    runOnce()
    val r2 = rows()
    assert(r2.toSet == Set(("1", "2"), ("1", "3"), ("2", "3")),
      s"cross-restart pairs did not close (state lost?): ${r2.toSet}")
    assert(r2.count(_ == ("1", "2")) == n12,
      "restart re-emitted an already-committed pair")
  }

  test("shard stream RESUMES from its checkpoint: a restart packs only " +
    "new files, offsets continue gaplessly, nothing re-lands") {
    import spark.implicits._
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val root = Files.createTempDirectory("graftshardresume")
    val inDir = root.resolve("in")
    val shardPath = root.resolve("shards").toString
    val ckpt = root.resolve("ckpt").toString
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(src.schema)
        .parquet(inDir.toString + "/*")
      Incremental.shardStream(stream, "doc_id", "text", shardPath, ckpt,
        tokensPerShard = 512L).awaitTermination()
    }
    val lo = src.filter($"doc_id" < 100L)
    val hi = src.filter($"doc_id" >= 100L && $"doc_id" < 150L)
    lo.write.parquet(inDir.resolve("a").toString)
    runOnce()
    val t1 = spark.read.parquet(shardPath).select("doc_id")
      .as[Long].collect().toSeq
    assert(t1.sorted == lo.select("doc_id").as[Long].collect().toSeq.sorted)
    // run 2, SAME checkpoint: only the new increment's docs land
    hi.write.parquet(inDir.resolve("b").toString)
    runOnce()
    val rows = spark.read.parquet(shardPath)
      .select(col("doc_id"), col("shard").cast("long"),
        col("start_off"), col("end_off"))
      .as[(Long, Long, Long, Long)].collect()
    // exactly-once across the restart: every doc exactly once
    assert(rows.map(_._1).toSeq.sorted ==
      (lo.unionByName(hi)).select("doc_id").as[Long].collect().toSeq.sorted,
      "restart re-landed or lost docs")
    // offsets continue gaplessly from run 1 into run 2
    val byOff = rows.sortBy(_._3)
    assert(byOff.head._3 == 0L)
    byOff.sliding(2).foreach {
      case Array(a, b) => assert(a._4 == b._3, s"offset gap between $a and $b")
      case _           => ()
    }
    byOff.foreach { case (_, sh, so, _) => assert(sh == so / 512L) }
  }

  test("full refresh composition: stream-curate -> batch near-dup sweep -> " +
    "training shards (the lambda split, end to end)") {
    import spark.implicits._
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = Files.createTempDirectory("graftcompose")
    val tableName = "graft_compose_stream_t"
    val ckpt = dir.resolve("ckpt").toString
    try {
      // phase 1 (STREAM): two crawl increments through refreshStream —
      // gates + watermark-keyed exact dedup land a bucketed corpus
      // inputs under their own subdir — the glob must not swallow the
      // checkpoint living next to them
      src.filter(col("doc_id") % 2L === 0L)
        .write.parquet(dir.resolve("in").resolve("a").toString)
      src.filter(col("doc_id") % 2L =!= 0L)
        .write.parquet(dir.resolve("in").resolve("b").toString)
      val realStream = spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir.resolve("in").toString + "/*")
        .withColumn("ets", timestamp_micros((col("doc_id") + 1L) * 1000L))
      Incremental.refreshStream(
        realStream, src.limit(0).select("doc_id"), "doc_id", "text", "ets",
        tableName, ckpt).awaitTermination()
      val corpus = graft.layout.Layout.readTable(spark, tableName)
      val nCorpus = corpus.count()
      assert(nCorpus > 0)
      // phase 2 (BATCH, the lambda split): corpus-global LSH near-dup
      // clusters + quality-aware representative selection
      val clusters = graft.dedup.Dedup.lshClusters(
        corpus, "doc_id", "clean_text", n = 3, minJaccard = 0.6)
      val scored = corpus.select(col("doc_id"),
        length(col("clean_text")).cast("double").as("score"))
      val decisions = graft.dedup.Dedup.clusterRepresentatives(
        clusters, scored, "doc_id", "score")
      val keep = corpus.join(
        decisions.filter(col("is_representative")).select("doc_id"),
        Seq("doc_id"))
      val nKeep = keep.count()
      assert(nKeep > 0 && nKeep < nCorpus,
        s"near-dup sweep should drop something: $nKeep of $nCorpus")
      // phase 3 (SINK): token-balanced training shards over the kept set
      val shardPath = dir.resolve("shards").toString
      graft.io.Sinks.writeTrainingShards(
        keep, "doc_id", "clean_text", shardPath, tokensPerShard = 256L)
      val back = spark.read.parquet(shardPath)
      assert(back.count() == nKeep)
      assert(back.select("doc_id").distinct().count() == nKeep,
        "a kept doc was split or duplicated across shards")
      // token mass conservation: shard offsets account for exactly the
      // kept corpus's tokens
      val tokKeep = keep
        .agg(sum(graft.text.TextAnalysis.tokenCountWs(col("clean_text"))))
        .head().getLong(0)
      val tokShards = back
        .agg(sum(col("end_off") - col("start_off"))).head().getLong(0)
      assert(tokShards == tokKeep, s"token mass drifted: $tokShards vs $tokKeep")
    } finally
      graft.layout.Layout.dropWithLocation(spark, tableName)
  }

  test("streaming training shards equal the batch sink under in-order delivery") {
    import spark.implicits._
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val root = Files.createTempDirectory("graftshards")
    val batchPath = root.resolve("batch").toString
    val streamPath = root.resolve("stream").toString
    graft.io.Sinks.writeTrainingShards(
      src, "doc_id", "text", batchPath, tokensPerShard = 512L)
    // two in-order increments: low ids arrive (and commit) before high
    // ids — one file each so maxFilesPerTrigger=1 gives exactly that
    // split; explicit mtimes pin the file-source ordering
    val mid = src.agg(expr("percentile_approx(doc_id, 0.5)")).first().getLong(0)
    val inDir = root.resolve("in")
    src.filter(col("doc_id") <= mid).coalesce(1).write.parquet(inDir.resolve("a").toString)
    src.filter(col("doc_id") > mid).coalesce(1).write.parquet(inDir.resolve("b").toString)
    val now = System.currentTimeMillis()
    new java.io.File(inDir.resolve("a").toString).listFiles()
      .foreach(_.setLastModified(now - 60000L))
    new java.io.File(inDir.resolve("b").toString).listFiles()
      .foreach(_.setLastModified(now))
    val stream = spark.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString + "/*")
    val q = Incremental.shardStream(
      stream, "doc_id", "text", streamPath,
      root.resolve("ckpt").toString, tokensPerShard = 512L)
    q.awaitTermination()
    // the stream-built table IS the batch table: same per-doc shard
    // assignment and offsets, same per-shard manifest
    def docs(p: String) = spark.read.parquet(p)
      .select(col("doc_id"), col("shard").cast("long"),
        col("start_off"), col("end_off"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val bd = docs(batchPath)
    val sd = docs(streamPath)
    assert(bd.nonEmpty && bd.map(_._2).size > 1, "fixture spans several shards")
    assert(sd == bd,
      s"doc-level shard assignment diverged: ${(bd -- sd).take(3)} vs ${(sd -- bd).take(3)}")
    def manifest(p: String) = spark.read.parquet(p)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("end_off") - col("start_off")).as("n_tokens"),
        min(col("start_off")).as("min_start"),
        max(col("end_off")).as("max_end"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(manifest(streamPath) == manifest(batchPath))
  }

  test("streaming training shards under OUT-OF-ORDER delivery: packing " +
    "invariants hold and the doc payloads match the batch sink") {
    import spark.implicits._
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val root = Files.createTempDirectory("graftshardsooo")
    val batchPath = root.resolve("batch").toString
    val streamPath = root.resolve("stream").toString
    graft.io.Sinks.writeTrainingShards(
      src, "doc_id", "text", batchPath, tokensPerShard = 512L)
    // REVERSED delivery: the high-id half arrives (and commits) before
    // the low-id half — a shuffled upstream, a backfill, a repartition
    val mid = src.agg(expr("percentile_approx(doc_id, 0.5)")).first().getLong(0)
    val inDir = root.resolve("in")
    src.filter(col("doc_id") > mid).coalesce(1).write.parquet(inDir.resolve("a").toString)
    src.filter(col("doc_id") <= mid).coalesce(1).write.parquet(inDir.resolve("b").toString)
    val now = System.currentTimeMillis()
    new java.io.File(inDir.resolve("a").toString).listFiles()
      .foreach(_.setLastModified(now - 60000L))
    new java.io.File(inDir.resolve("b").toString).listFiles()
      .foreach(_.setLastModified(now))
    val stream = spark.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString + "/*")
    val q = Incremental.shardStream(
      stream, "doc_id", "text", streamPath,
      root.resolve("ckpt").toString, tokensPerShard = 512L)
    q.awaitTermination()

    // doc→shard ASSIGNMENT legitimately differs from the batch face
    // (packing is arrival-ordered); what must hold out of order:
    val rows = spark.read.parquet(streamPath)
      .select(col("doc_id"), col("shard").cast("long"),
        col("start_off"), col("end_off"))
      .as[(Long, Long, Long, Long)].collect()
    // 1. every doc present exactly once (whole docs, no splits/dups)
    assert(rows.map(_._1).toSeq.sorted == src.select("doc_id")
      .as[Long].collect().toSeq.sorted)
    // 2. gapless offsets from 0 in arrival order
    val byOff = rows.sortBy(_._3)
    assert(byOff.head._3 == 0L)
    byOff.sliding(2).foreach {
      case Array(a, b) => assert(a._4 == b._3, s"offset gap between $a and $b")
      case _           => ()
    }
    // 3. shard = start_off div target
    byOff.foreach { case (_, sh, so, _) => assert(sh == so / 512L) }
    // 4. per-doc token spans match the batch face exactly (payload
    //    integrity is delivery-order independent)
    val spanOf = rows.map(r => r._1 -> (r._4 - r._3)).toMap
    spark.read.parquet(batchPath)
      .select(col("doc_id"), (col("end_off") - col("start_off")).as("len"))
      .as[(Long, Long)].collect()
      .foreach { case (id, len) => assert(spanOf(id) == len, s"doc $id span") }
    // 5. manifest recorded the final batch of the lineage
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val last = graft.io.Sinks.lastAppliedBatch(
      fs, new org.apache.hadoop.fs.Path(streamPath))
    assert(last.exists(_._2 == 1L), s"manifest should end at batch 1, got $last")
  }

  test("shard sink replay: a re-applied micro-batch is a no-op, a fresh " +
    "checkpoint lineage is not swallowed by the stale manifest") {
    import spark.implicits._
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val root = Files.createTempDirectory("graftshardreplay")
    val path = root.resolve("shards").toString
    val lo = src.filter($"doc_id" < 100L)
    val hi = src.filter($"doc_id" >= 100L && $"doc_id" < 200L)
    val later = src.filter($"doc_id" >= 200L && $"doc_id" < 250L)
    def snapshot() = spark.read.parquet(path)
      .select(col("doc_id"), col("shard").cast("long"),
        col("start_off"), col("end_off"))
      .as[(Long, Long, Long, Long)].collect().toSet

    graft.io.Sinks.appendTrainingShards(
      lo, "doc_id", "text", path, 512L, batchId = 0L, batchTag = "ck1")
    graft.io.Sinks.appendTrainingShards(
      hi, "doc_id", "text", path, 512L, batchId = 1L, batchTag = "ck1")
    val committed = snapshot()

    // at-least-once replay of batch 1 (crash after parquet append +
    // manifest write, before checkpoint commit): must change NOTHING —
    // without the manifest gate the docs would re-land at new offsets
    graft.io.Sinks.appendTrainingShards(
      hi, "doc_id", "text", path, 512L, batchId = 1L, batchTag = "ck1")
    assert(snapshot() == committed,
      "replayed micro-batch mutated the shard table")
    // replay of an EARLIER batch too (offset-log rewind)
    graft.io.Sinks.appendTrainingShards(
      lo, "doc_id", "text", path, 512L, batchId = 0L, batchTag = "ck1")
    assert(snapshot() == committed)

    // fresh checkpoint lineage: batchIds restart at 0 — the stale
    // ck1 manifest (id 1) must NOT swallow the new run's batch 0
    graft.io.Sinks.appendTrainingShards(
      later, "doc_id", "text", path, 512L, batchId = 0L, batchTag = "ck2")
    val after = snapshot()
    assert(after.size == committed.size + later.count().toInt,
      "fresh-lineage batch 0 was swallowed by the stale manifest")
    // and the packing is still valid: gapless offsets from 0, shard =
    // start_off div target
    val rows = spark.read.parquet(path)
      .select(col("shard").cast("long"), col("start_off"), col("end_off"))
      .as[(Long, Long, Long)].collect().sortBy(_._2)
    assert(rows.head._2 == 0L)
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a._3 == b._2, s"offset gap between $a and $b")
      case _           => ()
    }
    rows.foreach { case (sh, so, _) => assert(sh == so / 512L) }
  }

  test("shard sink: a truncated/corrupt _last_batch manifest fails open " +
    "to at-least-once, not to a permanent crash") {
    import spark.implicits._
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val root = Files.createTempDirectory("graftshardcorrupt")
    val path = root.resolve("shards").toString
    val lo = src.filter($"doc_id" < 100L)
    graft.io.Sinks.appendTrainingShards(
      lo, "doc_id", "text", path, 512L, batchId = 0L, batchTag = "ck1")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val manifest = new org.apache.hadoop.fs.Path(path, "_last_batch")

    // truncated manifest (one line, no id) — parse must yield None
    for (corrupt <- Seq("ck1", "", "ck1\nnot-a-number")) {
      val out = fs.create(manifest, true)
      try out.write(corrupt.getBytes("UTF-8")) finally out.close()
      assert(graft.io.Sinks.lastAppliedBatch(
        fs, new org.apache.hadoop.fs.Path(path)).isEmpty,
        s"malformed manifest ${corrupt.replace("\n", "\\n")} did not fail open")
    }

    // and the NEXT micro-batch still lands (re-append window accepted,
    // no ArrayIndexOutOfBounds/NumberFormatException crash loop)
    val hi = src.filter($"doc_id" >= 100L && $"doc_id" < 150L)
    graft.io.Sinks.appendTrainingShards(
      hi, "doc_id", "text", path, 512L, batchId = 1L, batchTag = "ck1")
    assert(graft.io.Sinks.lastAppliedBatch(
      fs, new org.apache.hadoop.fs.Path(path)).contains(("ck1", 1L)))
    val n = spark.read.parquet(path).count()
    assert(n == lo.count() + hi.count())
  }

  test("windowed rollup: stream face equals batch face on sf0.001 events") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = "/root/testdata/sf0.001/events.parquet"
    val dir = Files.createTempDirectory("graftevents")
    Files.copy(Paths.get(src), dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

    val batch = spark.read.parquet(src)
    val schema = batch.schema
    // fixture-vintage adaptive: ts is long nanos (old TIMESTAMP(NANOS)
    // via nanosAsLong) or TIMESTAMP_NTZ micros (current fixtures)
    def prep(df: org.apache.spark.sql.DataFrame) =
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ets", timestamp_micros((col("ts") / 1000L).cast("long")))
        case _ =>
          df.withColumn("ets", col("ts").cast("timestamp"))
      }

    val batchResult = prep(batch)
      .groupBy(window(col("ets"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        round(col("total"), 6).as("total"))
      .orderBy("ws", "event_type")
      .collect()
      .toSeq

    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    val agg = Incremental.windowedRollup(prep(stream), "ets", "10 minutes", "5 minutes")
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("parity_rollup")
      .start()
    q.processAllAvailable()
    val streamResult = spark
      .sql("""SELECT window.start AS ws, event_type, n, round(total, 6) AS total
              FROM parity_rollup ORDER BY ws, event_type""")
      .collect()
      .toSeq
    q.stop()

    assert(streamResult.size == batchResult.size)
    assert(streamResult == batchResult)
  }

  test("native session_window STREAMING face equals the batch face once " +
    "the watermark closes every session") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val root = Files.createTempDirectory("graftsesswin")
    val inDir = root.resolve("in")
    // batch face over the fixture events (ts normalized by Graft.table)
    val ev = graft.core.Graft
      .table(spark, "/root/testdata/sf0.001", "events")
      .withColumn("tts", graft.core.Graft.tsCol(col("ts")))
      .select("user_id", "event_id", "tts")
      .cache()
    val batchSessions = ev
      .groupBy(col("user_id"), session_window(col("tts"), "1 hour").as("sw"))
      .agg(count(lit(1)).as("n_events"), min("event_id").as("first_event"),
        max("event_id").as("last_event"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("start_us"),
        col("n_events"), col("first_event"), col("last_event"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet

    // stream face: the real data in file 1; file 2 carries one sentinel
    // event far past every fixture session, so the watermark (10 min
    // lag) passes every real session's close and append mode emits them
    ev.coalesce(1).write.parquet(inDir.resolve("a").toString)
    val sentinelTs = ev.agg(max(unix_micros(col("tts")))).first().getLong(0) +
      100L * 3600L * 1000000L
    Seq((-999L, -999L)).toDF("user_id", "event_id")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(lit(sentinelTs)).as("tts"))
      .coalesce(1).write.parquet(inDir.resolve("b").toString)
    val now = System.currentTimeMillis()
    new java.io.File(inDir.resolve("a").toString).listFiles()
      .foreach(_.setLastModified(now - 60000L))
    new java.io.File(inDir.resolve("b").toString).listFiles()
      .foreach(_.setLastModified(now))

    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString + "/*")
    val agg = stream
      .withWatermark("tts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("tts"), "1 hour").as("sw"))
      .agg(count(lit(1)).as("n_events"), min("event_id").as("first_event"),
        max("event_id").as("last_event"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("start_us"),
        col("n_events"), col("first_event"), col("last_event"))
    val q = agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sess_parity")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamSessions = spark.sql(
      "SELECT * FROM sess_parity WHERE user_id != -999")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    ev.unpersist()
    assert(batchSessions.nonEmpty)
    assert(streamSessions == batchSessions,
      s"missing=${(batchSessions -- streamSessions).take(3)} " +
        s"extra=${(streamSessions -- batchSessions).take(3)}")
  }

  test("streaming bottom-k sample equals the batch aggregate across micro-batches") {
    import spark.implicits._
    val src = "/root/testdata/sf0.001/documents.parquet"
    val full = spark.read.parquet(src)
    val dir = Files.createTempDirectory("graftbk")
    // two DISJOINT halves, one micro-batch each: state must carry the
    // first half's heap into the second
    full.filter($"doc_id" < 250L).coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("h1").toString)
    full.filter($"doc_id" >= 250L).coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("h2").toString)
    val stream = spark.readStream.schema(full.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/{h1,h2}")
    // capture the LAST emitted sample per group via foreachBatch
    val last = scala.collection.mutable.Map.empty[String, Seq[String]]
    val q = Incremental
      .streamingBottomK(stream, "source", "doc_id", salt = "sbk", k = 5)
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Incremental.GroupSample], _: Long) =>
        b.collect().foreach(r => last(r.group) = r.sample_ids)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val batch = full
      .groupBy($"source")
      .agg(graft.plans.BottomKIds
        .bottomKIds($"doc_id".cast("string"), "sbk", 5).as("ids"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq)
      .toMap
    assert(last.toMap == batch)
    assert(batch.nonEmpty && batch.values.forall(_.length == 5))
  }

  test("spanCorrupt is streaming-safe: stream rows equal batch rows bit-for-bit") {
    import spark.implicits._
    val src = "/root/testdata/sf0.001/documents.parquet"
    val dir = Files.createTempDirectory("graftspanc")
    Files.copy(Paths.get(src), dir.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val batch = spark.read.parquet(src)
    def digests(df: org.apache.spark.sql.DataFrame) =
      graft.text.TextAnalysis.spanCorrupt(df, "doc_id", "text")
        .select($"doc_id", md5($"input_text").as("im"), md5($"target_text").as("tm"))
    val expect = digests(batch).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    // every decision is a pure (salt, id) function — the projection
    // applies to a streaming relation unchanged
    val stream = spark.readStream.schema(batch.schema).parquet(dir.toString)
    val got = scala.collection.mutable.Map.empty[Long, (String, String)]
    val q = digests(stream).writeStream
      .outputMode("append")
      .foreachBatch { (mb: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        mb.collect().foreach(r =>
          got.synchronized { got(r.getLong(0)) = (r.getString(1), r.getString(2)) })
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(got.toMap == expect)
  }

  test("stateless transform chain (width-fold → truncate) is streaming-safe") {
    import spark.implicits._
    val src = "/root/testdata/sf0.001/documents.parquet"
    val dir = Files.createTempDirectory("graftwf")
    Files.copy(Paths.get(src), dir.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val batch = spark.read.parquet(src)
    def chain(df: org.apache.spark.sql.DataFrame) =
      graft.text.TextAnalysis.truncateTokens(
        df.withColumn("text", graft.text.TextAnalysis.foldWidth($"text")),
        "doc_id", "text", maxTokens = 30)
        .select($"doc_id", $"n_cut", md5($"text_trunc").as("m"))
    val expect = chain(batch).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val stream = spark.readStream.schema(batch.schema).parquet(dir.toString)
    val got = scala.collection.mutable.Map.empty[Long, (Long, String)]
    val q = chain(stream).writeStream
      .outputMode("append")
      .foreachBatch { (mb: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        mb.collect().foreach(r =>
          got.synchronized { got(r.getLong(0)) = (r.getLong(1), r.getString(2)) })
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(got.toMap == expect)
  }

  test("HTML extraction chain is streaming-safe (crawl front door on a live stream)") {
    import spark.implicits._
    val src = "/root/testdata/sf0.001/documents.parquet"
    val dir = Files.createTempDirectory("grafthtml")
    Files.copy(Paths.get(src), dir.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val batch = spark.read.parquet(src)
    // the same pure-projection chain a crawl ingest would run per
    // micro-batch: wrap, extract, link-count — zero state, so stream
    // output must equal batch output row for row
    def chain(df: org.apache.spark.sql.DataFrame) = {
      val html = concat(
        lit("<html><body><script>var x = 1;</script><h1>D"), $"doc_id",
        lit("</h1><a href=\"https://e.com/"), $"doc_id",
        lit("\">x</a><p>"), $"text", lit("</p></body></html>"))
      df.select($"doc_id",
        md5(graft.text.Html.htmlToText(html)).as("m"),
        size(graft.text.Html.extractHrefs(html)).cast("long").as("nl"))
    }
    val expect = chain(batch).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val stream = spark.readStream.schema(batch.schema).parquet(dir.toString)
    val got = scala.collection.mutable.Map.empty[Long, (String, Long)]
    val q = chain(stream).writeStream
      .outputMode("append")
      .foreachBatch { (mb: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        mb.collect().foreach(r =>
          got.synchronized { got(r.getLong(0)) = (r.getString(1), r.getLong(2)) })
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(got.toMap == expect)
  }

  test("frozen-count Stupid Backoff: stream-static scoring equals batch scoring") {
    import spark.implicits._
    val src = "/root/testdata/sf0.001/documents.parquet"
    val dir = Files.createTempDirectory("graftsbo")
    Files.copy(Paths.get(src), dir.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val batch = spark.read.parquet(src)
    // count tables fit ONCE on the snapshot (corpus aggregates a
    // stream cannot provide statelessly); scoring is a stream-static
    // join against them
    val fit = batch.filter($"doc_id" % 50 === 1)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("backoff_level"), r.getAs[Long]("num"), r.getAs[Long]("den"))
    val expect = graft.text.NgramLm
      .stupidBackoffScore(fit, batch.filter($"doc_id" % 20 === 0), "doc_id", "text")
      .collect().map(key).toMap
    val stream = spark.readStream.schema(batch.schema).parquet(dir.toString)
    val got = scala.collection.mutable.Map
      .empty[(Long, Long), (Long, Long, Long)]
    val q = graft.text.NgramLm
      .stupidBackoffScore(fit, stream.filter($"doc_id" % 20 === 0),
        "doc_id", "text")
      .writeStream
      .outputMode("append")
      .foreachBatch { (mb: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        mb.collect().foreach(r => got.synchronized { got += key(r) })
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(got.toMap == expect)
    assert(expect.nonEmpty)
  }

  test("containment stream: per-batch union equals the one-shot batch " +
    "cross join; kill+resume re-processes nothing and replays are " +
    "idempotent") {
    import spark.implicits._
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // static standing corpus vs a two-drop "crawl" of new docs
    val history = all.filter(col("doc_id") % 3L =!= 0L)
    val newDocs = all.filter(col("doc_id") % 3L === 0L)
    val loBatch = newDocs.filter(col("doc_id") < 250L)
    val hiBatch = newDocs.filter(col("doc_id") >= 250L)
    val root = Files.createTempDirectory("graftcontainstream")
    val inDir = root.resolve("in")
    val outPath = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt").toString
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(newDocs.schema)
        .parquet(inDir.toString + "/*")
      Incremental.containmentStream(stream, history, "doc_id", "text",
        outPath, ckpt, n = 3, minContainment = 0.8, maxDf = Long.MaxValue)
        .awaitTermination()
    }
    def got() = spark.read.parquet(outPath)
      .select(col("new_id"), col("hist_id"), col("n_common"))
      .as[(Long, Long, Long)].collect().toSeq
    // run 1: first crawl drop
    loBatch.write.parquet(inDir.resolve("a").toString)
    runOnce()
    val r1 = got()
    // run 2, SAME checkpoint: second drop — only it is processed
    hiBatch.write.parquet(inDir.resolve("b").toString)
    runOnce()
    val r2 = got()
    assert(r1.toSet.subsetOf(r2.toSet))
    assert(r2.size == r2.distinct.size, "a replayed batch double-appended")
    // run 3, no new input: nothing changes (restart idempotency)
    runOnce()
    assert(got().toSet == r2.toSet)
    // parity: union of per-batch outputs == one-shot batch operator
    val want = graft.dedup.Dedup
      .containmentPairsAgainst(newDocs, history, "doc_id", "text",
        n = 3, minContainment = 0.8, maxDf = Long.MaxValue)
      .select(col("new_id"), col("hist_id"), col("n_common"))
      .as[(Long, Long, Long)].collect().toSet
    assert(want.nonEmpty, "fixture sanity: the cross face has hits")
    assert(r2.toSet == want,
      s"stream ${r2.size} vs batch ${want.size}: " +
        s"missing=${(want -- r2.toSet).take(3)} extra=${(r2.toSet -- want).take(3)}")
  }

  test("containment FILTER stream: union of per-batch survivors equals " +
    "the one-shot containmentDedupAgainst over the accumulated input; " +
    "kill+resume re-processes nothing and replays are idempotent") {
    import spark.implicits._
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val history = all.filter(col("doc_id") % 3L =!= 0L)
    val newDocs = all.filter(col("doc_id") % 3L === 0L)
    val loBatch = newDocs.filter(col("doc_id") < 250L)
    val hiBatch = newDocs.filter(col("doc_id") >= 250L)
    val root = Files.createTempDirectory("graftcontainfilter")
    val inDir = root.resolve("in")
    val outPath = root.resolve("clean").toString
    val ckpt = root.resolve("ckpt").toString
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(newDocs.schema)
        .parquet(inDir.toString + "/*")
      Incremental.containmentFilterStream(stream, history, "doc_id",
        "text", outPath, ckpt, n = 3, minContainment = 0.8,
        maxDf = Long.MaxValue)
        .awaitTermination()
    }
    def got() = spark.read.parquet(outPath)
      .select("doc_id").as[Long].collect().toSeq
    // run 1: first crawl drop
    loBatch.write.parquet(inDir.resolve("a").toString)
    runOnce()
    val r1 = got()
    // run 2, SAME checkpoint: only the second drop is processed
    hiBatch.write.parquet(inDir.resolve("b").toString)
    runOnce()
    val r2 = got()
    assert(r1.toSet.subsetOf(r2.toSet))
    assert(r2.size == r2.distinct.size, "a replayed batch double-appended")
    // run 3, no new input: nothing changes (restart idempotency)
    runOnce()
    assert(got().toSet == r2.toSet)
    // parity: union of per-batch survivors == one-shot batch filter
    val want = graft.dedup.Dedup
      .containmentDedupAgainst(newDocs, history, "doc_id", "text",
        n = 3, minContainment = 0.8, maxDf = Long.MaxValue)
      .select("doc_id").as[Long].collect().toSet
    assert(want.nonEmpty && want.size < newDocs.count(),
      "fixture sanity: the filter must keep some docs and drop some")
    assert(r2.toSet == want,
      s"stream ${r2.size} vs batch ${want.size}: " +
        s"missing=${(want -- r2.toSet).take(3)} extra=${(r2.toSet -- want).take(3)}")
  }

  test("span-scrub stream: union of per-batch rewrites equals the " +
    "one-shot history-only scrub of the accumulated input; kill+resume " +
    "re-processes nothing and replays are idempotent") {
    import spark.implicits._
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val history = all.filter(col("doc_id") % 3L =!= 0L)
    val newDocs = all.filter(col("doc_id") % 3L === 0L)
    val loBatch = newDocs.filter(col("doc_id") < 250L)
    val hiBatch = newDocs.filter(col("doc_id") >= 250L)
    val root = Files.createTempDirectory("graftspanscrub")
    val inDir = root.resolve("in")
    val outPath = root.resolve("clean").toString
    val ckpt = root.resolve("ckpt").toString
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(newDocs.schema)
        .parquet(inDir.toString + "/*")
      Incremental.spanScrubStream(stream, history, "doc_id", "text",
        outPath, ckpt, windowTokens = 8)
        .awaitTermination()
    }
    def got() = spark.read.parquet(outPath)
      .select(col("doc_id"), col("clean_text"), col("n_removed"))
      .as[(Long, String, Long)].collect().toSeq
    loBatch.write.parquet(inDir.resolve("a").toString)
    runOnce()
    val r1 = got()
    hiBatch.write.parquet(inDir.resolve("b").toString)
    runOnce()
    val r2 = got()
    assert(r1.toSet.subsetOf(r2.toSet))
    assert(r2.map(_._1).distinct.size == r2.size,
      "a replayed batch double-appended")
    // run 3, no new input: nothing changes (restart idempotency)
    runOnce()
    assert(got().toSet == r2.toSet)
    // parity: per-doc output is a pure function of (doc, history), so
    // any batching yields the one-shot history-only scrub
    val want = graft.dedup.Dedup
      .removeDuplicateSpansAgainst(newDocs, history, "doc_id", "text",
        windowTokens = 8, batchInternal = false)
      .select(col("doc_id"), col("clean_text"), col("n_removed"))
      .as[(Long, String, Long)].collect().toSet
    assert(want.exists(_._3 > 0), "fixture sanity: some doc is scrubbed")
    assert(want.exists(_._3 == 0), "fixture sanity: some doc is untouched")
    assert(r2.toSet == want,
      s"stream ${r2.size} vs batch ${want.size}")
  }

  test("every sink face: a replayed micro-batch leaves the sink's rows unchanged") {
    import spark.implicits._
    // each face drains once, then loses its last checkpoint commit —
    // the crash window between the sink write and the commit — and
    // restarts on the same checkpoint, which replays that batch under
    // the same id
    // seeded English documents: every third history doc quotes a new
    // doc whole, so the containment and span faces have hits
    val words = ("the of and to in is that it for on with as was by at from this " +
      "data table hash sort corpus paper model river city music garden").split(" ")
    def text(i: Long): String = {
      val r = new scala.util.Random(i)
      Seq.fill(24 + (i % 17).toInt)(words(r.nextInt(words.length))).mkString(" ")
    }
    val docs = (0L until 90L).map(i => (i, text(i))).toDF("doc_id", "text")
    val history = (100L until 190L).map { i =>
      (i, if (i % 3L == 0L) s"${text(i)} ${text(i - 100L)} ${text(i + 1000L)}" else text(i))
    }.toDF("doc_id", "text")
    val root = Files.createTempDirectory("graftreplay")
    def input(name: String, df: org.apache.spark.sql.DataFrame) = {
      val dir = root.resolve(s"in_$name")
      df.write.parquet(dir.resolve("a").toString)
      spark.readStream.schema(df.schema).parquet(dir.toString + "/*")
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val refreshTable = "graft_replay_refresh_t"
    val changed = scala.collection.mutable.ListBuffer[String]()
    def replay(face: String)(start: String => org.apache.spark.sql.streaming.StreamingQuery)(
        sink: => org.apache.spark.sql.DataFrame): Unit = {
      val ckpt = root.resolve(s"ckpt_$face")
      start(ckpt.toString).awaitTermination()
      val before = rows(sink)
      assert(before.nonEmpty, s"$face: fixture sanity, the sink holds rows")
      val commits = ckpt.resolve("commits")
      val last = commits.toFile.list().filter(_.forall(_.isDigit)).map(_.toLong).max
      Files.delete(commits.resolve(last.toString))
      Files.deleteIfExists(commits.resolve(s".$last.crc"))
      start(ckpt.toString).awaitTermination()
      assert(Files.exists(commits.resolve(last.toString)), s"$face: batch $last was not replayed")
      val after = rows(sink)
      if (after != before) changed += s"$face: ${before.size} -> ${after.size} rows"
    }

    val pub = root.resolve("pub").toString
    val videos = input("videos", Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("video_id", "channel_id"))
    replay("publishStream") { ck =>
      Incremental.publishStream(videos, new graft.io.LocalPublisher(s"$pub/v"), "main", ck)
    }(spark.read.parquet(s"$pub/v/main/batch_*"))

    val segs = input("segs", Seq(
      graft.schema.SegmentRow("ch1", "vidA", 0, graft.schema.VadSpan(0, 16000),
        Seq.empty, 25.0, 0.95, selected = true),
      graft.schema.SegmentRow("ch1", "vidA", 1, graft.schema.VadSpan(32000, 48000),
        Seq.empty, 8.0, 0.2, selected = false),
      graft.schema.SegmentRow("ch2", "vidB", 0, graft.schema.VadSpan(0, 16000),
        Seq.empty, 22.0, 0.91, selected = true)).toDF())
    replay("publishSelectedSegments") { ck =>
      Incremental.publishSelectedSegments(segs, new graft.io.LocalPublisher(s"$pub/s"), "main", ck)
    }(spark.read.parquet(s"$pub/s/main/batch_*"))

    val timed = input("timed",
      docs.withColumn("ets", timestamp_micros((col("doc_id") + 1L) * 1000L)))
    try {
      replay("refreshStream") { ck =>
        Incremental.refreshStream(timed, history.select("doc_id"), "doc_id", "text", "ets",
          refreshTable, ck)
      }(graft.layout.Layout.readTable(spark, refreshTable))
    } finally graft.layout.Layout.dropWithLocation(spark, refreshTable)

    val plain = input("plain", docs)
    val shards = root.resolve("shards").toString
    replay("shardStream") { ck =>
      Incremental.shardStream(plain, "doc_id", "text", shards, ck, tokensPerShard = 512L)
    }(spark.read.parquet(shards))

    val pairs = root.resolve("pairs").toString
    replay("containmentStream") { ck =>
      Incremental.containmentStream(plain, history, "doc_id", "text", pairs, ck,
        maxDf = Long.MaxValue)
    }(spark.read.parquet(pairs))

    val kept = root.resolve("kept").toString
    replay("containmentFilterStream") { ck =>
      Incremental.containmentFilterStream(plain, history, "doc_id", "text", kept, ck,
        maxDf = Long.MaxValue)
    }(spark.read.parquet(kept))

    val scrubbed = root.resolve("scrubbed").toString
    replay("spanScrubStream") { ck =>
      Incremental.spanScrubStream(plain, history, "doc_id", "text", scrubbed, ck,
        windowTokens = 8)
    }(spark.read.parquet(scrubbed))

    assert(changed.isEmpty, changed.mkString("; "))
  }
}
