package perfbench

import graft.core.Graft
import graft.io.{AudioFetcher, FakeAudioFetcher, Sinks}
import graft.pipeline.{AudioClassifier, FileWeightsClassifier, LinearProbeClassifier, Pipeline}
import graft.schema.LabelScore
import graft.text.CurationPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Delegating fetcher that records calls, time, bytes and non-OK
  * statuses into accumulators (traced reps only).
  */
final class TracedFetcher(inner: AudioFetcher, calls: LongAccumulator,
    ns: LongAccumulator, bytes: LongAccumulator, errors: LongAccumulator)
    extends AudioFetcher {
  def listVideoIds(channelUrl: String): Seq[String] = inner.listVideoIds(channelUrl)
  def fetchAudio(videoId: String): (String, Array[Byte]) = {
    val t = System.nanoTime()
    val r = inner.fetchAudio(videoId)
    ns.add(System.nanoTime() - t)
    calls.add(1L)
    bytes.add(r._2.length.toLong)
    if (r._1 != "OK") errors.add(1L)
    r
  }
}

/** Delegating classifier that records batches, items and time. */
final class TracedClassifier(inner: AudioClassifier, batches: LongAccumulator,
    items: LongAccumulator, ns: LongAccumulator) extends AudioClassifier {
  def classifyBatch(batch: Seq[Array[Double]]): Seq[Seq[LabelScore]] = {
    val t = System.nanoTime()
    val r = inner.classifyBatch(batch)
    ns.add(System.nanoTime() - t)
    batches.add(1L)
    items.add(batch.length.toLong)
    r
  }
}

/** The reference's main loop: channel catalog → `Pipeline.run` over the
  * offline fetcher and the file-loaded classifier → segments, selected
  * channel metadata, skip log and video errors through `io.Sinks` →
  * read back and checked against the q_pipeline_e2e oracle.
  */
final class AudioIngest(spark: SparkSession, data: String, work: String,
    expected: Map[String, String]) extends Workload {
  val face = "q_pipeline_e2e"
  private var channels: DataFrame = _
  private var videos = 0L
  private val weights = s"$work/probe_head.tsv"
  private val cfg = Pipeline.Config(minSnr = 12.0, minSpeechScore = 0.5,
    minVideoDurationS = 4, shortVideoS = 3)
  LinearProbeClassifier().save(weights)

  def items: Long = videos

  def load(): Unit = {
    if (channels != null) channels.unpersist(true)
    // the catalog projection q_pipeline_e2e derives from `customer`
    channels = Graft.table(spark, data, "customer")
      .filter(col("c_custkey") % 211L === 0L)
      .select(
        col("c_name").as("title"),
        concat(lit("UC"), format_string("%022d", col("c_custkey"))).as("id"),
        (col("c_custkey") % 40L + 5L).as("n_videos"),
        (col("c_custkey") * 31L % 1000000L).as("n_views"),
        (col("c_custkey") * 9973L % 250000L).as("n_subs"),
        concat(lit("@h"), col("c_custkey")).as("custom_url"),
        lit(null).cast("string").as("email"),
        concat(lit("https://yt/c/"), col("c_custkey")).as("url"))
      .cache()
    channels.count()
    val f = new FakeAudioFetcher(segmentSeconds = 2)
    videos = channels.select("url").collect().map(r => f.listVideoIds(r.getString(0)).size.toLong).sum
  }

  def rep(ctx: RepCtx): (Int, Int, Long) = {
    val dir = s"$work/audio"
    val sc = spark.sparkContext
    val base = new FakeAudioFetcher(segmentSeconds = 2)
    val model = FileWeightsClassifier(weights)
    val accs = if (ctx.traced) Some(Seq("fetch_calls", "fetch_ns", "fetch_bytes",
      "fetch_errors", "classify_batches", "classify_items", "classify_ns")
      .map(n => n -> sc.longAccumulator(s"perfbench.$n")).toMap) else None
    val (fetcher, classifier) = accs match {
      case Some(m) =>
        (new TracedFetcher(base, m("fetch_calls"), m("fetch_ns"), m("fetch_bytes"), m("fetch_errors")),
          new TracedClassifier(model, m("classify_batches"), m("classify_items"), m("classify_ns")))
      case None => (base, model)
    }
    val ingested = spark.range(0, 0).select(col("id").cast("string").as("video_id"))
    val out = ctx.span("pipeline.run") {
      Pipeline.run(spark, channels, ingested, fetcher, classifier, cfg)
    }
    ctx.span("sink.segments")(Sinks.writeOrc(out.segments, s"$dir/segments"))
    ctx.span("sink.meta")(Sinks.writeMetaJson(out.metaSelected, s"$dir/meta"))
    ctx.span("sink.skips")(Sinks.writeSkipLog(out.skips.toDF(), "channel_id", "reason", s"$dir/skips"))
    ctx.span("sink.errors")(Sinks.writeCsv(out.videoErrors, s"$dir/errors"))
    out.unpersist()
    val (digest, nSegments) = ctx.span("verify")(readBack(dir))
    val bytes = Harness.dirBytes(dir)
    accs.foreach { m =>
      m.foreach { case (n, acc) => ctx.add(s"acc.$n", acc.value.toDouble) }
      m.foreach { case (n, acc) => ctx.add(s"accid.$n", acc.id.toDouble) }
      ctx.add("signal.segments", nSegments.toDouble)
      ctx.add("io.sinks_files", Harness.dataFiles(dir).toDouble)
    }
    (1, if (digest == expected("job")) 0 else 1, bytes)
  }

  /** The q_pipeline_e2e per-channel counters, rebuilt from what the
    * sinks left on disk; returns (digest, total segments).
    */
  private def readBack(dir: String): (String, Long) = {
    val seg = spark.read.orc(s"$dir/segments")
    val err = spark.read.option("header", "true").csv(s"$dir/errors")
    val skips = spark.read.text(s"$dir/skips")
      .select(split(col("value"), "\\|").as("p"))
      .select(col("p").getItem(0).as("channel_id"), col("p").getItem(1).as("reason"))
    val segAgg = seg.groupBy("channel_id").agg(
      countDistinct(col("video_id")).as("n_downloaded"),
      count(lit(1)).as("n_segments"))
    val errAgg = err.groupBy("channel_id").agg(
      sum(when(col("status").isin("PREMIERE_VIDEO", "OFFLINE_VIDEO"), 1L)
        .otherwise(0L)).as("n_premiere_offline"),
      sum(when(col("status") === "NO_OUTPUT_FILE", 1L).otherwise(0L)).as("n_no_output"))
    val aborts = skips.filter(col("reason") =!= "NOT_ENOUGH_VIDEOS")
      .select(col("channel_id"), col("reason").as("abort_reason"))
    val summary = channels.select(col("id").as("channel_id"))
      .join(segAgg, Seq("channel_id"), "left")
      .join(errAgg, Seq("channel_id"), "left")
      .join(aborts, Seq("channel_id"), "left")
      .select(
        col("channel_id"),
        coalesce(col("n_downloaded"), lit(0L)).as("n_downloaded"),
        coalesce(col("n_premiere_offline"), lit(0L)).as("n_premiere_offline"),
        coalesce(col("n_no_output"), lit(0L)).as("n_no_output"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        col("abort_reason"))
      .cache()
    val d = Digest.rows(summary)._1
    val n = summary.agg(sum("n_segments")).first().getLong(0)
    summary.unpersist()
    (d, n)
  }
}

/** Build a text corpus, then refresh it.
  *
  * Batch: `CurationPipeline.run` with q_text_curation_e2e's config
  * (MinHash-LSH near-dup + 32-word window dedup) → `Sinks
  * .writeTrainingShards`; the face's funnel and chunk/packing rollups are
  * checked against its oracle. Refresh: small crawl increments, two
  * thirds already ingested, dropped one by one into a watched directory;
  * each runs `Incremental.refreshStream` (AvailableNow, one checkpoint
  * across increments, Bloom front door against the corpus ids, bucketed
  * append), is read back with `Layout.readTable`, lands in the same
  * training shards through `Sinks.appendTrainingShards` with batch ids,
  * and is checked against the stream semantics replayed from
  * q_corpus_refresh_e2e's oracle stages. Shard offsets must stay
  * contiguous across the batch and every increment.
  */
final class TextCorpus(spark: SparkSession, data: String, work: String,
    expected: Map[String, String]) extends Workload {
  val face = "q_text_curation_e2e"
  private var docs: DataFrame = _
  private var history: DataFrame = _
  private var incIds: DataFrame = _
  /** (doc_id, inc) of the increment docs not in the corpus yet */
  private var novelIds: DataFrame = _
  private val incFiles = Option(new java.io.File(s"$data/inc").listFiles()).getOrElse(Array.empty)
    .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
  private var n = 0L
  val tokensPerShard = 20000L
  val table = "perfbench_refresh"

  def items: Long = n

  def load(): Unit = {
    Seq(docs, history, incIds, novelIds).filter(_ != null).foreach(_.unpersist(true))
    docs = Graft.table(spark, data, "documents").select("doc_id", "text").cache()
    // every corpus document counts as ingested for the refresh front door
    history = docs.select("doc_id").cache()
    incIds = spark.read.parquet(s"$data/increment_ids.parquet").cache()
    novelIds = incIds.join(history, Seq("doc_id"), "left_anti").cache()
    novelIds.count()
    n = history.count() + incIds.count()
  }

  def rep(ctx: RepCtx): (Int, Int, Long) = {
    val root = s"$work/corpus"
    Harness.deleteTree(root)
    val shards = s"$root/shards"
    val tableDir = s"${spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")}/$table"
    val (batchOk, end) = batch(shards, ctx)
    var base = end.getOrElse(0L)
    var failed = if (batchOk && end.isDefined) 0 else 1

    val src = s"$root/src"
    Files.createDirectories(Paths.get(src))
    val stream = spark.readStream.schema(
      spark.read.parquet(s"$data/inc/${incFiles.head}").schema).parquet(src)
      .withColumn("ts", timestamp_seconds(col("ts_s")))
    incFiles.zipWithIndex.foreach { case (f, i) =>
      val t0 = System.nanoTime()
      ctx.span("increment") {
        ctx.span("inc.drop") {
          val tmp = Paths.get(src, s".$f")
          Files.copy(Paths.get(s"$data/inc/$f"), tmp)
          Files.move(tmp, Paths.get(src, f), StandardCopyOption.ATOMIC_MOVE)
        }
        val ts = System.nanoTime()
        val q = ctx.span("inc.stream") {
          val q = graft.streaming.Incremental.refreshStream(
            stream, history, "doc_id", "text", "ts", table, s"$root/checkpoint")
          q.awaitTermination()
          q
        }
        if (ctx.traced) {
          val progress = q.recentProgress.toSeq
          val trigger = progress.map(_.durationMs.getOrDefault("triggerExecution", 0L).toLong).sum
          ctx.add("layout.append_ms", progress.map(_.durationMs.getOrDefault("addBatch", 0L).toLong).sum.toDouble)
          ctx.add("streaming.query_start_ms", (System.nanoTime() - ts) / 1e6 - trigger)
        }
        val survivors = ctx.span("inc.readback") {
          val s = graft.layout.Layout.readTable(spark, table)
            .join(broadcast(novelIds.filter(col("inc") === i)), Seq("doc_id"), "left_semi")
            .cache()
          s.count()
          s
        }
        val summary = ctx.span("sink.shards") {
          Sinks.appendTrainingShards(survivors.select("doc_id", "clean_text"),
            "doc_id", "clean_text", shards, tokensPerShard,
            batchId = i.toLong, batchTag = root).collect().toSeq
        }
        ctx.incMs += (System.nanoTime() - t0) / 1e6
        val ok = ctx.span("inc.verify") {
          val d = Digest.rows(survivors.select(col("lang_pred"),
            md5(col("clean_text")).as("clean_md5")))._1
          val next = Digest.contiguousFrom(base, summary)
          next.foreach(base = _)
          next.isDefined && expected.get(s"inc-$i").contains(d)
        }
        survivors.unpersist()
        if (!ok) failed += 1
      }
    }
    val bytes = Harness.dirBytes(tableDir) + Harness.dirBytes(shards)
    if (ctx.traced)
      ctx.add("io.sinks_files", (Harness.dataFiles(tableDir) + Harness.dataFiles(shards)).toDouble)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Harness.deleteTree(tableDir)
    (1 + incFiles.size, failed, bytes)
  }

  /** The batch build; returns (funnel digest matches, end offset of the
    * contiguous shards). */
  private def batch(shards: String, ctx: RepCtx): (Boolean, Option[Long]) = {
    val out = ctx.span("curation") {
      CurationPipeline.run(docs, "doc_id", "text",
        CurationPipeline.Config(paragraphDedupWords = Some(32)))
    }
    // the corpus lands twice: as the bucketed table the refresh appends
    // to, and as the token-balanced training shards
    ctx.span("sink.table") {
      graft.layout.Layout.writeBucketed(out.docs.select("doc_id", "lang_pred", "clean_text"),
        table, "doc_id", buckets = 8)
    }
    val summary = ctx.span("sink.shards") {
      Sinks.writeTrainingShards(out.docs.select("doc_id", "clean_text"),
        "doc_id", "clean_text", shards, tokensPerShard).collect().toSeq
    }
    val ok = ctx.span("verify") {
      val chunkStats = out.chunks.agg(
        count(lit(1)).as("n_chunks"), sum(col("n_tok")).as("chunk_tokens"))
      val packStats = out.packing.agg(
        max(col("end_off")).as("total_tokens"),
        (max(col("last_seq")) + 1).as("n_sequences"))
      val rows = spark.createDataFrame(out.funnel).toDF("stage", "n_docs")
        .crossJoin(chunkStats).crossJoin(packStats)
      Digest.rows(rows)._1 == expected("job")
    }
    out.unpersist()
    if (ctx.traced) {
      val f = out.funnel.toMap
      ctx.add("text.gate_in", f("input").toDouble)
      ctx.add("text.gate_out", f("lang_quality_gate").toDouble)
    }
    (ok, Digest.contiguousFrom(0L, summary))
  }

  /** Front-door accounting from outside the library: the increment
    * docs that survive the exact anti-join, and how many truly novel
    * ids a Bloom filter built like refreshStream's (same sizing, 1%
    * fpp) still reports as maybe-ingested.
    */
  override def afterTrace(ctx: RepCtx): Unit = {
    val novel = novelIds.select("doc_id").collect().map(_.getLong(0))
    val nNovel = novel.length
    val bf = history.select(col("doc_id").cast("long").as("doc_id"))
      .stat.bloomFilter("doc_id", math.max(1000000L, history.count()), 0.01)
    val fp = novel.count(bf.mightContainLong)
    ctx.add("dedup.bloom_survivors", nNovel.toDouble)
    ctx.add("dedup.bloom_false_positive_ratio", if (nNovel == 0) 0.0 else fp.toDouble / nNovel)
  }
}
