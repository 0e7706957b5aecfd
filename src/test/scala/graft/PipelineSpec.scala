package graft

import graft.io.{FakeAudioFetcher, FakeChannelApi, LocalPublisher, Retry, Sinks, Sources}
import graft.pipeline.{FakeClassifier, Pipeline}
import graft.multimodal.{Multimodal, StubImageDecoder, WavFeatureDecoder}
import graft.signal.Signal
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end pipeline over fakes (SURVEY §5 item 5): fixture audio →
  * segments → scores → selection → nested meta, golden-shape checked.
  */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def mkChannels(ids: (String, Long, Long)*) =
    ids.toSeq
      .map { case (id, nVideos, nSubs) =>
        (s"title-$id", id, nVideos, 1000L, nSubs, s"@$id", null: String, s"https://yt/c/$id")
      }
      .toDF("title", "id", "n_videos", "n_views", "n_subs", "custom_url", "email", "url")

  private lazy val outputs = Pipeline.run(
    spark,
    mkChannels(("UC_a", 20L, 5000L), ("UC_b", 30L, 50000L), ("UC_small", 2L, 9999L)),
    ingested = Seq.empty[String].toDF("video_id"),
    fetcher = new FakeAudioFetcher(segmentSeconds = 4),
    classifier = FakeClassifier,
    cfg = Pipeline.Config(minSnr = 15.0, minSpeechScore = 0.5,
      minVideoDurationS = 8, shortVideoS = 5)
  )

  test("small channel is gated out with a reason (F2/K7)") {
    val skips = outputs.skips.collect()
    assert(skips.exists(s => s.channel_id == "UC_small" && s.reason == "NOT_ENOUGH_VIDEOS"))
  }

  test("segments exist, are scored, and selection respects thresholds (F3)") {
    val segs = outputs.segments.collect()
    assert(segs.nonEmpty)
    segs.foreach { r =>
      val snr = r.getAs[Double]("snr")
      val sc = r.getAs[Double]("speech_score")
      val sel = r.getAs[Boolean]("selected")
      assert(sel == (snr >= 15.0 && sc >= 0.5))
    }
    assert(segs.exists(_.getAs[Boolean]("selected")))
  }

  test("typed error statuses surface as data, not exceptions (S8/K3)") {
    val statuses = outputs.videoErrors.select("status").distinct().as[String].collect().toSet
    assert(statuses.subsetOf(Set("PREMIERE_VIDEO", "OFFLINE_VIDEO", "NO_OUTPUT_FILE", "TOO_SHORT")))
    assert(statuses.nonEmpty)
  }

  test("nested meta: map<video_id, array<segment>> with ordered idx (A5)") {
    val meta = outputs.metaAll.collect()
    assert(meta.nonEmpty)
    val videos = meta.head.getAs[Map[String, collection.Seq[org.apache.spark.sql.Row]]]("videos")
    assert(videos.nonEmpty)
    val segs = videos.values.head
    val idxs = segs.map(_.getAs[String]("idx"))
    assert(idxs == idxs.sorted)
    assert(idxs.head.length == 8) // zfill(8), audio_vad.py:60
    assert(segs.head.getAs[String]("url").startsWith("https://www.youtube.com/embed/"))
  }

  test("selected meta carries only the slim projection (data_pipeline.py:671-676)") {
    val row = outputs.metaSelected.limit(1).collect()
    if (row.nonEmpty) {
      val segs = row.head.getAs[Map[String, collection.Seq[org.apache.spark.sql.Row]]]("videos").values.head
      assert(segs.head.schema.fieldNames.toSet == Set("idx", "url", "start", "end"))
    }
  }

  test("LinearProbeClassifier ranks deterministic scores sensibly (non-fake model hook)") {
    val probe = graft.pipeline.LinearProbeClassifier()
    val speechy = Array.tabulate(16000)(i => 0.4 * math.pow(math.sin(i * 0.05), 3))
    val silent = Array.fill(16000)(0.0001)
    val noisy = Array.tabulate(16000)(i => 0.4 * (if ((i * 2654435761L % 97) < 48) 1.0 else -1.0))
    val Seq(sp, si, no) = probe.classifyBatch(Seq(speechy, silent, noisy))
    // softmax: scores are a distribution, ranked descending
    for (preds <- Seq(sp, si, no)) {
      assert(math.abs(preds.map(_.score).sum - 1.0) < 1e-9)
      assert(preds.map(_.score) == preds.map(_.score).sorted.reverse)
    }
    assert(sp.head.label == "Speech", s"got ${sp.head}")
    assert(si.head.label == "Silence", s"got ${si.head}")
    assert(no.head.label != "Silence")
    // deterministic: identical input → identical scores
    assert(probe.classifyBatch(Seq(speechy)).head == sp)
  }

  test("FileWeightsClassifier: save → load is bit-exact with the in-memory probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_weights").toString
    val path = s"$dir/probe_head.tsv"
    val probe = graft.pipeline.LinearProbeClassifier()
    probe.save(path)
    val loaded = graft.pipeline.FileWeightsClassifier(path)
    val batch = Seq(
      Array.tabulate(16000)(i => 0.4 * math.pow(math.sin(i * 0.05), 3)),
      Array.fill(16000)(0.0001),
      Array.tabulate(8000)(i => 0.3 * math.sin(i * 0.21)))
    // identical labels AND identical double scores — the artifact
    // round-trips the head exactly (toString shortest-repr doubles)
    assert(loaded.classifyBatch(batch) == probe.classifyBatch(batch))
  }

  test("FileWeightsClassifier rejects a malformed artifact loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_weights").toString
    val path = s"$dir/bad_head.tsv"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      "Speech\tMusic\n1.0 2.0 3.0\n".getBytes("UTF-8"))
    val bad = graft.pipeline.FileWeightsClassifier(path)
    intercept[IllegalArgumentException] {
      bad.classifyBatch(Seq(Array.fill(100)(0.1)))
    }
  }

  test("pipeline e2e with the file-backed scorer matches the in-memory probe (G4)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_weights").toString
    val path = s"$dir/probe_head.tsv"
    graft.pipeline.LinearProbeClassifier().save(path)
    def runWith(c: graft.pipeline.AudioClassifier) = Pipeline.run(
      spark,
      mkChannels(("UC_file", 20L, 5000L)),
      ingested = Seq.empty[String].toDF("video_id"),
      fetcher = new FakeAudioFetcher(segmentSeconds = 4),
      classifier = c,
      cfg = Pipeline.Config(minSnr = 15.0, minSpeechScore = 0.5,
        minVideoDurationS = 8, shortVideoS = 5))
    val fromFile = runWith(graft.pipeline.FileWeightsClassifier(path))
    val inMemory = runWith(graft.pipeline.LinearProbeClassifier())
    val a = fromFile.segments
      .select("video_id", "seg_idx", "speech_score", "selected")
      .orderBy("video_id", "seg_idx").collect().toSeq
    val b = inMemory.segments
      .select("video_id", "seg_idx", "speech_score", "selected")
      .orderBy("video_id", "seg_idx").collect().toSeq
    assert(a.nonEmpty && a == b)
    fromFile.unpersist(); inMemory.unpersist()
  }

  test("pipeline runs end-to-end with the non-fake linear-probe classifier (G4)") {
    val out = Pipeline.run(
      spark,
      mkChannels(("UC_probe", 20L, 5000L)),
      ingested = Seq.empty[String].toDF("video_id"),
      fetcher = new FakeAudioFetcher(segmentSeconds = 4),
      classifier = graft.pipeline.LinearProbeClassifier(),
      cfg = Pipeline.Config(minSnr = 15.0, minSpeechScore = 0.5,
        minVideoDurationS = 8, shortVideoS = 5)
    )
    val segs = out.segments.collect()
    assert(segs.nonEmpty)
    // probe scores are signed label-weight reductions of a softmax → (-1, 1)
    segs.foreach { r =>
      val sc = r.getAs[Double]("speech_score")
      assert(sc > -1.0 && sc < 1.0)
    }
    out.unpersist()
  }

  test("corrupt audio becomes a typed BAD_AUDIO error; the channel continues") {
    // a fetcher that returns OK with garbage bytes for one video and a
    // real wav for the rest — the loop must emit VIDEO_ERROR BAD_AUDIO
    // for the bad one and keep segmenting the good ones
    val inner = new FakeAudioFetcher(segmentSeconds = 4)
    val badVid = inner.listVideoIds("https://yt/c/UC_a")
      .find(v => inner.fetchAudio(v)._1 == "OK").get
    val corrupting = new graft.io.AudioFetcher {
      def listVideoIds(url: String) = inner.listVideoIds(url)
      def fetchAudio(videoId: String) =
        if (videoId == badVid) ("OK", Array.fill[Byte](4096)(0x2f))
        else inner.fetchAudio(videoId)
    }
    val out = Pipeline.run(
      spark,
      mkChannels(("UC_a", 20L, 5000L)),
      ingested = Seq.empty[String].toDF("video_id"),
      fetcher = corrupting,
      classifier = FakeClassifier,
      cfg = Pipeline.Config(minSnr = 15.0, minSpeechScore = 0.5,
        minVideoDurationS = 8, shortVideoS = 5)
    )
    val errs = out.videoErrors.collect()
    assert(errs.exists(r => r.getAs[String]("video_id") == badVid &&
      r.getAs[String]("status") == "BAD_AUDIO"))
    // the channel still produced segments from the other videos
    assert(out.segments.filter(col("video_id") =!= badVid).count() > 0)
    assert(out.segments.filter(col("video_id") === badVid).count() == 0)
    out.unpersist()
  }

  test("resume: ingested videos are never fetched again (F4/T2)") {
    val all = outputs.segments.select("video_id").distinct().as[String].collect()
    val out2 = Pipeline.run(
      spark,
      mkChannels(("UC_a", 20L, 5000L)),
      ingested = all.toSeq.toDF("video_id"),
      fetcher = new FakeAudioFetcher(4),
      classifier = FakeClassifier,
      cfg = Pipeline.Config(minSnr = 15.0, minSpeechScore = 0.5,
        minVideoDurationS = 8, shortVideoS = 5)
    )
    val again = out2.segments.select("video_id").distinct().as[String].collect().toSet
    assert(again.intersect(all.toSet).isEmpty)
  }
}

class IoSpec extends SparkTestBase {
  import spark.implicits._

  test("channelsCsv scan types counters and nulls N/A (S1)") {
    val dir = Files.createTempDirectory("graftcsv").toFile
    val f = new java.io.File(dir, "channels.csv")
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println("title,id,n_videos,n_views,n_subs,custom_url,email,url")
    w.println("Kênh Việt,UC001,12,N/A,15000,@viet,a@b.com,https://yt/1")
    w.println("other,UC002,N/A,5,N/A,,,https://yt/2")
    w.close()
    val df = Sources.channelsCsv(spark, f.getPath)
    val rows = df.orderBy("id").collect()
    assert(rows(0).getAs[Long]("n_subs") == 15000L)
    assert(rows(0).getAs[String]("title") == "Kênh Việt")
    assert(rows(1).isNullAt(rows(1).fieldIndex("n_videos")))
  }

  test("dlqSplit branches errors with flattened text (K3)") {
    val df = Seq(("a", null: String), ("b", "boom\nline2")).toDF("id", "error")
    val (ok, bad) = Sinks.dlqSplit(df)
    assert(ok.select("id").as[String].collect().toSeq == Seq("a"))
    assert(bad.select("error").as[String].head() == "boom line2")
  }

  test("fake channel API respects the 50-id batch contract (S6/O5)") {
    intercept[IllegalArgumentException](FakeChannelApi.lookup((1 to 51).map(_.toString)))
    val found = FakeChannelApi.lookup((1 to 50).map(i => s"UC$i"))
    assert(found.nonEmpty && found.size <= 50)
  }

  test("publisher is idempotent per batch and retry recovers (K6/T3)") {
    val dir = Files.createTempDirectory("graftpub").toString
    val pub = new LocalPublisher(dir, failEvery = 2)
    val df = Seq((1, "x")).toDF("a", "b")
    // batch 1 fails every first try (failEvery=2 → batchId 1 fails)
    val r1 = Retry.withRetry(3, 0)(pub.publish(0L, "main", df))
    assert(r1.isRight)
    // replay of a committed batch is a no-op
    val r2 = pub.publish(0L, "main", df)
    assert(r2 == Right(0L))
  }

  test("wav file scan round-trips through binaryFile source (S9)") {
    val dir = Files.createTempDirectory("graftwav").toFile
    val wav = Signal.wavEncode(Array.tabulate(1600)(i => 0.5 * math.sin(i * 0.1)), 16000)
    Files.write(new java.io.File(dir, "seg.wav").toPath, wav)
    val df = Sources.wavFiles(spark, dir.getPath)
    val row = df.collect().head
    assert(row.getAs[Int]("sample_rate") == 16000)
    assert(row.getAs[collection.Seq[Double]]("samples").size == 1600)
    assert(row.getAs[String]("decode_error") == null)
  }

  test("wav scan survives a corrupt file: error row, not a task failure (S9/K3)") {
    val dir = Files.createTempDirectory("graftwavbad").toFile
    val good = Signal.wavEncode(Array.tabulate(800)(i => 0.3 * math.sin(i * 0.2)), 16000)
    Files.write(new java.io.File(dir, "good.wav").toPath, good)
    // a truncated upload: RIFF magic intact, body gone mid-header
    Files.write(new java.io.File(dir, "trunc.wav").toPath, good.take(20))
    // and plain garbage under the .wav extension
    Files.write(new java.io.File(dir, "junk.wav").toPath,
      Array.fill[Byte](128)(0x5a))
    val rows = Sources.wavFiles(spark, dir.getPath).collect()
    assert(rows.length == 3)
    val byName = rows.map(r => r.getAs[String]("path").split('/').last -> r).toMap
    assert(byName("good.wav").getAs[String]("decode_error") == null)
    assert(byName("good.wav").getAs[collection.Seq[Double]]("samples").size == 800)
    for (bad <- Seq("trunc.wav", "junk.wav")) {
      assert(byName(bad).getAs[String]("decode_error") != null, bad)
      assert(byName(bad).getAs[collection.Seq[Double]]("samples") == null, bad)
    }
  }

  test("quality rows round-trip through the JSONL sink/source (K2/S2)") {
    val dir = Files.createTempDirectory("graftjsonl").toString + "/quality"
    val q = Seq(
      graft.schema.ChannelQuality("https://yt/1", Seq(21.5, 8.0),
        Seq(Seq(graft.schema.LabelScore("Speech", 0.9)),
          Seq(graft.schema.LabelScore("Music", 0.8))))
    ).toDF()
    Sinks.appendJsonl(q, dir)
    val back = Sources.qualityJsonl(spark, dir).collect()
    assert(back.length == 1)
    assert(back.head.getAs[String]("url") == "https://yt/1")
    assert(back.head.getAs[collection.Seq[Double]]("snrss") == Seq(21.5, 8.0))
    val acss = back.head.getAs[collection.Seq[collection.Seq[org.apache.spark.sql.Row]]]("acss")
    assert(acss.head.head.getAs[String]("label") == "Speech")
  }

  test("multimodal describe + batched feature extraction") {
    val wav = Signal.wavEncode(Array.tabulate(3200)(i => 0.4 * math.sin(i * 0.2)), 16000)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10) ++ Array.fill(64)(7.toByte)
    val df = Seq((1L, wav), (2L, png)).toDF("id", "payload")
    val desc = Multimodal.describe(df, "payload").orderBy("id").collect()
    assert(desc(0).getAs[String]("kind") == "audio/wav")
    assert(desc(1).getAs[String]("kind") == "image/png")
    val wavFeats = Multimodal.extractFeatures(df.filter($"id" === 1L), "id", "payload", WavFeatureDecoder)
    val f = wavFeats.collect().head.getAs[collection.Seq[Float]]("features")
    assert(f.size == WavFeatureDecoder.featureDim)
    assert(math.abs(f.head - 0.2f) < 0.01) // 3200 samples / 16 kHz
    val imgFeats = Multimodal.extractFeatures(df.filter($"id" === 2L), "id", "payload", StubImageDecoder)
    assert(imgFeats.collect().head.getAs[collection.Seq[Float]]("features").size == 16)
  }

  test("writeTrainingShards: whole docs, deterministic boundaries, ordered read-back") {
    val docs = Seq.tabulate(40) { i =>
      (i.toLong, Seq.fill(10 + i % 7)("w").mkString(" ")) // 10..16 tokens
    }.toDF("doc_id", "text")
    val path = Files.createTempDirectory("graftshards").toString + "/out"
    val summary = Sinks
      .writeTrainingShards(docs, "doc_id", "text", path, tokensPerShard = 64L)
      .orderBy("shard").collect()
    // every shard's min start offset lies inside that shard's range
    summary.foreach { r =>
      val shard = r.getAs[Long]("shard")
      assert(r.getAs[Long]("min_start") / 64L == shard)
      // whole-doc overlap bound: a shard holds at most target + one doc
      assert(r.getAs[Long]("n_tokens") <= 64L + 16L)
    }
    // read-back: partition dirs exist, all docs present exactly once,
    // and start_off restores the global order within a shard
    val back = spark.read.parquet(path)
    assert(back.count() == 40L)
    assert(back.select("doc_id").distinct().count() == 40L)
    val shard0 = back.filter(col("shard") === 0)
      .orderBy("start_off").select("doc_id").as[Long].collect()
    assert(shard0.sameElements(shard0.sorted))
    assert(new java.io.File(path).listFiles().exists(_.getName.startsWith("shard=")))
  }

  test("shard write clusters by shard past the threshold: ONE file per " +
    "shard without AQE luck (guide §6 file-count posture)") {
    // 60 docs × 8 tokens at tokensPerShard=16 → 30 shards; the input is
    // spread over 4 tasks so a DIRECT partitionBy write would emit up
    // to 4 files per shard — the clustered write must land each shard
    // as exactly one file
    val docs = Seq.tabulate(60) { i =>
      (i.toLong, Seq.fill(8)("w").mkString(" "))
    }.toDF("doc_id", "text").repartition(4)
    val path = Files.createTempDirectory("graftshardcluster").toString + "/out"
    val summary = Sinks
      .writeTrainingShards(docs, "doc_id", "text", path, tokensPerShard = 16L)
      .collect()
    assert(summary.length == 30)
    val dirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("shard="))
    assert(dirs.length == 30, dirs.length)
    dirs.foreach { d =>
      val parts = d.listFiles().filter(_.getName.startsWith("part-"))
      assert(parts.length == 1,
        s"${d.getName}: ${parts.length} files — shard not clustered")
    }
  }

  test("appendTrainingShards out of order still packs contiguously") {
    // in-order delivery reproduces the batch sink bit-for-bit
    // (StreamBatchParitySpec); OUT-of-order delivery must still yield
    // a VALID packing — offsets contiguous from 0, every doc whole,
    // shard = start_off div target — just in arrival order
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").filter(col("doc_id") < 40L)
    val path = Files.createTempDirectory("graftooo").resolve("t").toString
    // high ids arrive FIRST
    graft.io.Sinks.appendTrainingShards(
      docs.filter(col("doc_id") >= 20L), "doc_id", "text", path, 64L)
    graft.io.Sinks.appendTrainingShards(
      docs.filter(col("doc_id") < 20L), "doc_id", "text", path, 64L)
    val back = spark.read.parquet(path)
      .select(col("doc_id"), col("start_off"), col("end_off"),
        col("shard").cast("long").as("shard"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._2)
    assert(back.length == 40)
    assert(back.map(_._1).distinct.length == 40, "a doc was split or duplicated")
    // contiguous global offsets from 0, no gaps or overlaps
    assert(back.head._2 == 0L)
    back.sliding(2).foreach {
      case Array((_, _, e1, _), (_, s2, _, _)) =>
        assert(e1 == s2, s"offset gap/overlap: $e1 vs $s2")
      case _ =>
    }
    // shard assignment is the packing rule at the GLOBAL offset
    back.foreach { case (_, s, _, shard) => assert(shard == s / 64L) }
  }

  test("fake-source VAD invariant: segment count is the hash burst count " +
    "(full wav AND the probe's 6s middle cut)") {
    // The q_pipeline_e2e / q_probe_scan oracles replay stage counts
    // relationally from the video-id hash; the one non-relational link
    // is "energy VAD over the synthesized wav recovers exactly the
    // burst layout". This pins that link for EVERY OK video of every
    // sf0.01 seed channel (the correctness-gate population), so the
    // oracles' segment arithmetic rests on an exhaustively-checked
    // invariant, not an assumption.
    val fetcher = new FakeAudioFetcher(segmentSeconds = 2)
    def habs(s: String): Long = math.abs(s.hashCode.toLong)
    val urls = (1 to 7).map(i => s"https://yt/c/${i * 211}")
    var okVids = 0
    for (url <- urls; vid <- fetcher.listVideoIds(url)) {
      val k = habs(vid)
      if (k % 17 != 0 && k % 19 != 0 && k % 23 != 0) {
        okVids += 1
        val (st, bytes) = fetcher.fetchAudio(vid)
        assert(st == "OK")
        val (sr, wav) = Signal.wavDecode(bytes)
        val nBursts = (k % 3 + 2).toInt
        assert(wav.length == nBursts * (2 * sr + sr / 2), s"$vid layout")
        // e2e face: durS < 180 → whole wav, one segment per burst
        assert(Signal.energyVad(wav).size == nBursts, s"$vid full-wav VAD")
        // probe face: 6 s middle cut — 2 bursts fit whole; 3+ bursts
        // leave two full bursts plus >=0.5 s of a cut burst on each
        // side of the window, of which the leading partial merges only
        // if long enough: empirically 3 segments
        val want = 6 * sr
        val cut =
          if (wav.length <= want) wav
          else {
            val start = (wav.length - want) / 2
            java.util.Arrays.copyOfRange(wav, start, start + want)
          }
        val got = Signal.energyVad(cut).size
        val expect = if (nBursts == 2) 2 else 3
        assert(got == expect, s"$vid 6s-cut VAD: $got != $expect (nBursts=$nBursts)")
      }
    }
    assert(okVids > 50, s"fixture population too small: $okVids OK videos")
  }
}
