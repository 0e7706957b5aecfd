package graft.pipeline

import graft.functions.Scalars
import graft.io.{AudioFetcher, Publisher}
import graft.meta.ChannelMeta
import graft.schema._
import graft.signal.Signal
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** G4 — audio classification behind a batched trait (audio_ac.py:43-50:
  * the reference batches all segments of a video into one model call).
  */
trait AudioClassifier extends Serializable {
  def classifyBatch(batch: Seq[Array[Double]]): Seq[Seq[LabelScore]]
}

/** Deterministic fake classifier: periodic high-energy content scores
  * as speech, aperiodic/low-energy as music/noise — enough structure
  * for threshold tests without any model artifact (SURVEY §7.4 risk 5).
  */
object FakeClassifier extends AudioClassifier {
  def classifyBatch(batch: Seq[Array[Double]]): Seq[Seq[LabelScore]] =
    batch.map { w =>
      if (w.isEmpty) Seq(LabelScore("Silence", 1.0))
      else {
        var e = 0.0
        var zc = 0
        var i = 1
        while (i < w.length) {
          e += w(i) * w(i)
          if (w(i) * w(i - 1) < 0) zc += 1
          i += 1
        }
        val rms = math.sqrt(e / w.length)
        val zcr = zc.toDouble / w.length
        if (rms > 0.05 && zcr < 0.2)
          Seq(LabelScore("Speech", 0.93), LabelScore("Narration, monologue", 0.04),
            LabelScore("Music", 0.02))
        else if (rms > 0.05)
          Seq(LabelScore("Music", 0.85), LabelScore("Speech", 0.10))
        else
          Seq(LabelScore("Sound effect", 0.6), LabelScore("Speech", 0.2))
      }
    }
}

/** NON-FAKE classifier proving the trait boundary carries a real
  * scorer: a linear probe (affine map + softmax — exactly the forward
  * pass of a trained linear head on model embeddings) over the 8 REAL
  * DSP features WavFeatureDecoder extracts (rms, zcr, peak, band
  * energies). The weight matrix is a fixed hand-fit constant, so the
  * scorer stays deterministic and artifact-free; swapping in trained
  * weights (e.g. exported from an AST probe, audio_ac.py:35-40) is a
  * data change, not a code change.
  */
final case class LinearProbeClassifier(sampleRate: Int = 16000) extends AudioClassifier {
  private val labels =
    Array("Speech", "Music", "Sound effect", "Silence")
  // rows per label over [bias, rms, zcr, peak, band0..band3]:
  // periodic high-energy → Speech, high-zcr high-energy → Music,
  // near-zero energy → Silence, residual → Sound effect
  private val weights: Array[Array[Double]] = Array(
    Array(-2.0, 40.0, -30.0, 5.0, 8.0, 4.0, 2.0, 1.0),
    Array(-2.5, 35.0, 25.0, 4.0, 2.0, 4.0, 6.0, 8.0),
    Array(-0.5, -10.0, 10.0, 2.0, 0.0, 0.0, 0.0, 0.0),
    Array(1.5, -60.0, -5.0, -10.0, -4.0, -4.0, -4.0, -4.0))

  def classifyBatch(batch: Seq[Array[Double]]): Seq[Seq[LabelScore]] =
    AffineSoftmax.score(labels, weights, sampleRate, batch)

  /** Serialize this probe's head to [[FileWeightsClassifier]]'s
    * artifact format — the export step of a training run.
    */
  def save(path: String): Unit =
    FileWeightsClassifier.write(path, labels, weights)
}

/** Shared forward pass of the linear heads: affine map over
  * WavFeatureDecoder's 8 features (bias + 7 shape features) + softmax,
  * labels ranked by descending probability.
  */
private[pipeline] object AffineSoftmax {
  def score(
      labels: Array[String],
      weights: Array[Array[Double]],
      sampleRate: Int,
      batch: Seq[Array[Double]]): Seq[Seq[LabelScore]] =
    batch.map { w =>
      val f = graft.multimodal.WavFeatureDecoder.featuresOf(sampleRate, w)
      // feature 0 is duration — the probe uses the 7 shape features
      val x = new Array[Double](8)
      x(0) = 1.0
      var i = 1
      while (i < 8) { x(i) = f(i).toDouble; i += 1 }
      val logits = weights.map { row =>
        var s = 0.0; var j = 0
        while (j < 8) { s += row(j) * x(j); j += 1 }
        s
      }
      val m = logits.max
      val exps = logits.map(l => math.exp(l - m))
      val z = exps.sum
      labels
        .zip(exps.map(_ / z))
        .sortBy { case (l, p) => (-p, l) }
        .map { case (l, p) => LabelScore(l, p) }
        .toSeq
    }
}

/** SERIALIZED-MODEL classifier: the linear head is not compiled in —
  * it loads from a weights ARTIFACT on first use, lazily, inside the
  * executor task that calls [[classifyBatch]] (i.e. inside
  * mapPartitions/flatMapGroups on the cluster, never on the driver).
  * Only the path string is serialized into the task closure; the
  * parsed model is cached per executor JVM by lazy-val semantics.
  * This is the loading story of a real exported checkpoint (reference
  * analog audio_ac.py:35-40 loads a pretrained AST head the same way):
  * retraining ships a new artifact — a data change, not a code change.
  *
  * Artifact format (plain text, engine-neutral): line 1 = TAB-separated
  * label names; one line per label after that = 8 whitespace-separated
  * decimal weights (bias + 7 features, [[AffineSoftmax]] order). At
  * cluster scale the path must resolve on every executor — shared
  * storage or `SparkContext.addFile` + `SparkFiles.get`.
  */
final case class FileWeightsClassifier(path: String, sampleRate: Int = 16000)
    extends AudioClassifier {
  @transient private lazy val model: (Array[String], Array[Array[Double]]) = {
    val src = scala.io.Source.fromFile(path)
    try {
      val lines = src.getLines().filter(_.trim.nonEmpty).toArray
      require(lines.length >= 2, s"weights artifact $path is empty")
      val labels = lines.head.split("\t").map(_.trim)
      val w = lines.tail.map(_.trim.split("\\s+").map(_.toDouble))
      require(w.length == labels.length,
        s"weights artifact $path: ${labels.length} labels but ${w.length} weight rows")
      require(w.forall(_.length == 8),
        s"weights artifact $path: every row needs 8 weights (bias + 7 features)")
      (labels, w)
    } finally src.close()
  }

  def classifyBatch(batch: Seq[Array[Double]]): Seq[Seq[LabelScore]] = {
    val (labels, weights) = model
    AffineSoftmax.score(labels, weights, sampleRate, batch)
  }
}

object FileWeightsClassifier {
  /** Write a weights artifact in the format [[FileWeightsClassifier]]
    * loads. Doubles are serialized via toString (shortest round-trip
    * representation), so save → load is bit-exact.
    */
  def write(path: String, labels: Array[String], weights: Array[Array[Double]]): Unit = {
    require(labels.length == weights.length && weights.forall(_.length == 8),
      "one 8-weight row per label")
    val sb = new StringBuilder
    sb.append(labels.mkString("\t")).append('\n')
    weights.foreach(row => sb.append(row.mkString(" ")).append('\n'))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** The composed flagship dataflow (SURVEY §3.1), one logical plan:
  *
  *   channels → quota/gate → videos (flatMap S7) → anti-join ingested
  *   (F4) → per-channel ordered fetch loop with early-abort (T4/O3/O6,
  *   flatMapGroups) → VAD split (G1) → batched scoring (G2/G4/G5) →
  *   selection (F3) → {segments, nested meta (A5), skip log (K7)}
  *
  * Audio bytes are born inside the per-channel task and flow through
  * narrow transforms only — no waveform ever crosses a shuffle
  * (SURVEY §4). Partitioning is by channel_id throughout, matching the
  * reference's process-per-channel fan-out.
  */
object Pipeline {

  final case class Config(
      minSnr: Double = 20.0,
      minSpeechScore: Double = 0.9,
      channelMinVideos: Long = 5,
      maxPremieres: Int = 3,
      maxShortVideos: Int = 3,
      maxOverQuotaAttempts: Int = 3,
      minVideoDurationS: Long = 180,
      /** videos shorter than this count toward the short-video abort
        * (reference: 3 min, data_pipeline.py:622-632)
        */
      shortVideoS: Long = 180
  )

  /** One flat event from the per-channel loop: a scored segment, a
    * video error, or a channel abort — slim rows only; waveforms are
    * processed and dropped inside the loop, never materialized across
    * stages (the OOM-proofing that matters at 100 TB).
    */
  final case class PipelineEvent(
      kind: String, // SEGMENT | VIDEO_ERROR | CHANNEL_ABORT
      channel_id: String, video_id: String, playlist_pos: Int,
      status: String, seg_idx: Int, start: Long, end: Long,
      snr: Double, speech_score: Double, selected: Boolean)

  final case class ChannelSkip(channel_id: String, reason: String)

  final case class Outputs(
      segments: DataFrame,
      metaAll: DataFrame,
      metaSelected: DataFrame,
      skips: Dataset[ChannelSkip],
      videoErrors: DataFrame,
      /** releases the event cache all output branches read from */
      unpersist: () => Unit = () => ()
  )

  /** channels: Schemas.channels shape; ingested: one `video_id` column
    * (the T2 resume manifest as data).
    */
  def run(
      spark: SparkSession,
      channels: DataFrame,
      ingested: DataFrame,
      fetcher: AudioFetcher,
      classifier: AudioClassifier,
      cfg: Config = Config()
  ): Outputs = {
    import spark.implicits._

    // ---- admission gate (F2) + quota (P2), skip reasons as data (K7)
    val gated = channels
      .withColumn("quota", Scalars.quotaForSubs(col("n_subs")))
      .withColumn(
        "skip_reason",
        when(col("n_videos") < cfg.channelMinVideos, lit("NOT_ENOUGH_VIDEOS"))
      )
    val gateSkips = gated
      .filter(col("skip_reason").isNotNull)
      .select(col("id").as("channel_id"), col("skip_reason").as("reason"))
      .as[ChannelSkip]
    val admitted = gated.filter(col("skip_reason").isNull)

    // ---- playlist enumeration (S7): 1 channel → N video rows
    val videos = admitted
      .select(col("id").as("channel_id"), col("url"), col("quota"))
      .as[(String, String, Long)]
      .flatMap { case (cid, url, quota) =>
        fetcher.listVideoIds(url).zipWithIndex.map { case (vid, pos) =>
          (cid, vid, pos, quota)
        }
      }
      .toDF("channel_id", "video_id", "playlist_pos", "quota")

    // ---- resume anti-join (F4/T2) BEFORE any fetch: plan construction
    // places the filter below the side-effecting source (SURVEY §4)
    val fresh = videos.join(ingested, Seq("video_id"), "left_anti")

    // ---- per-channel ordered fetch→VAD→score loop with early-abort
    // counters (T4/O3/O6 + G1/G2/G4/G5): inherently sequential per
    // group → flatMapGroups with an ordered iterator. One video's
    // waveform lives at a time; only slim scored rows leave the task.
    val events: Dataset[PipelineEvent] = fresh
      .select("channel_id", "video_id", "playlist_pos", "quota")
      .as[(String, String, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (cid, it) =>
        val vids = it.toArray.sortBy(_._3)
        val quota = if (vids.isEmpty) 0L else vids.head._4
        val target = cfg.minVideoDurationS * quota
        val out = Seq.newBuilder[PipelineEvent]
        def ev(vid: String, pos: Int, kind: String, status: String) =
          PipelineEvent(kind, cid, vid, pos, status, -1, 0L, 0L, 0.0, 0.0, selected = false)
        var downloaded = 0L
        var totalDur = 0L
        var premieres = 0
        var shorts = 0
        var extra = 0
        var abortReason: String = null
        val iter = vids.iterator
        while (iter.hasNext && abortReason == null) {
          val (_, vid, pos, _) = iter.next()
          if (downloaded >= quota && totalDur >= target) {
            abortReason = "DONE"
          } else {
            if (downloaded >= quota) {
              extra += 1
              if (extra > cfg.maxOverQuotaAttempts) abortReason = "OVER_QUOTA_ATTEMPTS"
            }
            if (abortReason == null) {
              val (status, bytes) = fetcher.fetchAudio(vid)
              if (status != "OK") {
                out += ev(vid, pos, "VIDEO_ERROR", status)
                if (status == "PREMIERE_VIDEO" || status == "OFFLINE_VIDEO") {
                  premieres += 1
                  if (premieres > cfg.maxPremieres) abortReason = "TOO_MANY_PREMIERES"
                }
              } else {
                // a COMPLETE but corrupt download (truncated upload,
                // transcode garbage) must become a typed error event,
                // not a task-killing exception — same contract as the
                // fetch statuses
                val decoded =
                  try Some(Signal.wavDecode(bytes))
                  catch { case _: Exception => None }
                if (decoded.isEmpty) {
                  out += ev(vid, pos, "VIDEO_ERROR", "BAD_AUDIO")
                } else {
                val (sr, wav) = decoded.get
                val durS = wav.length.toLong / sr
                if (durS < cfg.shortVideoS) {
                  shorts += 1
                  out += ev(vid, pos, "VIDEO_ERROR", "TOO_SHORT")
                  if (shorts > cfg.maxShortVideos) abortReason = "TOO_MANY_SHORT_VIDEOS"
                } else {
                  // trim rule (P3), then VAD + batched scoring in-task
                  val (ss, to) =
                    if (durS < 180L) (0L, durS)
                    else if (durS > 2042L) (120L, durS - 120L)
                    else (60L, durS - 60L)
                  val cut = Signal.sliceSamples(wav, ss.toDouble, to.toDouble, sr)
                  val sixteenK =
                    if (sr == 16000) cut else Signal.resampleLinear(cut, sr, 16000)
                  val segs = Signal.energyVad(sixteenK)
                  val waves = segs.map(s => sixteenK.slice(s.start.toInt, s.end.toInt))
                  val preds = classifier.classifyBatch(waves) // one batch per video (G4)
                  segs.zipWithIndex.foreach { case (seg, i) =>
                    val snr = Signal.wadaSnr(waves(i))
                    val score = preds(i).foldLeft(0.0) { (acc, ls) =>
                      val wgt =
                        if (Scalars.positiveLabels.contains(ls.label)) 1.0
                        else if (Scalars.negativeLabels.contains(ls.label)) -1.0
                        else 0.0
                      acc + wgt * ls.score
                    }
                    out += PipelineEvent(
                      "SEGMENT", cid, vid, pos, "OK", i, seg.start, seg.end,
                      snr, score,
                      selected = snr >= cfg.minSnr && score >= cfg.minSpeechScore)
                  }
                  downloaded += 1
                  totalDur += (to - ss)
                }
                }
              }
            }
          }
        }
        if (abortReason != null && abortReason != "DONE")
          out += ev(s"_abort", Int.MaxValue, "CHANNEL_ABORT", abortReason)
        out.result()
      }

    val cached = events.toDF().cache()

    val videoErrors = cached
      .filter(col("kind") === "VIDEO_ERROR")
      .select("channel_id", "video_id", "playlist_pos", "status")

    val abortSkips = cached
      .filter(col("kind") === "CHANNEL_ABORT")
      .select(col("channel_id"), col("status").as("reason"))
      .as[ChannelSkip]

    val segDf = cached
      .filter(col("kind") === "SEGMENT")
      .select(
        col("channel_id"), col("video_id"), col("seg_idx"),
        struct(col("start"), col("end")).as("vad"),
        col("snr"), col("speech_score"), col("selected")
      )

    Outputs(
      segments = segDf,
      metaAll = ChannelMeta.build(segDf),
      metaSelected = ChannelMeta.buildSelected(segDf),
      skips = gateSkips.union(abortSkips),
      videoErrors = videoErrors,
      unpersist = () => { cached.unpersist(); () }
    )
  }

}
