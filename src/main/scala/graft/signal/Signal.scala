package graft.signal

/** Signal-domain scalar/generator operators (SURVEY §2.8), implemented
  * as pure deterministic Scala so they run identically on every
  * executor with no model downloads. Heavy per-row work stays inside a
  * partition — waveforms never shuffle (SURVEY §4).
  */
object Signal {

  // ------------------------------------------------------------------
  // G2 — WADA blind SNR estimation.
  // Semantics of `/root/reference/audio_snr.py:8-58` (itself the public
  // WADA-SNR algorithm, Kim & Stern, Interspeech 2008): peak-normalize,
  // v3 = log E[|z|] − E[log|z|], invert the gamma-derived table by
  // piecewise-linear interpolation, split energy, return 10·log10 ratio.
  // The 121-entry curve is algorithm data from the published method
  // (dB grid −20..100).
  // ------------------------------------------------------------------

  private val dbVals: Array[Double] = (-20 to 100).map(_.toDouble).toArray

  private val gVals: Array[Double] = Array(0.40974774, 0.40986926, 0.40998566,
    0.40969089, 0.40986186, 0.40999006, 0.41027138, 0.41052627, 0.41101024,
    0.41143264, 0.41231718, 0.41337272, 0.41526426, 0.4178192, 0.42077252,
    0.42452799, 0.42918886, 0.43510373, 0.44234195, 0.45161485, 0.46221153,
    0.47491647, 0.48883809, 0.50509236, 0.52353709, 0.54372088, 0.56532427,
    0.58847532, 0.61346212, 0.63954496, 0.66750818, 0.69583724, 0.72454762,
    0.75414799, 0.78323148, 0.81240985, 0.84219775, 0.87166406, 0.90030504,
    0.92880418, 0.95655449, 0.9835349, 1.01047155, 1.0362095, 1.06136425,
    1.08579312, 1.1094819, 1.13277995, 1.15472826, 1.17627308, 1.19703503,
    1.21671694, 1.23535898, 1.25364313, 1.27103891, 1.28718029, 1.30302865,
    1.31839527, 1.33294817, 1.34700935, 1.3605727, 1.37345513, 1.38577122,
    1.39733504, 1.40856397, 1.41959619, 1.42983624, 1.43958467, 1.44902176,
    1.45804831, 1.46669568, 1.47486938, 1.48269965, 1.49034339, 1.49748214,
    1.50435106, 1.51076426, 1.51698915, 1.5229097, 1.528578, 1.53389835,
    1.5391211, 1.5439065, 1.54858517, 1.55310776, 1.55744391, 1.56164927,
    1.56566348, 1.56938671, 1.57307767, 1.57654764, 1.57980083, 1.58304129,
    1.58602496, 1.58880681, 1.59162477, 1.5941969, 1.59693155, 1.599446,
    1.60185011, 1.60408668, 1.60627134, 1.60826199, 1.61004547, 1.61192472,
    1.61369656, 1.61534074, 1.61688905, 1.61838916, 1.61985374, 1.62135878,
    1.62268119, 1.62390423, 1.62513143, 1.62632463, 1.6274027, 1.62842767,
    1.62945532, 1.6303307, 1.63128026, 1.63204102)

  /** The G-table exposed for the oracle SQL literal (q_g2_wada_table
    * cross-checks the 121-entry wiring engine-to-engine).
    */
  private[graft] def gTable: Array[Double] = gVals

  /** Integer core of the WADA lookup — the part of G2 that IS
    * oracle-checkable: `peakZero` (degenerate input), `v3` (the gamma
    * statistic), and `idx` = largest table index with g\[idx\] < v3
    * (−1 = below-table floor clamp, 120 = top clamp). wadaSnr derives
    * from exactly this core, so a green oracle on (peakZero, idx)
    * cross-checks the table wiring even though the float SNR itself is
    * not bit-stable across engines (libm).
    */
  private[graft] final case class WadaCore(peakZero: Boolean, v3: Double, idx: Int)

  private[graft] def wadaCore(wav: Array[Double]): WadaCore = {
    val eps = 1e-10
    if (wav == null || wav.isEmpty) return WadaCore(peakZero = true, 0.0, -1)
    var peak = 0.0
    var i = 0
    while (i < wav.length) { val a = math.abs(wav(i)); if (a > peak) peak = a; i += 1 }
    if (peak == 0.0) return WadaCore(peakZero = true, 0.0, -1)
    // E[|z|] and E[log|z|] over the peak-normalized magnitude
    var sumAbs = 0.0
    var sumLog = 0.0
    i = 0
    while (i < wav.length) {
      val z = math.max(math.abs(wav(i)) / peak, eps)
      sumAbs += z
      sumLog += math.log(z)
      i += 1
    }
    val v1 = math.max(eps, sumAbs / wav.length)
    val v2 = sumLog / wav.length
    val v3 = math.log(v1) - v2
    // largest index with g < v3; clamp at both table edges
    var idx = -1
    i = 0
    while (i < gVals.length) { if (gVals(i) < v3) idx = i; i += 1 }
    WadaCore(peakZero = false, v3, idx)
  }

  /** Blind SNR (dB) of a waveform. Returns −20 (table floor clamp) for
    * degenerate inputs instead of NaN-ing (divergence note: the
    * reference lets NaN propagate on all-zero input).
    */
  def wadaSnr(wav: Array[Double]): Double = {
    val core = wadaCore(wav)
    if (core.peakZero) return dbVals.head
    val v3 = core.v3
    val idx = core.idx
    var peak = 0.0
    var i = 0
    while (i < wav.length) { val a = math.abs(wav(i)); if (a > peak) peak = a; i += 1 }
    val snrDb =
      if (idx < 0) dbVals.head
      else if (idx == dbVals.length - 1) dbVals.last
      else
        dbVals(idx) + (v3 - gVals(idx)) / (gVals(idx + 1) - gVals(idx)) *
          (dbVals(idx + 1) - dbVals(idx))
    // split total energy into signal and noise by the estimated factor
    var eng = 0.0
    i = 0
    while (i < wav.length) { val z = wav(i) / peak; eng += z * z; i += 1 }
    val factor = math.pow(10.0, snrDb / 10.0)
    val noiseEng = eng / (1.0 + factor)
    val sigEng = eng * factor / (1.0 + factor)
    10.0 * math.log10(sigEng / noiseEng)
  }

  // ------------------------------------------------------------------
  // G1 — VAD split. Deterministic energy-threshold detector with the
  // Silero parameter surface of `/root/reference/audio_vad.py:17-26`
  // (min_speech_duration_ms, max_speech_duration_s,
  // min_silence_duration_ms, speech_pad_ms). 1 waveform → N segments.
  // ------------------------------------------------------------------

  final case class VadParams(
      sampleRate: Int = 16000,
      threshold: Double = 0.02,
      frameMs: Int = 30,
      minSpeechMs: Int = 500,
      maxSpeechS: Double = 15.0,
      minSilenceMs: Int = 150,
      speechPadMs: Int = 30
  )

  final case class Segment(start: Long, end: Long) {
    def length: Long = end - start
  }

  /** Energy VAD: frame RMS over threshold → speech; silences shorter
    * than min_silence merge; speech shorter than min_speech drops;
    * speech longer than max_speech splits; pad_ms padding on both
    * sides. Timestamps are sample offsets at `sampleRate` (matching the
    * reference's 16 kHz sample-unit convention, audio_vad.py:32-40).
    */
  def energyVad(wav: Array[Double], p: VadParams = VadParams()): Seq[Segment] = {
    if (wav == null || wav.isEmpty) return Nil
    val frame = math.max(1, p.sampleRate * p.frameMs / 1000)
    val nFrames = (wav.length + frame - 1) / frame
    val speechFrames = new Array[Boolean](nFrames)
    var f = 0
    while (f < nFrames) {
      val s = f * frame
      val e = math.min(wav.length, s + frame)
      var acc = 0.0
      var i = s
      while (i < e) { acc += wav(i) * wav(i); i += 1 }
      speechFrames(f) = math.sqrt(acc / (e - s)) > p.threshold
      f += 1
    }
    // raw runs of speech frames → sample ranges
    var runs = List.newBuilder[Segment]
    var runStart = -1
    f = 0
    while (f <= nFrames) {
      val sp = f < nFrames && speechFrames(f)
      if (sp && runStart < 0) runStart = f
      if (!sp && runStart >= 0) {
        runs += Segment(runStart.toLong * frame, math.min(wav.length.toLong, f.toLong * frame))
        runStart = -1
      }
      f += 1
    }
    val minSilence = p.sampleRate.toLong * p.minSilenceMs / 1000
    val minSpeech = p.sampleRate.toLong * p.minSpeechMs / 1000
    val maxSpeech = (p.sampleRate.toDouble * p.maxSpeechS).toLong
    val pad = p.sampleRate.toLong * p.speechPadMs / 1000
    // merge across short silences
    val merged = runs.result().foldLeft(List.empty[Segment]) {
      case (acc @ (prev :: rest), cur) if cur.start - prev.end < minSilence =>
        Segment(prev.start, cur.end) :: rest
      case (acc, cur) => cur :: acc
    }.reverse
    // drop short, split long, pad
    merged
      .filter(_.length >= minSpeech)
      .flatMap { seg =>
        if (seg.length <= maxSpeech) Seq(seg)
        else {
          val n = ((seg.length + maxSpeech - 1) / maxSpeech).toInt
          (0 until n).map { i =>
            Segment(seg.start + i * maxSpeech, math.min(seg.end, seg.start + (i + 1) * maxSpeech))
          }.filter(_.length >= minSpeech)
        }
      }
      .map(s => Segment(math.max(0L, s.start - pad), math.min(wav.length.toLong, s.end + pad)))
  }

  // ------------------------------------------------------------------
  // G3 — alternative SNR estimators (snr_dev.ipynb c0/c9): evaluated
  // offline in the reference and not shipped in its pipeline; provided
  // here for the same labeled-fixture comparisons.
  // ------------------------------------------------------------------

  /** Frame-based SNR: per 2048-sample frame (hop 512), frame SNR =
    * 10·log10(frame energy / noise-floor energy) with the noise floor
    * taken as the 10th-percentile frame energy; returns the mean frame
    * SNR. NaN-free: degenerate input → 0 (divergence note: the
    * reference maps NaN → 0 explicitly).
    */
  def frameSnr(wav: Array[Double], frame: Int = 2048, hop: Int = 512): Double = {
    if (wav == null || wav.length < frame) return 0.0
    val energies = Iterator
      .range(0, wav.length - frame + 1, hop)
      .map { s =>
        var acc = 0.0
        var i = s
        while (i < s + frame) { acc += wav(i) * wav(i); i += 1 }
        acc / frame
      }
      .toArray
    if (energies.isEmpty) return 0.0
    val sorted = energies.sorted
    val floor = math.max(1e-12, sorted(math.max(0, sorted.length / 10 - 1).max(0)))
    val mean = energies.map(e => 10.0 * math.log10(math.max(e, 1e-12) / floor)).sum /
      energies.length
    if (mean.isNaN) 0.0 else mean
  }

  /** RMS-threshold SNR: frames with RMS below `threshold` are noise,
    * the rest speech; SNR = 10·log10(speechPower/noisePower). All-noise
    * or all-speech input → 0 (reference: NaN → 0).
    */
  /** G3 core: mean power of each full non-overlapping frame, in frame
    * order (sequential accumulation — the oracle replays it with an
    * order-pinned list_sum). Split out of [[rmsThresholdSnr]] so the
    * libm-free decision surface (x·x sums, /frame, sqrt compare — all
    * IEEE-exact cross-engine) is oracle-checkable even though the
    * final dB value (log10) is not.
    */
  def rmsFramePowers(wav: Array[Double], frame: Int = 512): Array[Double] = {
    if (wav == null || wav.length < frame) return Array.empty
    val out = new Array[Double](wav.length / frame)
    var f = 0
    while (f < out.length) {
      var acc = 0.0
      var i = f * frame
      val end = i + frame
      while (i < end) { acc += wav(i) * wav(i); i += 1 }
      out(f) = acc / frame
      f += 1
    }
    out
  }

  def rmsThresholdSnr(wav: Array[Double], threshold: Double = 0.02,
      frame: Int = 512): Double = {
    var sSum = 0.0; var sN = 0L
    var nSum = 0.0; var nN = 0L
    rmsFramePowers(wav, frame).foreach { p =>
      if (math.sqrt(p) < threshold) { nSum += p; nN += 1 }
      else { sSum += p; sN += 1 }
    }
    if (sN == 0 || nN == 0 || nSum == 0.0) 0.0
    else {
      val r = 10.0 * math.log10((sSum / sN) / (nSum / nN))
      if (r.isNaN) 0.0 else r
    }
  }

  // ------------------------------------------------------------------
  // G6/G7 — slice & duration (array ops; also available as Columns).
  // ------------------------------------------------------------------

  def sliceSamples(wav: Array[Double], ssSec: Double, toSec: Double, sr: Int): Array[Double] = {
    val s = math.max(0, (ssSec * sr).toInt)
    val e = math.min(wav.length, (toSec * sr).toInt)
    if (e <= s) Array.emptyDoubleArray else java.util.Arrays.copyOfRange(wav, s, e)
  }

  def durationSec(wav: Array[Double], sr: Int): Double = wav.length.toDouble / sr

  // ------------------------------------------------------------------
  // G8 — linear-interpolation resample (48 kHz → 16 kHz analysis copy,
  // audio_vad.py:31 / audio_snr.py:65; exactness vs librosa's polyphase
  // not required — downstream thresholds are coarse, SURVEY §2.8).
  // ------------------------------------------------------------------

  def resampleLinear(wav: Array[Double], srIn: Int, srOut: Int): Array[Double] = {
    if (srIn == srOut || wav.isEmpty) return wav
    val outLen = math.max(1, (wav.length.toLong * srOut / srIn).toInt)
    val out = new Array[Double](outLen)
    val ratio = srIn.toDouble / srOut
    var i = 0
    while (i < outLen) {
      val pos = i * ratio
      val i0 = pos.toInt
      val i1 = math.min(wav.length - 1, i0 + 1)
      val frac = pos - i0
      out(i) = wav(math.min(i0, wav.length - 1)) * (1 - frac) + wav(i1) * frac
      i += 1
    }
    out
  }

  // ------------------------------------------------------------------
  // S9/K5 — PCM16 mono WAV codec (real, dependency-free). Decode feeds
  // `spark.read.format("binaryFile")` payloads; encode backs the
  // segment sink. 44-byte canonical RIFF header.
  // ------------------------------------------------------------------

  def wavEncode(wav: Array[Double], sr: Int): Array[Byte] = {
    val n = wav.length
    val dataLen = n * 2
    val bb = java.nio.ByteBuffer
      .allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(1).putShort(1).putInt(sr).putInt(sr * 2).putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) {
      val v = math.max(-1.0, math.min(1.0, wav(i)))
      bb.putShort(math.round(v * 32767.0).toShort)
      i += 1
    }
    bb.array()
  }

  /** Decode PCM16 mono WAV bytes → (sampleRate, samples in [-1,1]).
    * Walks RIFF chunks; throws on compressed / multi-channel payloads.
    */
  def wavDecode(bytes: Array[Byte]): (Int, Array[Double]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 44, "not a WAV: too short")
    val riff = new Array[Byte](4); bb.get(riff)
    require(new String(riff, "US-ASCII") == "RIFF", "not a WAV: no RIFF magic")
    bb.getInt()
    val wave = new Array[Byte](4); bb.get(wave)
    require(new String(wave, "US-ASCII") == "WAVE", "not a WAV: no WAVE form")
    var sr = -1
    var channels = -1
    var bits = -1
    var data: Array[Double] = null
    while (bb.remaining() >= 8 && data == null) {
      val tag = new Array[Byte](4); bb.get(tag)
      val len = bb.getInt()
      new String(tag, "US-ASCII") match {
        case "fmt " =>
          val fmt = bb.getShort()
          require(fmt == 1, s"unsupported WAV format code $fmt (PCM only)")
          channels = bb.getShort()
          sr = bb.getInt()
          bb.getInt(); bb.getShort()
          bits = bb.getShort()
          require(channels == 1, s"mono only, got $channels channels")
          require(bits == 16, s"PCM16 only, got $bits bits")
          bb.position(bb.position() + (len - 16))
        case "data" =>
          val n = len / 2
          val out = new Array[Double](n)
          var i = 0
          while (i < n) { out(i) = bb.getShort() / 32767.0; i += 1 }
          data = out
        case _ =>
          bb.position(bb.position() + len + (len & 1))
      }
    }
    require(sr > 0 && data != null, "WAV missing fmt/data chunk")
    (sr, data)
  }
}
