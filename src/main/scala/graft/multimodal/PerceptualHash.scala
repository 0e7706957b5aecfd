package graft.multimodal

import java.awt.image.BufferedImage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Perceptual image hashing for near-duplicate IMAGE dedup — the
  * LAION-style front door: decode → 64-bit difference hash (dHash) →
  * Hamming grouping through the exact same Manku combinatorial
  * blocking the text SimHash path uses ([[graft.dedup.Dedup.hammingPairs64]]).
  *
  * dHash here is the nearest-sample variant: the image is sampled on a
  * 9×8 grid (pixel (⌊cx·w/9⌋, ⌊cy·h/8⌋)), per-sample integer luma
  * l = 299r + 587g + 114b (the BT.601 weights ×1000 — no division, so
  * the comparison is pure integer), and bit (cy·8+cx) is set iff the
  * cell is darker than its right neighbor. Nearest sampling instead of
  * the classic area-average resize keeps every bit an exact integer
  * predicate over decoded pixels — which is what lets a DuckDB oracle
  * predict the full 64-bit hash arithmetically from the fixture
  * recipe, so a broken decode, channel-order bug, or grid-math error
  * cannot pass. The robustness property near-dup dedup needs
  * (invariance under small global luminance shifts, sensitivity to
  * content) is identical to classic dHash: bits depend only on the
  * SIGN of neighbor luma differences.
  *
  * Scale: hashing is per-row work behind the codec boundary (binary
  * payloads never shuffle); the only exchange is the 8-byte
  * fingerprint groupBy/banded self-join — the same slim-shuffle shape
  * as text SimHash, so the 100 TB posture is inherited unchanged.
  *
  * Reference analog: the pipeline dedups downloads by video id
  * (yt_download.py resume set); content-level near-dup image identity
  * is the multimodal generalization a training-data curator actually
  * needs (public precedent: LAION-5B / DataComp pHash dedup).
  */
object PerceptualHash {

  /** 64-bit nearest-sample dHash over a decoded image. */
  def dHash64(img: BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    def lumaAt(px: Int, py: Int): Long = {
      val rgb = img.getRGB(px, py)
      val r = (rgb >> 16) & 0xff
      val g = (rgb >> 8) & 0xff
      val b = rgb & 0xff
      299L * r + 587L * g + 114L * b
    }
    var hash = 0L
    var cy = 0
    while (cy < 8) {
      val py = cy * h / 8
      var cx = 0
      var prev = lumaAt(0 * w / 9, py)
      while (cx < 8) {
        val next = lumaAt((cx + 1) * w / 9, py)
        if (prev < next) hash |= 1L << (cy * 8 + cx)
        prev = next
        cx += 1
      }
      cy += 1
    }
    hash
  }

  /** dHash of an encoded payload via the REAL codec; None when the
    * payload does not decode (callers DLQ or fall through — a corrupt
    * image must not kill the scan task).
    */
  def dHash64(payload: Array[Byte]): Option[Long] =
    ImageCodec.decode(payload).map(dHash64)

  private val dHashUdf = udf { (payload: Array[Byte]) =>
    if (payload == null) None else dHash64(payload)
  }

  /** (idCol, phash) for every decodable payload row; non-decodable
    * payloads are dropped here (they carry no perceptual identity —
    * exact byte dedup owns them).
    */
  def imageHashes(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(col(idCol), dHashUdf(col(payloadCol)).as("phash"))
      .filter(col("phash").isNotNull)

  /** Near-duplicate image pairs (a, b, hamming ≤ maxHamming) via the
    * shared Manku-blocking Hamming join — decode + hash per row, then
    * only 8-byte fingerprints shuffle.
    */
  def nearDupImagePairs(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      maxHamming: Int = 8
  ): DataFrame =
    graft.dedup.Dedup.hammingPairs64(
      imageHashes(df, idCol, payloadCol), idCol, "phash", maxHamming)

  /** Incremental image near-dup (refresh shape): the NEW batch's
    * dHashes against the STANDING history's — no history-internal
    * pairwork, no corpus re-hash of anything but the two inputs.
    * Returns (new_id, hist_id, hamming ≤ maxHamming). The image face
    * of the [[graft.dedup.Dedup.hammingPairsAgainst64]] cross join.
    */
  def nearDupImagePairsAgainst(
      newDf: DataFrame,
      histDf: DataFrame,
      idCol: String,
      payloadCol: String,
      maxHamming: Int = 8
  ): DataFrame =
    graft.dedup.Dedup.hammingPairsAgainst64(
      imageHashes(newDf, idCol, payloadCol),
      imageHashes(histDf, idCol, payloadCol),
      idCol, "phash", maxHamming)

  /** The complete image keep/drop decision: decode → dHash →
    * exact-group-collapsed clustering
    * ([[graft.dedup.Dedup.clusterizeHamming64]]). Byte-identical and
    * uniform-shift image copies share a fingerprint, so they collapse
    * to one representative BEFORE the Hamming join — pair emission is
    * linear per exact clique and the banding join scales with
    * distinct fingerprints, not image count. Partition equals
    * clusterize over the full [[nearDupImagePairs]] relation.
    */
  def imageClusters(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      maxHamming: Int = 8
  ): DataFrame =
    graft.dedup.Dedup.clusterizeHamming64(
      imageHashes(df, idCol, payloadCol), idCol, "phash", maxHamming)

  /** Deterministic STRIPED grayscale PNG fixture for oracle-checked
    * image near-dup: an 8×8 stripe grid whose gray levels are a pure
    * function of (group, stripe), plus a small per-variant jitter —
    * three payload-distinct variants per group that dHash must
    * identify:
    *
    *   group g = id / 3, variant j = id % 3
    *   w = 9 + g % 24, h = 8 + g % 11
    *   stripe of pixel (x, y): sx = x·8/w, sy = y·8/h
    *   gray v = 16 + (g·37 + sx·73 + sy·41) mod 224 + j
    *             (+5 on stripe (3,3) when j = 2)
    *
    * The uniform +j shift preserves every luma comparison exactly
    * (a + j < b + j ⇔ a < b), so variants 0/1 hash IDENTICALLY despite
    * different bytes; variant 2's single perturbed stripe flips at
    * most the few bits sampled from stripe (3,3) — a genuine NEAR
    * duplicate the Hamming join must still capture. All arithmetic is
    * integer, so a DuckDB oracle replays the exact hash and the exact
    * pair set.
    */
  def fixtureStripePng(id: Long): Array[Byte] = {
    val g = id / 3
    val j = (id % 3).toInt
    val w = (9 + Math.floorMod(g, 24L)).toInt
    val h = (8 + Math.floorMod(g, 11L)).toInt
    // BLOCK TERM (r14): without it the luma pattern is a pure function
    // of (g*37 mod 224, g mod 24, g mod 11) — period lcm(224,24,11) =
    // 7392 groups, so beyond ~7.4k groups distinct prints stop growing
    // and copies-per-print grow LINEARLY with the corpus (the true
    // near-dup pair set then grows quadratically — the sf10 decade
    // fixtures measured the fixture, not the engine; VERDICT r13 #5).
    // Block b = g/7392 adds b·(59·sx + 17·sy + 29·sx·sy) mod 224: b=0
    // reproduces the old bytes exactly (every committed small-SF
    // oracle face unchanged — sf0.1 tops out at 1,667 groups), and two
    // blocks collide only when (b−b')·59 ≡ 0 (mod 224) at (sx,sy) =
    // (1,0), i.e. b ≡ b' (mod 224) since gcd(59,224)=1 — the print
    // space now grows with the corpus through ~1.6M groups (≈ sf100),
    // bounding copies-per-print at every gated decade.
    val b = g / 7392
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val sy = y * 8 / h
      var x = 0
      while (x < w) {
        val sx = x * 8 / w
        var v = (16 + Math.floorMod(
          g * 37 + sx * 73L + sy * 41L +
            b * (sx * 59L + sy * 17L + sx * sy * 29L), 224L)).toInt + j
        if (j == 2 && sx == 3 && sy == 3) v += 5
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    ImageCodec.encodePng(img)
  }
}
