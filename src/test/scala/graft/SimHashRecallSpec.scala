package graft

import org.apache.spark.sql.functions._

/** Measures (and pins) the recall loss of the capped Hamming-banding
  * posture on the adversarial shape the cap exists for: a single HOT
  * band bucket holding far more distinct prints than the cap, where
  * some qualifying pairs are reachable through that bucket ONLY.
  *
  * Construction (maxHamming = 3 → m = 5 chunks, chunk bit ranges
  * [0,12,25,38,51,64)): every print shares chunks 0 and 1, so the
  * (0,1) band bucket contains all 1600 distinct prints. Each planted
  * pair differs in exactly one bit of EACH of chunks 2, 3, 4
  * (hamming 3): any band other than (0,1) includes a differing chunk,
  * so the pair shares band (0,1) alone — if either member ranks past
  * the 512-print cap in that bucket, the pair is lost. This is the
  * measured number the simHashPairs scaladoc cites; the corpus-level
  * sf1/sf10 recall lives in NOTES.md (Round 12 #4).
  */
class SimHashRecallSpec extends SparkTestBase {
  import spark.implicits._

  test("capped banding on a one-hot-bucket adversarial fixture: exact " +
    "cover equals brute force, capped recall is partial and pinned") {
    def mk(c0: Long, c1: Long, c2: Long, c3: Long, c4: Long): Long =
      c0 | (c1 << 12) | (c2 << 25) | (c3 << 38) | (c4 << 51)
    val base = (0 until 800).map { i =>
      mk(3L, 5L, (i * 37L) % 8192, (i * 113L) % 8192, (i * 211L) % 8192)
    }
    // partner = base with one bit flipped in each of chunks 2, 3, 4
    val partners = base.map(p => p ^ (1L << 30) ^ (1L << 45) ^ (1L << 60))
    val prints = (base ++ partners).distinct
    assert(prints.size == 1600, s"fixture collision: ${prints.size}")
    val df = prints.zipWithIndex
      .map { case (fp, i) => (i.toLong, fp) }.toDF("id", "fp")
    // driver-side brute-force truth over all C(1600,2) pairs
    val byId = prints.zipWithIndex.map { case (fp, i) => i.toLong -> fp }
    val truth = (for {
      (ia, fa) <- byId; (ib, fb) <- byId
      if ia < ib && java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (ia, ib)).toSet
    assert(truth.size >= 800) // at least the planted pairs

    def run(cap: Option[Int]) = graft.dedup.Dedup
      .hammingPairs64(df, "id", "fp", maxHamming = 3, maxPerBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = run(None)
    assert(exact == truth, "uncapped banding must be the complete cover")
    val capped = run(Some(512))
    assert(capped.subsetOf(exact))
    val recall = capped.size.toDouble / exact.size
    info(f"adversarial one-hot-bucket recall at cap=512: $recall%.4f " +
      s"(${capped.size}/${exact.size})")
    // deterministic fixture -> deterministic loss; pin the measured
    // number (219 of the 800 planted pairs survive: both members must
    // rank within the bucket's first 512 prints by value) so a
    // banding/cap change that silently shifts recall fails loudly here
    assert(truth.size == 800)
    assert(capped.size == 219, s"adversarial recall moved: ${capped.size}/800")
  }
}
