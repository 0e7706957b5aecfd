package graft

import graft.text.Dsir
import org.apache.spark.sql.functions._

/** The DSIR resampling draw: scan-until semantics (emit while
  * tokens-before < budget), overshoot bound, draw order, and
  * degenerate budgets.
  */
class DsirResampleSpec extends SparkTestBase {
  import spark.implicits._

  // pre-scored survivors: 10 kept docs of 10 tokens each, 2 dropped
  private lazy val scored = ((1L to 10L).map(i => (i, 10L, true)) ++
    Seq((90L, 5L, false), (91L, 0L, false)))
    .toDF("doc_id", "n_toks", "keep")

  private def draw(budget: Long) = Dsir
    .resampleToBudget(scored, "doc_id", "s", budget)
    .select($"doc_id", $"n_toks", $"bef")
    .as[(Long, Long, Long)].collect().sortBy(_._3).toSeq

  test("emits whole docs while tokens-before < budget; overshoot < one doc") {
    val d = draw(35L)
    // 10-token docs: bef = 0,10,20,30 pass (< 35); 40 does not
    assert(d.map(_._3) == Seq(0L, 10L, 20L, 30L))
    val emitted = d.map(_._2).sum
    assert(emitted >= 35L && emitted - d.last._2 < 35L)
  }

  test("dropped and zero-token docs never enter the draw") {
    val ids = draw(1000L).map(_._1).toSet
    assert(!ids.contains(90L) && !ids.contains(91L))
    assert(ids == (1L to 10L).toSet) // budget above total: all kept
  }

  test("budget smaller than the first doc still emits it (docs whole)") {
    val d = draw(3L)
    assert(d.size == 1 && d.head._3 == 0L)
  }

  test("budget zero emits nothing") {
    assert(draw(0L).isEmpty)
  }

  test("the draw order is the salted-md5 order") {
    val expected = (1L to 10L)
      .toDF("doc_id")
      .select($"doc_id",
        graft.text.Sampling.saltedHex("s", $"doc_id").as("hk"))
      .orderBy($"hk", $"doc_id")
      .select("doc_id").as[Long].collect().take(4).toSeq
    assert(draw(35L).map(_._1) == expected)
  }
}
