package graft

import graft.io.Sinks
import graft.streaming.Incremental
import graft.text.CurationPipeline
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** A plan that runs again in the same JVM reuses the classes it
  * compiled the first time (`Graft.codegenReuse`): neither a cloned
  * streaming session nor a working set past Spark's 100-entry default
  * codegen cache may force a recompile. Compiles are counted with
  * Spark's own `CodegenMetrics` histogram (one update per compile).
  */
class CodegenReuseSpec extends SparkTestBase {

  /** `body`'s result and the number of classes compiled while it ran. */
  private def compiles[A](body: => A): (A, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val result = body
    (result, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  /** 200 seeded English documents; every tenth repeats its predecessor
    * so the exact and near dedup stages have work. */
  private lazy val src = {
    import spark.implicits._
    val words = ("the of and to in is that it for on with as was by at from this " +
      "data table hash sort corpus paper model river city music garden").split(" ")
    def text(i: Long): String = {
      val r = new scala.util.Random(i)
      Seq.fill(24 + (i % 17).toInt)(words(r.nextInt(words.length))).mkString(" ")
    }
    (0L until 200L).map(i => (i, text(if (i % 10 == 9) i - 1 else i))).toDF("doc_id", "text")
  }

  test("a repeated AvailableNow refreshStream append compiles no class") {
    val dir = Files.createTempDirectory("graftreuse")
    src.write.parquet(dir.resolve("a").toString)
    val tableName = "graft_codegen_reuse_t"
    val history = src.filter(col("doc_id") < 40L).select("doc_id")
    val stream = spark.readStream.schema(src.schema).parquet(dir.toString + "/*")
      .withColumn("ets", timestamp_micros((col("doc_id") + 1L) * 1000L))
    // same input, fresh checkpoint: the first call creates the table,
    // the second and third take the identical append path
    def refresh(): Unit = Incremental.refreshStream(stream, history, "doc_id", "text",
      "ets", tableName, Files.createTempDirectory("graftreuseckpt").toString)
      .awaitTermination()
    try {
      refresh()
      val rows = graft.layout.Layout.readTable(spark, tableName).count()
      assert(rows > 0L)
      val (_, second) = compiles(refresh())
      assert(graft.layout.Layout.readTable(spark, tableName).count() == 2 * rows)
      val (_, third) = compiles(refresh())
      assert(graft.layout.Layout.readTable(spark, tableName).count() == 3 * rows)
      assert(third == 0L, s"third append compiled $third classes (second: $second)")
    } finally graft.layout.Layout.dropWithLocation(spark, tableName)
  }

  test("a second curation run with its training shards compiles no class") {
    // AQE numbers the codegen stages as it creates query stages, and
    // that order follows which stages finish first: now and then a
    // rerun gets the same stage bodies under permuted `codegenStageId`s
    // (new class names, so new sources). Static planning keeps the
    // numbering fixed, so what this counts is reuse alone.
    val aqe = "spark.sql.adaptive.enabled"
    val prevAqe = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    val shards = Files.createTempDirectory("graftreuseshards").toString
    def build(): Seq[org.apache.spark.sql.Row] = {
      val out = CurationPipeline.run(src.select("doc_id", "text"), "doc_id", "text",
        CurationPipeline.Config(paragraphDedupWords = Some(32)))
      val summary = Sinks.writeTrainingShards(out.docs.select("doc_id", "clean_text"),
        "doc_id", "clean_text", shards, 2000L).collect().toSeq
      out.unpersist()
      summary
    }
    try {
      val first = build()
      assert(first.nonEmpty)
      val (again, second) = compiles(build())
      assert(again == first)
      assert(second == 0L, s"second curation run compiled $second classes")
    } finally spark.conf.set(aqe, prevAqe)
  }
}
