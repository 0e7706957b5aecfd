package graft

import graft.io.LocalPublisher
import graft.streaming.Incremental
import graft.streaming.Incremental.VideoStatus
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** T1-T4 streaming semantics over MemoryStream (no network, no files). */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("windowed rollup with watermark over a memory stream (T1)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val agg = Incremental.windowedRollup(df, "ts", "10 minutes", "5 minutes")
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("rollup")
      .start()
    in.addData(
      (Timestamp.valueOf("2024-01-01 00:01:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 00:02:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 00:07:00"), "view", 3.0)
    )
    q.processAllAvailable()
    val rows = spark.sql("SELECT event_type, n, total FROM rollup ORDER BY event_type").collect()
    q.stop()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("click", 2L, 3.0), ("view", 1L, 3.0)))
  }

  test("incremental publish via foreachBatch is idempotent + retried (T1/T3/K6)") {
    implicit val sc = spark.sqlContext
    val root = Files.createTempDirectory("graftstream").toString
    val in = MemoryStream[(Long, String)]
    val pub = new LocalPublisher(s"$root/pub")
    // AvailableNow snapshots offsets at start — data must exist first
    in.addData((1L, "a"), (2L, "a"))
    val q = Incremental.publishStream(
      in.toDF().toDF("video_id", "channel_id"),
      pub, "main", s"$root/ckpt", tries = 3, sleepMs = 0
    )
    q.awaitTermination() // AvailableNow terminates after draining
    val committed = new java.io.File(s"$root/pub/main").listFiles()
    assert(committed != null && committed.exists(_.getName.startsWith("batch_")))
  }

  test("streaming dedup bounds state with the watermark (T2)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val dedup = Incremental.dedupByKey(
      in.toDF().toDF("ts", "video_id"), "ts", Seq("video_id"))
    val q = dedup.writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    in.addData(
      (Timestamp.valueOf("2024-01-01 00:00:00"), "v1"),
      (Timestamp.valueOf("2024-01-01 00:00:10"), "v1"),
      (Timestamp.valueOf("2024-01-01 00:00:20"), "v2")
    )
    q.processAllAvailable()
    val n = spark.sql("SELECT count(*) FROM dedup_out").head().getLong(0)
    q.stop()
    assert(n == 2L)
  }

  test("composed T1 chain: streaming segments → selection → meta → publish") {
    implicit val sc = spark.sqlContext
    val root = Files.createTempDirectory("graftmeta").toString
    val in = MemoryStream[graft.schema.SegmentRow]
    in.addData(
      graft.schema.SegmentRow("ch1", "vidA", 0, graft.schema.VadSpan(0, 16000),
        Seq.empty, 25.0, 0.95, selected = true),
      graft.schema.SegmentRow("ch1", "vidA", 1, graft.schema.VadSpan(32000, 48000),
        Seq.empty, 8.0, 0.2, selected = false),
      graft.schema.SegmentRow("ch2", "vidB", 0, graft.schema.VadSpan(0, 16000),
        Seq.empty, 22.0, 0.91, selected = true)
    )
    val pub = new LocalPublisher(s"$root/pub")
    val q = Incremental.publishSelectedSegments(
      in.toDF(), pub, "main", s"$root/ckpt", tries = 3)
    q.awaitTermination()
    val out = spark.read.parquet(s"$root/pub/main/batch_0")
    val rows = out.orderBy("channel_id").collect()
    // only channels with SELECTED segments publish; meta is nested JSON
    assert(rows.map(_.getString(0)).toSeq == Seq("ch1", "ch2"))
    val ch1 = rows.head.getString(1)
    assert(ch1.contains("\"vidA\"") && ch1.contains("00000000"))
    assert(!ch1.contains("00000001")) // unselected segment excluded
  }

  test("early-abort counters as flatMapGroupsWithState (T4)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[VideoStatus]
    val decisions = Incremental.earlyAbort(in.toDS(), maxPremieres = 2)
    val q = decisions.writeStream.outputMode("append").format("memory")
      .queryName("abort_out").start()
    in.addData(
      VideoStatus("c1", "v1", "OK"),
      VideoStatus("c1", "v2", "PREMIERE_VIDEO"),
      VideoStatus("c1", "v3", "PREMIERE_VIDEO")
    )
    q.processAllAvailable()
    // third premiere in a LATER batch crosses the budget; later videos drop
    in.addData(VideoStatus("c1", "v4", "PREMIERE_VIDEO"), VideoStatus("c1", "v5", "OK"))
    q.processAllAvailable()
    val rows = spark.sql("SELECT video_id, keep, reason FROM abort_out ORDER BY video_id").collect()
    q.stop()
    val byId = rows.map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(byId("v1") == (true, "OK"))
    assert(byId("v4") == (false, "TOO_MANY_PREMIERES"))
    assert(byId("v5") == (false, "CHANNEL_ABORTED"))
  }

  test("stream handles compare by id: equality with the manager's handle " +
    "is symmetric") {
    val root = Files.createTempDirectory("grafthandle")
    val docs = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    docs.write.parquet(root.resolve("in/a").toString)
    val history = Seq((9L, "a b c d")).toDF("doc_id", "text")
    // holds the first micro-batch open, so the query stays active
    // (the manager hands out active queries only) until released
    StreamHandleGate.latch = new CountDownLatch(1)
    val hold = udf { (s: String) =>
      StreamHandleGate.latch.await(60, TimeUnit.SECONDS); s
    }
    val stream = spark.readStream.schema(docs.schema)
      .parquet(root.resolve("in").toString + "/*")
      .withColumn("text", hold(col("text")))
    val handle = Incremental.containmentFilterStream(stream, history,
      "doc_id", "text", root.resolve("out").toString,
      root.resolve("ckpt").toString, n = 2)
    try {
      val managed = spark.streams.get(handle.id)
      assert(managed != null, "the query ended before the check")
      assert(handle.id == managed.id)
      assert((handle == managed) == (managed == handle))
      assert(handle == handle)
    } finally {
      StreamHandleGate.latch.countDown()
      handle.awaitTermination()
    }
  }
}

/** Read by a task-side UDF: a static, so the closure captures nothing. */
object StreamHandleGate {
  @volatile var latch = new CountDownLatch(0)
}
