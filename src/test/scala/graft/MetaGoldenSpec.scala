package graft

import graft.meta.ChannelMeta
import graft.schema.{SegmentRow, VadSpan}

/** K4/A5 golden test: the nested channel-meta JSON for a fixed segment
  * set must be byte-stable (sorted map keys, zero-padded idx, embed
  * URLs) — FIXTURES.md §6.
  */
class MetaGoldenSpec extends SparkTestBase {
  import spark.implicits._

  private val segs = Seq(
    SegmentRow("ch1", "vidB", 1, VadSpan(32000, 64000), Seq.empty, 25.0, 0.95, selected = true),
    SegmentRow("ch1", "vidB", 0, VadSpan(0, 16001), Seq.empty, 10.0, 0.2, selected = false),
    SegmentRow("ch1", "vidA", 0, VadSpan(8000, 24000), Seq.empty, 22.0, 0.91, selected = true)
  ).toDF()

  test("metaAll JSON is byte-stable with sorted videos and ordered segments") {
    val json = ChannelMeta
      .toJsonDocs(ChannelMeta.build(segs))
      .orderBy("channel_id")
      .collect()
      .map(r => s"${r.getString(0)}\t${r.getString(1)}")
      .mkString("\n")
    val expected =
      "ch1\t" +
        """{"videos":{"vidA":[{"idx":"00000000","url":"https://www.youtube.com/embed/vidA?start=0&end=2","selected":true,"vad":{"start":8000,"end":24000},"snr":22.0,"speech_score":0.91}],""" +
        """"vidB":[{"idx":"00000000","url":"https://www.youtube.com/embed/vidB?start=0&end=2","selected":false,"vad":{"start":0,"end":16001},"snr":10.0,"speech_score":0.2},""" +
        """{"idx":"00000001","url":"https://www.youtube.com/embed/vidB?start=2&end=4","selected":true,"vad":{"start":32000,"end":64000},"snr":25.0,"speech_score":0.95}]},""" +
        """"total_duration_h":0.0011111284722222223,"n_videos_with_segments":2}"""
    assert(json == expected, s"got:\n$json")
  }

  test("selected meta keeps only selected segments with the slim projection") {
    val rows = ChannelMeta.buildSelected(segs).collect()
    assert(rows.length == 1)
    val videos = rows.head.getAs[Map[String, collection.Seq[org.apache.spark.sql.Row]]]("videos")
    assert(videos.keySet == Set("vidA", "vidB"))
    assert(videos("vidB").length == 1) // unselected one dropped
    assert(videos("vidB").head.getAs[Long]("start") == 32000L)
  }
}
