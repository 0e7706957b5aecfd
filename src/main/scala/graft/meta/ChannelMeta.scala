package graft.meta

import graft.functions.Scalars
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A5/K4 — nested channel-meta assembly (data_pipeline.py:661-676):
  * scored segments → per-video ordered list → per-channel
  * map<video_id, array<segment>>, plus the "selected" projection
  * {idx, url, start, end}. Two keyed aggregations, both partitioned by
  * channel — matching the pipeline's natural partitioning so the second
  * groupBy reuses the first shuffle's layout.
  */
object ChannelMeta {

  /** Zero-padded segment index (audio_vad.py:60) and embed url
    * (data_pipeline.py:660), the head of both segment structs.
    */
  private def idxUrl: Seq[Column] = Seq(
    format_string("%08d", col("seg_idx")).as("idx"),
    Scalars.embedUrl(col("video_id"), col("vad.start"), col("vad.end")).as("url"))

  /** The nesting both metas share: per video, the `seg` structs ordered
    * by `seg_idx`; per channel, a `videos` map<video_id, array<seg>>
    * ordered by video_id. `perVideo` and `perChannel` are each face's
    * rollups beside them.
    */
  private def nest(
      segments: DataFrame,
      seg: Column,
      perVideo: Seq[Column],
      perChannel: Seq[Column]): DataFrame =
    segments
      .groupBy("channel_id", "video_id")
      .agg(sort_array(collect_list(struct(col("seg_idx"), seg.as("seg")))).as("ordered"),
        perVideo: _*)
      .withColumn("segs", transform(col("ordered"), _.getField("seg")))
      .groupBy("channel_id")
      .agg(
        map_from_entries(
          sort_array(collect_list(struct(col("video_id"), col("segs"))))
        ).as("videos"),
        perChannel: _*)

  /** channels ⨝-free meta build over every segment: returns one row per
    * channel_id with `videos: map<video_id, array<struct>>` and
    * duration rollups (A3, with the reference's end−start sign bug
    * fixed — SURVEY §2.6 A3).
    */
  def build(segments: DataFrame): DataFrame =
    nest(segments,
      struct(idxUrl ++ Seq(col("selected"), col("vad"), col("snr"), col("speech_score")): _*),
      Seq(sum(col("vad.end") - col("vad.start")).as("video_samples")),
      Seq(Scalars.samplesToHours(sum(col("video_samples"))).as("total_duration_h"),
        count(lit(1)).as("n_videos_with_segments")))

  /** The selected-variant projection (data_pipeline.py:671-676):
    * {idx, url, start, end} only.
    */
  def buildSelected(segments: DataFrame): DataFrame =
    nest(segments.filter(col("selected")),
      struct(idxUrl ++ Seq(col("vad.start").as("start"), col("vad.end").as("end")): _*),
      Nil, Nil)

  /** Meta as one JSON document per channel (K4). */
  def toJsonDocs(meta: DataFrame): DataFrame =
    meta.select(
      col("channel_id"),
      to_json(struct(meta.columns.filter(_ != "channel_id").map(col): _*)).as("meta_json")
    )
}
