package graft.io

import graft.functions.Scalars
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sink-side operators (SURVEY §2.2). Everything the reference logs or
  * side-effects becomes data: errors are a DLQ branch, skips are a
  * reason column, uploads are an idempotent Publisher.
  */
object Sinks {

  /** K1 — headered CSV write of a projected table. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** K2 — JSONL append sink. */
  def appendJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("append").json(path)

  /** ORC columnar sink (extension) — the Hive-ecosystem interchange
    * format beside the parquet default; same overwrite contract as
    * [[writeCsv]].
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** K3 — dead-letter split: rows with a non-null error column go to
    * the DLQ (error text flattened to one line, filter_channel.py:62),
    * clean rows continue. Errors are data, not control flow.
    */
  def dlqSplit(df: DataFrame, errorCol: String = "error"): (DataFrame, DataFrame) = {
    val ok = df.filter(col(errorCol).isNull).drop(errorCol)
    val bad = df
      .filter(col(errorCol).isNotNull)
      .withColumn(errorCol, Scalars.flattenError(col(errorCol)))
    (ok, bad)
  }

  /** K7 — skip-log: `channel_id|reason` lines (data_pipeline.py:545-548). */
  def writeSkipLog(df: DataFrame, idCol: String, reasonCol: String, path: String): Unit =
    df.filter(col(reasonCol).isNotNull)
      .select(concat_ws("|", col(idCol), col(reasonCol)).as("value"))
      .write.mode("overwrite").text(path)

  /** K4 — nested channel-meta JSON document write (one JSON text per
    * channel row; pretty-printing is a display concern, not a data one).
    */
  def writeMetaJson(df: DataFrame, path: String): Unit =
    df.select(to_json(struct(df.columns.map(col): _*)).as("value"))
      .write.mode("overwrite").text(path)

  /** K5 — WAV segment sink: parquet with the encoded payload and
    * metadata columns; filenames become a column, selection is a
    * filter before the sink (audio_vad.py:59-62 + deletion at
    * data_pipeline.py:680 collapse into `filter(selected)`).
    */
  def writeSegments(segments: DataFrame, path: String): Unit = {
    val enc = udf { (samples: Seq[Double], sr: Int) =>
      graft.signal.Signal.wavEncode(samples.toArray, sr)
    }
    segments
      .filter(col("selected"))
      .withColumn(
        "file_name",
        concat(col("video_id"), lit("_"), format_string("%08d", col("seg_idx")), lit(".wav"))
      )
      .withColumn("wav", enc(col("samples"), lit(16000)))
      .drop("samples")
      .write.mode("overwrite").parquet(path)
  }

  /** Training-shard writer — the last mile of the curation pipeline:
    * materialize the corpus as token-balanced shards. Shard assignment
    * rides the SAME running sum as sequence packing
    * ([[graft.text.TextAnalysis.packSequences]] with seqLen =
    * tokensPerShard): a document lands in the shard its global start
    * offset falls into, so documents stay whole, shard boundaries are
    * deterministic in id order, and shard token sums exceed the target
    * only by partial-document overlap (bounded by the max doc size).
    * The write is `partitionBy(shard)` parquet with `start_off` kept
    * as a column so readers can restore the global training order
    * within a shard.
    *
    * File-count posture (guide §6): a bare partitionBy write emits one
    * file per (task, shard) pair — T tasks × S shards small files once
    * the corpus grows (every write task holds rows of many shards).
    * From [[clusterMinShards]] shards on, the write is first
    * CLUSTERED by shard (`repartition(col("shard"))`) so each shard
    * lands as one ~tokensPerShard-sized file regardless of task
    * layout; below it the direct path stands (AQE coalescing already
    * yields one file per shard at small scale, and the extra exchange
    * would only cost). The shard count is the length of the per-shard
    * summary, which is collected from the cached packing before the
    * write — no extra pass. The packing cache is released before
    * returning.
    *
    * Returns the per-shard summary (shard, n_docs, n_tokens,
    * min_start, max_end) as a local relation — integer-exact and
    * oracle-checkable against the prefix-sum replay.
    */
  def writeTrainingShards(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      tokensPerShard: Long): DataFrame =
    writeShards(df, idCol, textCol, path, tokensPerShard, base = 0L, "overwrite")

  /** Incremental face of [[writeTrainingShards]] — one micro-batch (or
    * ingest increment) APPENDED to an existing sharded corpus: the
    * batch packs against the global token offset already on disk
    * (max end_off — a metadata-sized aggregate over two long columns),
    * so shard numbering continues exactly where the corpus left off
    * and a shard spanning the batch boundary fills up instead of
    * restarting. With increments delivered in id order the resulting
    * table is IDENTICAL to one batch [[writeTrainingShards]] over the
    * whole corpus (StreamBatchParitySpec proves it across a real
    * micro-batch split); out-of-order delivery still yields a valid
    * contiguous packing, just a different document order than the
    * batch sort. Returns the batch's per-shard summary.
    *
    * The existing-corpus probe and all manifest IO go through the
    * Hadoop FileSystem API (not java.io.File), so the corpus can live
    * on hdfs:// or s3a:// — a local-only probe would misread a remote
    * corpus as absent, reset base to 0, and overlap the offset range.
    *
    * `batchId` (>= 0) makes replays idempotent: foreachBatch is
    * at-least-once, and a blind re-append after a crash between the
    * parquet commit and the checkpoint commit would land the same
    * docs at NEW offsets (the replay re-reads an already-advanced
    * max end_off), silently corrupting the packing. With a batchId
    * the sink records the last applied (tag, id) in a `_last_batch`
    * manifest written after the append, and a replayed batch (same
    * tag, batchId <= recorded) is a no-op — the same
    * idempotent-publisher pattern publishStream uses. `batchTag`
    * namespaces the ids per streaming run lineage (shardStream passes
    * its checkpointDir): batchIds restart at 0 under a FRESH
    * checkpoint, and without the tag the stale manifest would
    * silently swallow the new run's first batches. The unclosed
    * window is one crash BETWEEN the parquet append and the manifest
    * write; exactly-once there needs a transactional table format,
    * which plain parquet is not. batchId = -1 (the default) keeps the
    * unconditional batch-append behavior for non-streaming callers.
    */
  def appendTrainingShards(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      tokensPerShard: Long,
      batchId: Long = -1L,
      batchTag: String = ""): DataFrame = {
    val spark = df.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (batchId >= 0L && applied(fs, root, batchTag, batchId)) {
      // replayed micro-batch: already on disk, emit an empty summary
      val schema = org.apache.spark.sql.types.StructType(
        Seq("shard", "n_docs", "n_tokens", "min_start", "max_end").map(
          org.apache.spark.sql.types.StructField(
            _, org.apache.spark.sql.types.LongType)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    val existing = fs.exists(root) &&
      fs.listStatus(root).exists(_.getPath.getName.startsWith("shard="))
    val base: Long =
      if (existing)
        spark.read.parquet(path).agg(max(col("end_off"))).first().getLong(0)
      else 0L
    val summary = writeShards(df, idCol, textCol, path, tokensPerShard, base, "append")
    if (batchId >= 0L) recordBatch(fs, root, batchId, batchTag)
    summary
  }

  /** Shard count from which a shard write is clustered by shard (see
    * [[writeTrainingShards]]).
    */
  private val clusterMinShards = 16

  /** The body of both shard writers: pack `df` from global offset
    * `base`, write it `partitionBy(shard)` in `mode`, and return the
    * per-shard summary as a local relation.
    */
  private def writeShards(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      tokensPerShard: Long,
      base: Long,
      mode: String): DataFrame = {
    val packed = graft.text.TextAnalysis
      .packSequences(df.select(col(idCol), col(textCol)), idCol, textCol,
        seqLen = tokensPerShard)
      .withColumn("start_off", col("start_off") + base)
      .withColumn("end_off", col("end_off") + base)
      .withColumn("shard", expr(s"start_off div $tokensPerShard"))
      .cache()
    val summary = packed
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        min(col("start_off")).as("min_start"),
        max(col("end_off")).as("max_end"))
    val rows = summary.collect()
    val joined = df.join(
      packed.select(col(idCol), col("shard"), col("start_off"), col("end_off")),
      Seq(idCol))
    (if (rows.length >= clusterMinShards) joined.repartition(col("shard"))
     else joined)
      .write.mode(mode).partitionBy("shard").parquet(path)
    packed.unpersist()
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), summary.schema)
  }

  /** Whether `_last_batch` at `root` records `batchTag` at or past
    * `batchId` — the shard sink's and the streaming driver's replay rule.
    */
  private[graft] def applied(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      batchTag: String,
      batchId: Long): Boolean =
    lastAppliedBatch(fs, root).exists {
      case (tag, id) => tag == batchTag && batchId <= id
    }

  /** Last (batchTag, batchId) applied at `root`, or None if the
    * `_last_batch` manifest is absent (cold start / pre-manifest
    * corpus) OR unreadable/malformed — a truncated or torn manifest
    * (non-atomic object-store rename, partial create) must degrade to
    * the documented at-least-once re-append window, not permanently
    * crash every subsequent micro-batch. Manifest format: tag line,
    * then id line.
    */
  private[graft] def lastAppliedBatch(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[(String, Long)] = {
    val m = new org.apache.hadoop.fs.Path(root, "_last_batch")
    if (!fs.exists(m)) None
    else
      scala.util.Try {
        val len = fs.getFileStatus(m).getLen.toInt
        val buf = new Array[Byte](len)
        val in = fs.open(m)
        try in.readFully(0, buf)
        finally in.close()
        val lines =
          new String(buf, java.nio.charset.StandardCharsets.UTF_8).split("\n", 2)
        (lines(0), lines(1).trim.toLong)
      }.toOption
  }

  /** Durably record (batchTag, batchId) as applied: write to a temp
    * name, then rename over `_last_batch` with OVERWRITE semantics —
    * a single atomic metadata op on HDFS/local (no delete-then-rename
    * gap in which a crash or concurrent reader sees no manifest at
    * all). Caveat: object stores (s3a) implement rename as
    * copy+delete, so no manifest scheme is atomic there — a torn read
    * degrades to the at-least-once re-append window via
    * [[lastAppliedBatch]]'s fail-open parse.
    */
  private[graft] def recordBatch(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      batchId: Long,
      batchTag: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(root, s"._last_batch.$batchId.tmp")
    val out = fs.create(tmp, true)
    try out.write(
      s"$batchTag\n$batchId".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new org.apache.hadoop.fs.Path(root, "_last_batch")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
    fc.rename(
      fs.makeQualified(tmp), fs.makeQualified(dst),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }
}

/** K6 — dataset publisher (HuggingFace upload in the reference,
  * hf.py:35-48). Idempotent per (branch, batchId) so a re-run of a
  * micro-batch can't double-publish; retry/backoff belongs to the
  * implementation, failures surface as Left for the DLQ.
  */
trait Publisher extends Serializable {
  def publish(batchId: Long, branch: String, files: DataFrame): Either[String, Long]
}

/** Local publisher: writes each batch under dir/branch/batch_<id> and
  * records a commit marker, skipping batches already committed —
  * mirrors the reference's resume-on-rerun behavior (T2) without a
  * network.
  */
final class LocalPublisher(rootDir: String, failEvery: Int = 0) extends Publisher {
  def publish(batchId: Long, branch: String, files: DataFrame): Either[String, Long] = {
    val dir = new java.io.File(s"$rootDir/$branch/batch_$batchId")
    val marker = new java.io.File(dir, "_COMMITTED")
    if (marker.exists()) return Right(0L) // idempotent replay
    if (failEvery > 0 && batchId % failEvery == failEvery - 1)
      return Left(s"simulated publish failure for batch $batchId")
    val n = files.count()
    files.write.mode("overwrite").parquet(dir.getPath)
    marker.createNewFile()
    Right(n)
  }
}

/** T3 — bounded retry with backoff (hf.py:7-24: 10 tries × 60 s for
  * uploads; test code passes 0 sleep).
  */
object Retry {
  def withRetry[A](tries: Int, sleepMs: Long)(f: => Either[String, A]): Either[String, A] = {
    var last: Either[String, A] = Left("no attempt")
    var i = 0
    while (i < tries) {
      last = f
      if (last.isRight) return last
      i += 1
      if (i < tries && sleepMs > 0) Thread.sleep(sleepMs)
    }
    last
  }
}
