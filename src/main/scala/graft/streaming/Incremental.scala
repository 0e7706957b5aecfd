package graft.streaming

import graft.io.{Publisher, Retry, Sinks}
import graft.plans.GramHash
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured-Streaming face of the reference's hand-rolled
  * incrementality (SURVEY §2.9): the every-30-videos checkpoint-publish
  * loop becomes foreachBatch with an idempotent publisher; the
  * hardcoded done-set becomes streaming dedup state; the per-channel
  * early-abort counters become flatMapGroupsWithState.
  */
object Incremental {

  /** Event-time tumbling rollup with watermark — works on a streaming
    * or batch DataFrame alike (same plan shape as q_t1_windowed_rollup).
    */
  def windowedRollup(
      events: DataFrame,
      eventTimeCol: String,
      watermarkDelay: String = "10 minutes",
      windowDur: String = "5 minutes"
  ): DataFrame =
    events
      .withWatermark(eventTimeCol, watermarkDelay)
      .groupBy(window(col(eventTimeCol), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

  /** T1/T3/K6 — incremental publish: every micro-batch goes through the
    * Publisher with bounded retry (hf.py:35-48's 10×60 s, parameterized);
    * exhausted retries raise so the batch is retried by the engine
    * rather than silently dropped.
    */
  def publishStream(
      stream: DataFrame,
      publisher: Publisher,
      branch: String,
      checkpointDir: String,
      tries: Int = 10,
      sleepMs: Long = 0L
  ): StreamingQuery =
    publishBatches(stream, publisher, branch, checkpointDir, tries, sleepMs)(identity)

  /** T2 — the ingested-id set as streaming state: exact dedup by key
    * with watermark-bounded state instead of a hardcoded 370-entry
    * Python set (data_pipeline.py:27-439).
    */
  def dedupByKey(stream: DataFrame, eventTimeCol: String, keyCols: Seq[String],
      watermarkDelay: String = "1 hour"): DataFrame =
    stream
      .withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** T1+K6+A5 composed: a stream of scored segment rows → selection
    * filter (F3) → per-micro-batch nested channel meta (A5) → retried,
    * idempotent publish. This is the reference's every-30-videos
    * write-meta-and-upload loop (data_pipeline.py:682-696) with the
    * batch boundary supplied by the engine instead of a counter.
    */
  def publishSelectedSegments(
      segments: DataFrame, // streaming, SegmentRow shape
      publisher: Publisher,
      branch: String,
      checkpointDir: String,
      tries: Int = 10,
      sleepMs: Long = 0L
  ): StreamingQuery =
    publishBatches(segments.filter(col("selected")), publisher, branch,
      checkpointDir, tries, sleepMs) { batch =>
      graft.meta.ChannelMeta.toJsonDocs(graft.meta.ChannelMeta.buildSelected(batch))
    }

  /** The one publish body: `docs(batch)` through the retried Publisher. */
  private def publishBatches(
      stream: DataFrame,
      publisher: Publisher,
      branch: String,
      checkpointDir: String,
      tries: Int,
      sleepMs: Long)(docs: DataFrame => DataFrame): StreamingQuery =
    eachBatch(stream, checkpointDir) { (batch, batchId) =>
      Retry.withRetry(tries, sleepMs)(publisher.publish(batchId, branch, docs(batch))) match {
        case Right(_) => ()
        case Left(err) =>
          throw new RuntimeException(s"publish failed after $tries tries: $err")
      }
    }

  /** The one micro-batch driver of every sink face: Append output, the
    * checkpoint at `checkpointDir`, an AvailableNow trigger, and `body`
    * per micro-batch; `release` frees stream-lifetime caches when the
    * query terminates ([[unpersistOnTermination]]).
    *
    * Replay guard: foreachBatch is at-least-once, so each finished
    * batch id is recorded in the checkpoint's `_last_batch` record (tag
    * = `checkpointDir`), and a batch at or below it skips `body`. It
    * still runs into the no-op sink: the engine requires every stateful
    * operator to commit each batch. A crash between `body` and the
    * record replays the batch into the sink, which absorbs it on its
    * own terms (Overwrite slot, shard manifest, idempotent Publisher) —
    * all but the bucketed append of [[refreshStream]]. A torn record
    * reads as absent (fails open); idle drains write nothing.
    */
  private def eachBatch(
      df: DataFrame,
      checkpointDir: String,
      release: Option[() => Unit] = None)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val query = df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val root = new org.apache.hadoop.fs.Path(checkpointDir)
        val fs = root.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
        if (Sinks.applied(fs, root, checkpointDir, batchId))
          batch.write.format("noop").mode("overwrite").save()
        else {
          body(batch, batchId)
          Sinks.recordBatch(fs, root, batchId, checkpointDir)
        }
      }
      .start()
    release.fold(query)(r => unpersistOnTermination(df.sparkSession, query)(r()))
  }

  /** Streaming face of the text-curation funnel: the per-row stages
    * (language/quality/token gates, PII redaction, chunking) are
    * stateless Column transforms that run identically on a stream or a
    * batch; exact dedup becomes watermark-bounded state keyed by the
    * content digest. Near-dup clustering and sequence packing are
    * corpus-global and stay batch (run them on the accumulated sink —
    * the standard lambda split for curation at scale).
    */
  def curationStream(
      docs: DataFrame, // streaming; (idCol, textCol, eventTimeCol)
      idCol: String,
      textCol: String,
      eventTimeCol: String,
      cfg: graft.text.CurationPipeline.Config = graft.text.CurationPipeline.Config(),
      watermarkDelay: String = "1 hour"
  ): DataFrame = {
    import graft.text.TextAnalysis
    TextAnalysis
      .withGateSignals(docs, textCol)
      .filter(graft.text.CurationPipeline.gatePredicate(col(textCol), cfg))
      .withColumn("content_key", md5(col(textCol)))
      .withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("content_key")
      .withColumn("clean_text", TextAnalysis.redactPii(col(textCol)))
  }

  /** T2 + curation + layout composed as a STREAM — the batch corpus
    * refresh (q_corpus_refresh_e2e) in its actual operating mode
    * (reference analog: the resumable main loop,
    * data_pipeline.py:682-696): each micro-batch of crawled docs
    * passes the Bloom-prefiltered resume anti-join against the STATIC
    * ingested history (rows the broadcast filter rejects are
    * definitely novel and skip the stream-static anti-join entirely),
    * then the stateless curation gates + watermark-keyed exact
    * content dedup (state spans micro-batches), and the survivors
    * land as APPENDS to the bucketed refresh corpus — appendBucketed
    * keeps the layout, so read-back key joins/aggs stay exchange-free
    * after every batch. Near-dup clustering and packing are
    * corpus-global and stay batch over the accumulated table (the
    * lambda split, see [[curationStream]]).
    */
  def refreshStream(
      docs: DataFrame, // streaming; (idCol, textCol, eventTimeCol)
      history: DataFrame, // static ingested-id relation
      idCol: String,
      textCol: String,
      eventTimeCol: String,
      tableName: String,
      checkpointDir: String,
      cfg: graft.text.CurationPipeline.Config = graft.text.CurationPipeline.Config(),
      watermarkDelay: String = "1 hour",
      buckets: Int = 8
  ): StreamingQuery = {
    val owner = docs.sparkSession
    // size the Bloom front door to the ACTUAL history cardinality (one
    // count at query start, not per batch) so the advertised ~1% fpp
    // holds at 10^9-key histories instead of silently degrading —
    // undersizing is still CORRECT (the exact anti-join kills false
    // positives), just slower
    val novel = graft.dedup.Dedup.bloomAntiJoin(docs, history, idCol,
      expectedItems = math.max(1000000L, history.count()))
    val curated = curationStream(novel, idCol, textCol, eventTimeCol, cfg, watermarkDelay)
      .select(col(idCol), col("lang_pred"), col("clean_text"))
    eachBatch(curated, checkpointDir) { (batch, _) =>
      if (batch.sparkSession.catalog.tableExists(tableName))
        graft.layout.Layout.appendBucketed(batch, tableName)
      else
        graft.layout.Layout.writeBucketed(batch, tableName, idCol, buckets)
      // foreachBatch executes in a CLONED session whose insertInto
      // auto-refresh touches only the clone's relation cache — the
      // OWNING session (which started the query and will read the
      // table) would otherwise keep a stale file listing for any
      // table it had already scanned before this append (bit us as
      // "restart appended nothing": the append was on disk, the
      // reader's cached listing predated it)
      owner.catalog.refreshTable(tableName)
    }
  }

  /** Streaming face of the training-shard sink: every micro-batch of
    * curated docs lands in the token-balanced shard layout via
    * [[graft.io.Sinks.appendTrainingShards]], packing against the
    * global token offset already on disk — shard numbering continues
    * across micro-batches (a boundary-spanning shard fills up instead
    * of restarting), so the refresh story ends at training shards,
    * not just a bucketed append. Under in-order delivery the final
    * table is identical to one batch `writeTrainingShards` over the
    * accumulated corpus (StreamBatchParitySpec proves it).
    *
    * The batchId also goes to the sink's own `_last_batch` manifest,
    * which closes the driver's crash window for this sink.
    */
  def shardStream(
      docs: DataFrame, // streaming; (idCol, textCol)
      idCol: String,
      textCol: String,
      path: String,
      checkpointDir: String,
      tokensPerShard: Long): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      // checkpointDir as the manifest tag: batchIds restart at 0 under
      // a fresh checkpoint, which a stale manifest must not swallow
      Sinks.appendTrainingShards(batch, idCol, textCol, path, tokensPerShard,
        batchId = batchId, batchTag = checkpointDir)
      ()
    }

  /** Streaming NEAR-DUP front door — the stage the lambda split
    * deferred to batch, as bounded LSH bucket state: each arriving
    * document's MinHash signature routes it to its `bands` bucket
    * groups, the group state holds the prior members' (id,
    * hashed-shingle set), and the newcomer EXACT-verifies against them
    * (the same sorted-array merge-intersect the batch path uses),
    * emitting (a, b, jaccard) for every true near-dup pair it closes.
    * With an unhit bucket cap the emitted pair set EQUALS batch
    * `Dedup.minHashLshPairs` over the rows seen so far, regardless of
    * how the stream is micro-batched (StreamBatchParitySpec proves
    * it); a pair sharing several bands emits once per agreeing band —
    * dedup downstream by (a, b).
    *
    * Scale: state is per-bucket lists of shingle-hash arrays, bounded
    * on BOTH axes. `maxPerBucket` bounds each bucket's membership
    * (beyond the cap new members still verify against the stored ones
    * but are not added — at a production threshold a full bucket is a
    * boilerplate cluster whose membership is already decided).
    * `stateTtlMs` bounds the bucket COUNT: an event-time timeout
    * (with `eventTimeCol` + watermark) clears any bucket that goes
    * `stateTtlMs` of EVENT time without an arrival, so cold buckets
    * age out instead of accumulating forever — the state footprint is
    * what arrived within the TTL horizon, not the stream's lifetime
    * key cardinality. Event-time (not processing-time) timeout is
    * deliberate twice over: aging is then reprocessing-safe (a replay
    * of the same stream ages the same buckets at the same points, so
    * the emitted pair set is deterministic), and the engine only
    * schedules extra micro-batches when the watermark actually moves
    * (ProcessingTimeTimeout forces `shouldRunAnotherBatch` == always,
    * i.e. a busy-loop of empty batches between arrivals). Within the
    * horizon the pair set still equals the batch path's
    * (StreamBatchParitySpec proves both faces); a pair whose members
    * arrive farther apart than the TTL is the accepted trade — the
    * corpus-global batch sweep (the lambda split, see
    * [[curationStream]]) closes those. 0 disables the timeout. Ids
    * ride as strings; pair order (a < b) is string comparison.
    */
  def nearDupStream(
      docs: DataFrame, // streaming; (idCol, textCol[, eventTimeCol])
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.8,
      maxPerBucket: Int = 1024,
      stateTtlMs: Long = 0L,
      eventTimeCol: String = "",
      watermarkDelay: String = "0 seconds"
  ): Dataset[(String, String, Double)] = {
    require(stateTtlMs == 0L || eventTimeCol.nonEmpty,
      "stateTtlMs needs an eventTimeCol to define the aging clock")
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.dedup.Dedup
    val withWm =
      if (stateTtlMs > 0L) docs.withWatermark(eventTimeCol, watermarkDelay)
      else docs
    // carry the watermarked TIMESTAMP attribute itself into the
    // stateful operator — EventTimeTimeout's analysis check requires
    // the watermark metadata to survive to the operator's child, and
    // a unix-millis projection would strip it
    val evCol =
      if (stateTtlMs > 0L) col(eventTimeCol)
      else lit(null).cast("timestamp")
    val base = withWm
      .select(col(idCol).cast("string").as("id"),
        GramHash.shingle_hashes(col(textCol), n).as("xs"),
        evCol.as("ev"))
      .filter(size(col("xs")) > 0)
      .withColumn("sig", Dedup.minHashSig(bands * rowsPerBand)(col("xs")))
      .select(col("id"), col("xs"), col("ev"),
        explode(array(Dedup.bandKeyStructs(bands, rowsPerBand): _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.h").as("h"),
        col("id"), col("xs"), col("ev"))
      .as[(Int, Long, String, Array[Long], java.sql.Timestamp)]
    val timeoutConf =
      if (stateTtlMs > 0L) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    base
      .groupByKey { case (band, h, _, _, _) => (band, h) }
      .flatMapGroupsWithState(
        OutputMode.Append, timeoutConf)(
        (_: (Int, Long),
         rows: Iterator[(Int, Long, String, Array[Long], java.sql.Timestamp)],
         state: GroupState[Seq[(String, Array[Long])]]) => {
          if (state.hasTimedOut) {
            // cold bucket: no arrival within the TTL — drop its state
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(Seq.empty)
            val out = scala.collection.mutable.ListBuffer[(String, String, Double)]()
            var maxEv = Long.MinValue
            // in-batch arrivals sorted by id: cap-dropping is then
            // deterministic for a given micro-batching
            rows.toSeq.sortBy(_._3).foreach { case (_, _, id, xs, ev) =>
              if (ev != null && ev.getTime > maxEv) maxEv = ev.getTime
              st.foreach { case (pid, pxs) =>
                if (pid != id) {
                  val c = Dedup.interCount(xs, pxs)
                  val j = c.toDouble / (xs.length + pxs.length - c).toDouble
                  if (j >= minJaccard) {
                    val (a, b) = if (id < pid) (id, pid) else (pid, id)
                    out += ((a, b, j))
                  }
                }
              }
              if (st.size < maxPerBucket) st = st :+ ((id, xs))
            }
            state.update(st)
            // every arrival renews the bucket's lease: expire TTL past
            // the newest member, but never at-or-below the current
            // watermark (late rows inside the allowed lateness could
            // otherwise set an already-expired timestamp, which the
            // engine rejects)
            if (stateTtlMs > 0L)
              state.setTimeoutTimestamp(
                math.max(maxEv + stateTtlMs, state.getCurrentWatermarkMs() + 1L))
            out.iterator
          }
        })
      .toDF("a", "b", "jaccard")
      .as[(String, String, Double)]
  }

  /** Streaming CONTAINMENT front door — each micro-batch of crawled
    * docs is containment-checked against the STATIC standing corpus
    * ([[graft.dedup.Dedup.containmentPairsAgainst]]: index = history's
    * full postings, probe = the batch's prefixes), the refresh-time
    * form of the quotation/boilerplate-wrap question ("is this crawl
    * doc a ≥t quote of a page we already have?"). Because every pair
    * couples a batch doc with a STATIC history doc, micro-batching
    * cannot change the pair set: the union of per-batch outputs equals
    * the one-shot batch join over the accumulated new docs, under ANY
    * batching (StreamBatchParitySpec proves it, including a
    * kill+resume from the checkpoint). Each batch's pairs land in its
    * Overwrite slot ([[slotStream]]).
    */
  def containmentStream(
      docs: DataFrame, // streaming; (idCol, textCol)
      history: DataFrame, // static standing corpus
      idCol: String,
      textCol: String,
      outPath: String,
      checkpointDir: String,
      n: Int = 3,
      minContainment: Double = 0.8,
      maxDf: Long = 1000L): StreamingQuery =
    containmentSlots(docs, history, idCol, textCol, outPath,
      checkpointDir, n, minContainment, maxDf)((_, pairs) => pairs)

  /** The DROP action of [[containmentStream]] — what a real ingest
    * wants from the containment front door: each micro-batch's output
    * is the batch's SURVIVING docs (those NOT ≥ t contained in any
    * standing-corpus doc; [[graft.dedup.Dedup.containmentDedupAgainst]]
    * semantics — the curated standing copy always wins, no size
    * tie-break), not the pair list. Survival of a doc depends only on
    * (doc, STATIC history), so the union of per-batch survivors equals
    * the one-shot batch filter over the accumulated input under ANY
    * batching — StreamBatchParitySpec proves it, including kill+resume.
    * Survivors land in the batch's Overwrite slot ([[slotStream]]).
    */
  def containmentFilterStream(
      docs: DataFrame, // streaming; (idCol, textCol, ...) — rows pass through
      history: DataFrame, // static standing corpus
      idCol: String,
      textCol: String,
      outPath: String,
      checkpointDir: String,
      n: Int = 3,
      minContainment: Double = 0.8,
      maxDf: Long = 1000L): StreamingQuery =
    containmentSlots(docs, history, idCol, textCol, outPath,
      checkpointDir, n, minContainment, maxDf) { (batch, pairs) =>
      // containmentDedupAgainst's anti-join, over the held pair frame
      batch.join(pairs.select(col("new_id").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
    }

  /** The containment slots: the history index (shingle pass, posting
    * explode, hot set — a pure function of (history, n, maxDf)) is
    * built and cached once per stream; each batch's pair frame against
    * it feeds `emit` and is released after the batch's write.
    */
  private def containmentSlots(
      docs: DataFrame,
      history: DataFrame,
      idCol: String,
      textCol: String,
      outPath: String,
      checkpointDir: String,
      n: Int,
      minContainment: Double,
      maxDf: Long)(emit: (DataFrame, DataFrame) => DataFrame): StreamingQuery = {
    val hist = graft.dedup.Dedup.prepareContainmentHistory(
      history, idCol, textCol, n, maxDf)
    slotStream(docs, outPath, checkpointDir, () => hist.unpersist()) { batch =>
      val pairs = graft.dedup.Dedup.containmentPairsAgainstPrepared(
        batch, textCol, minContainment, hist)
      (emit(batch, pairs), Seq(pairs))
    }
  }

  /** The one slot body: each batch's rows from `emit` are written with
    * Overwrite to `outPath/batch=<id>` (read the result as one
    * partitioned relation at `outPath`; a replay rewrites the same
    * rows), then the per-batch caches `emit` returned are released.
    */
  private def slotStream(
      docs: DataFrame,
      outPath: String,
      checkpointDir: String,
      releaseIndex: () => Unit)(
      emit: DataFrame => (DataFrame, Seq[DataFrame])): StreamingQuery =
    eachBatch(docs, checkpointDir, Some(releaseIndex)) { (batch, batchId) =>
      val (rows, held) = emit(batch)
      rows.write.mode(SaveMode.Overwrite).parquet(s"$outPath/batch=$batchId")
      held.foreach(_.unpersist())
    }

  /** Release stream-lifetime caches when `query` terminates. Two
    * complementary paths, both draining one idempotent release guard:
    * a self-removing listener (covers callers that poll `isActive` or
    * abandon the handle — the listener bus is async, so this path
    * lands shortly after termination), and a delegating wrapper whose
    * `awaitTermination`/`stop` release SYNCHRONOUSLY on return — the
    * drain-then-assert pattern (RepeatGuardSpec) and any
    * `awaitTermination(); <reuse session>` caller must observe the
    * cache gone, not racing the bus.
    */
  private def unpersistOnTermination(
      spark: SparkSession,
      query: StreamingQuery)(release: => Unit): StreamingQuery = {
    // monitor, not CAS: when the listener thread wins the race but is
    // still MID-release, the synchronous caller must WAIT for the
    // release to finish before returning (a first-wins CAS would no-op
    // the sync path exactly while the async one is in flight — the
    // drain-then-assert caller would still observe the cache)
    val lock = new Object
    var released = false
    def releaseOnce(): Unit = lock.synchronized {
      if (!released) { released = true; release }
    }
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == query.id) {
          releaseOnce()
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    new StreamingQuery {
      override def name: String = query.name
      override def id: java.util.UUID = query.id
      override def runId: java.util.UUID = query.runId
      override def sparkSession: org.apache.spark.sql.SparkSession =
        query.sparkSession
      override def isActive: Boolean = query.isActive
      override def exception
          : Option[org.apache.spark.sql.streaming.StreamingQueryException] =
        query.exception
      override def status: org.apache.spark.sql.streaming.StreamingQueryStatus =
        query.status
      override def recentProgress
          : Array[org.apache.spark.sql.streaming.StreamingQueryProgress] =
        query.recentProgress
      override def lastProgress
          : org.apache.spark.sql.streaming.StreamingQueryProgress =
        query.lastProgress
      override def awaitTermination(): Unit = {
        try query.awaitTermination()
        finally releaseOnce()
      }
      override def awaitTermination(timeoutMs: Long): Boolean = {
        val terminated = query.awaitTermination(timeoutMs)
        if (terminated) releaseOnce()
        terminated
      }
      override def processAllAvailable(): Unit = query.processAllAvailable()
      override def stop(): Unit = {
        try query.stop()
        finally releaseOnce()
      }
      override def explain(): Unit = query.explain()
      override def explain(extended: Boolean): Unit = query.explain(extended)
      // A distinct object from spark.streams.get(id)/active, equal only
      // to itself: compare handles by `.id`. NOTE the synchronous
      // release guarantee holds only through THIS handle's
      // awaitTermination/stop — draining via
      // StreamingQueryManager.awaitAnyTermination or the manager's
      // handle still releases, but through the async listener path.
    }
  }

  /** Streaming ExactSubstr span scrub — the ingest-time face of
    * [[graft.dedup.Dedup.removeDuplicateSpansAgainst]]: each
    * micro-batch's docs are rewritten with every window already present
    * in the STATIC standing corpus removed (history always wins). The
    * stream runs the history-only posture (`batchInternal = false`):
    * each doc's scrub is a pure function of (doc, history), so the
    * union of per-batch outputs equals the one-shot history-only scrub
    * of the accumulated input under ANY batching — batch-internal
    * ranking would make a doc's output depend on which batch its
    * duplicate landed in (StreamBatchParitySpec proves the parity,
    * kill+resume, and replay idempotence). Same slot as the
    * containment faces ([[slotStream]]).
    */
  def spanScrubStream(
      docs: DataFrame, // streaming; (idCol, textCol)
      history: DataFrame, // static standing corpus
      idCol: String,
      textCol: String,
      outPath: String,
      checkpointDir: String,
      windowTokens: Int = 50): StreamingQuery = {
    // the standing corpus's distinct window digests, cached once per stream
    val histIdx = graft.dedup.Dedup
      .historySpanIndex(history, idCol, textCol, windowTokens)
      .cache()
    slotStream(docs, outPath, checkpointDir, () => histIdx.unpersist(): Unit) { batch =>
      (graft.dedup.Dedup.removeDuplicateSpansAgainstIndex(batch, histIdx, idCol,
        textCol, windowTokens, batchInternal = false), Nil)
    }
  }

  /** Streaming face of the native bottom-k sampler
    * ([[graft.plans.BottomKIds]]): per-group k-element state of the
    * lowest (salted-md5, id) pairs, folded across micro-batches and
    * emitting each updated group's CURRENT sample (Update mode). The
    * selection key is a pure function of (salt, id), so after any
    * prefix of the stream the state equals the batch aggregate over
    * the rows seen so far (StreamBatchParitySpec proves it across a
    * real micro-batch split) — and because the state dedups by id,
    * at-least-once replays cannot perturb the sample, which the batch
    * aggregate does not guarantee under input duplication.
    */
  def streamingBottomK(
      rows: DataFrame,
      groupCol: String,
      idCol: String,
      salt: String,
      k: Int): Dataset[GroupSample] = {
    import rows.sparkSession.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    rows
      .select(col(groupCol).cast("string").as("g"),
        col(idCol).cast("string").as("id"))
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[(String, String)],
            state: GroupState[BottomKState]) =>
          val heap = scala.collection.mutable.SortedSet.empty[(String, String)]
          state.getOption.foreach(s => heap ++= s.pairs)
          val seen = scala.collection.mutable.Set.empty[String]
          heap.foreach(p => seen += p._2)
          it.foreach { case (_, id) =>
            if (!seen.contains(id)) {
              val h = org.apache.commons.codec.digest.DigestUtils
                .md5Hex(salt + ":" + id)
              heap += ((h, id)); seen += id
              if (heap.size > k) {
                val worst = heap.last
                heap -= worst; seen -= worst._2
              }
            }
          }
          state.update(BottomKState(heap.toList))
          Iterator.single(GroupSample(g, heap.toSeq.map(_._2)))
      }
  }

  /** T4 — per-channel early-abort counters as explicit streaming state:
    * counts premiere/offline statuses per channel; once the budget is
    * exceeded the channel emits an abort record and drops every later
    * video. Batch formulation is Pipeline.run's flatMapGroups; this is
    * the unbounded-stream formulation.
    */
  final case class VideoStatus(channel_id: String, video_id: String, status: String)
  final case class AbortState(premieres: Int, aborted: Boolean)
  final case class Decision(channel_id: String, video_id: String, keep: Boolean, reason: String)
  final case class BottomKState(pairs: List[(String, String)])
  final case class GroupSample(group: String, sample_ids: Seq[String])

  def earlyAbort(
      videos: Dataset[VideoStatus],
      maxPremieres: Int = 3
  ): Dataset[Decision] = {
    import videos.sparkSession.implicits._
    videos
      .groupByKey(_.channel_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (cid: String, it: Iterator[VideoStatus], state: GroupState[AbortState]) =>
          var st = state.getOption.getOrElse(AbortState(0, aborted = false))
          val out = it.map { v =>
            if (st.aborted) Decision(cid, v.video_id, keep = false, "CHANNEL_ABORTED")
            else if (v.status == "PREMIERE_VIDEO" || v.status == "OFFLINE_VIDEO") {
              st = st.copy(premieres = st.premieres + 1)
              if (st.premieres > maxPremieres) {
                st = st.copy(aborted = true)
                Decision(cid, v.video_id, keep = false, "TOO_MANY_PREMIERES")
              } else Decision(cid, v.video_id, keep = false, v.status)
            } else Decision(cid, v.video_id, keep = true, "OK")
          }.toVector
          state.update(st)
          out.iterator
      }
  }
}
