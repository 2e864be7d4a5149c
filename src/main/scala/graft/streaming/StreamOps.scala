package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface — the engine's answer to the
  * reference's "real-time model updates" future-work item
  * (reference README.md:180–185; SURVEY §2.9 notes parity needs no
  * streaming, so this is extension surface).
  *
  * Both ops run identically on a `readStream` source in production
  * and on a MemoryStream in tests. Watermarking bounds state so the
  * job survives unbounded input — the thing a naive batch-loop port
  * would get wrong at scale.
  */
object StreamOps {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionUpdate(user_id: Long, n_events: Int, closed: Boolean)

  final case class ClosedSession(user_id: Long, start_s: Long, end_s: Long,
      n_events: Int)

  final case class Doc(doc_id: Long, ts: Timestamp, text: String)

  final case class Vec(vec_id: Long, embedding: Seq[Float])

  /** Streaming exact dedup — the streaming twin of batch
    * q40_dedup_exact, for a continuous ingest feed: documents are
    * deduped on their normalized content digest, and
    * `dropDuplicatesWithinWatermark` bounds the digest state by event
    * time, so an unbounded feed can't grow state without bound (a plain
    * `dropDuplicates` on a stream retains every digest forever).
    */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("digest", md5(lower(trim(col("text")))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("digest")

  /** Streaming curation funnel — the stateless streaming twin of batch
    * q107_filter_funnel, sharing `TextOps.funnelVerdict` verbatim so
    * stream and backfill can never disagree on a document's fate. The
    * verdict is a pure per-row map (no watermark, no state): append
    * mode works, and a production sink would partition the output by
    * `verdict` so downstream training readers list only 'kept' files.
    * Input must carry `text` and `lang` columns.
    */
  def funnelStream(docs: DataFrame): DataFrame =
    docs.withColumn("verdict",
      graft.queries.TextOps.funnelVerdict(col("text"), col("lang")))

  /** Streaming Gopher gate — the stateless streaming twin of batch
    * q144_gopher_rules, sharing `TextOps.gopherMetrics`/`gopherPass`
    * verbatim (the funnelVerdict sharing rule) so a document's rule
    * verdict is identical on the live feed and in a batch backfill.
    * Emits the full metric battery plus the gate, not just the
    * boolean: a production sink keeps the metrics so threshold sweeps
    * can re-gate HISTORY without re-reading text. Pure per-row map —
    * append mode, no watermark, no state.
    * Input must carry `doc_id` and `text`.
    */
  def gopherGateStream(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id") +: graft.queries.TextOps.gopherMetrics(col("text")): _*)
      .withColumn("gopher_pass", graft.queries.TextOps.gopherPass)

  /** Train-batch / score-stream — the online curation gate: q138's
    * batch-trained student (a pure-transformer PipelineModel: tokenize
    * → hash → assemble → linear score, coefficients broadcast) scores
    * every arriving doc with a soft keep-probability plus a hard gate
    * at `threshold`. Featurization is `QualityClassifier.featurize`
    * VERBATIM, so a doc scores identically on the stream and in a
    * batch backfill (the funnelVerdict sharing rule); everything is a
    * stateless per-row map — append mode, no watermark, no state, and
    * at 100 TB/day the model refreshes by swapping the broadcast
    * coefficients between restarts (the enrichStream dimension rule).
    * Input must carry `doc_id`, `lang`, `text`.
    */
  def scoreStream(docs: DataFrame, model: org.apache.spark.ml.PipelineModel,
      threshold: Double = 0.5): DataFrame =
    model.transform(graft.reco.QualityClassifier.featurize(docs))
      .withColumn("p_keep", graft.reco.QualityClassifier.pKeep)
      .withColumn("gate",
        when(col("p_keep") >= threshold, "kept").otherwise("filtered"))
      .select(col("doc_id"), col("p_keep"), col("gate"))

  /** Stream-static enrichment join: a continuous event feed joined to
    * a slow-changing dimension with an explicit broadcast hint, so
    * every micro-batch probes an executor-local hash map instead of
    * shuffling the stream (a shuffled stream-static join would
    * re-exchange every batch). Left join: events with no dimension row
    * still flow through — an enrichment stage must never drop or delay
    * the stream. This is the streaming twin of the batch dim joins
    * (q10/q11/q25); at 100 TB/day the dimension refreshes by swapping
    * the static side between restarts or reading a Delta-style table.
    */
  def enrichStream(events: DataFrame, dim: DataFrame,
      key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Watermarked stream-stream inner join: pairs each left event with
    * the right-stream events of the SAME user that arrive within
    * `maxGap` after it (attribution: view → click). Both sides carry a
    * watermark and the join condition bounds event time in BOTH
    * directions, which is exactly what lets Spark evict buffered rows
    * once the watermark passes — an unbounded-condition stream-stream
    * join would buffer both streams forever. State is per-user and
    * per-gap-window only; the join shuffles both streams once on
    * user_id.
    */
  def joinStreams(views: DataFrame, clicks: DataFrame,
      watermark: String = "2 hours", maxGap: String = "1 hour"): DataFrame = {
    val v = views.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    v.join(c, col("user_id") === col("c_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"interval $maxGap"))
      .drop("c_user")
  }

  /** Idempotent micro-batch manifest sink — the production write path
    * for a streaming ingest: `foreachBatch` rolls each micro-batch up
    * to a per-source (docs, tokens) accounting table and appends it
    * under `batch_id=<id>`. Because the path carries the batchId,
    * a replayed batch (checkpoint recovery re-delivers the last
    * uncommitted batch with the SAME id) overwrites its own partition
    * instead of double-counting — the standard exactly-once recipe on
    * top of at-least-once delivery. The rollup shuffles (source) keys
    * only; nothing is collected to the driver.
    */
  def manifestSink(docs: DataFrame, outDir: String) =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          batch
            .select(col("source"), size(split(col("text"), " ")).as("n_toks"))
            .groupBy(col("source"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("n_toks")).cast("long").as("n_tokens"))
            .write.mode("overwrite")
            .parquet(s"$outDir/batch_id=$batchId")
        }
      }

  /** Streaming point-in-time enrichment against a STATIC SCD2
    * dimension (q168's build): each arriving event looks up the ONE
    * dimension version valid at its event time — the serving twin of
    * the batch training-time join, sharing EventOps.pointInTimeJoin
    * verbatim so online features can never drift from offline ones
    * (the funnelVerdict rule applied to feature stores). Stateless
    * stream-static broadcast join: no watermark, no state store; the
    * dimension refreshes by restarting the query on a new build.
    */
  def scd2EnrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    graft.queries.EventOps.pointInTimeJoin(
      events.withColumn("sec",
        floor(col("ts").cast("double")).cast("long")), dim)

  /** Streaming AS-OF enrichment through the NATIVE exec — the
    * round-10 closure of the q171 family's streaming gap: every
    * micro-batch resolves its rows against a PINNED SnapshotLog
    * version of the dimension with the same AsOfJoinExec the batch
    * path plans (per-side clustering, one O(n_l + n_r) merge), via
    * `asofEnrichBatch` verbatim — the funnelVerdict sharing rule, so
    * a row enriched on the stream can never disagree with a batch
    * backfill over the same dimension version. foreachBatch is the
    * right tier here: a stateful stream-stream as-of would need
    * watermark-bounded right-side buffering, but the dimension is a
    * slowly-changing TABLE (the SnapshotLog), so stream-static per
    * batch is both exact and stateless. Output lands under
    * `batch_id=<id>` — the manifestSink idempotent-replay recipe.
    * All three directions and the tolerance pass straight through.
    */
  def asofSnapshotStream(left: DataFrame, dimDir: String, dimVersion: Int,
      keys: Seq[String], leftTimeCol: String, rightTimeCol: String,
      outDir: String, rightTiebreakCols: Seq[String] = Nil,
      toleranceSec: Option[Long] = None,
      direction: String = org.apache.spark.sql.graft.AsOfJoinApi.Backward) =
    left.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          asofEnrichBatch(batch, dimDir, dimVersion, keys,
            leftTimeCol, rightTimeCol, rightTiebreakCols, toleranceSec,
            direction)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        }
      }

  /** The per-batch as-of body, factored so StreamingSpec can pin
    * stream ≡ batch through the REAL kernel: read the pinned
    * dimension version, run the native as-of join.
    */
  private[graft] def asofEnrichBatch(batch: DataFrame, dimDir: String,
      dimVersion: Int, keys: Seq[String], leftTimeCol: String,
      rightTimeCol: String, rightTiebreakCols: Seq[String],
      toleranceSec: Option[Long], direction: String): DataFrame = {
    val dim = graft.ext.SnapshotLog.readAsOf(
      batch.sparkSession, dimDir, dimVersion)
    org.apache.spark.sql.graft.AsOfJoinApi.asof(batch, dim, keys,
      leftTimeCol, rightTimeCol, rightTiebreakCols, toleranceSec, direction)
  }

  /** Streaming snapshot-log ingest — a stream landing in the
    * versioned table q173 time-travels over: each micro-batch commits
    * through `ext/SnapshotLog.append` as one immutable segment (zone
    * map over `statsCol`) with the batchId stamped into the manifest
    * line, so history accumulates one readable snapshot per batch and
    * ANY past version replays exactly. Idempotency differs from the
    * batchId-path sinks: an atomic manifest rename publishes each
    * commit, and a replayed batch whose batchId already appears in the
    * latest manifest is SKIPPED (checked against the log, not local
    * state — correct across restarts). Single-writer per log dir, the
    * SnapshotLog contract.
    */
  def snapshotSinkStream(rows: DataFrame, logDir: String,
      statsCol: String) =
    rows.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        snapshotCommitBatch(batch, logDir, statsCol, batchId)
      }

  /** The sink's per-batch body, factored so StreamingSpec can replay a
    * batchId through the REAL gate: append unless this batchId is
    * already in the latest manifest. Commits via `appendWithRetry`
    * (round-13): the retry re-checks BOTH the publish race and the
    * batch-id gate per attempt, so two recovering stream writers
    * racing the SAME replayed batch land it exactly once — the
    * single-writer contract relaxed to the real recovery topology
    * (SnapshotLogRetrySpec pins the raced-tag case; q200 audits the
    * sequential replay schedule end-to-end).
    */
  private[graft] def snapshotCommitBatch(batch: DataFrame, logDir: String,
      statsCol: String, batchId: Long): Unit = {
    val committed = graft.ext.SnapshotLog.committedBatches(logDir)
    if (!committed.contains(batchId) && !batch.isEmpty) {
      graft.ext.SnapshotLog.appendWithRetry(batch, logDir, col(statsCol),
        batchTag = Some(batchId))
      ()
    }
  }

  /** Streaming SOURCE over a SnapshotLog — the read-side twin of
    * `snapshotSinkStream`, closing the lakehouse loop: a checkpointed
    * micro-batch tail of the log (SnapshotSource) that plans each
    * trigger's version range into a write-ahead offsets file, reads
    * the range via `readCdc` (compaction/optimize rewrites are
    * dataChange = false and never re-deliver; DV deletes surface as
    * tagged delete rows; every row carries `_commit_version`), hands
    * it to `process(df, batchId)`, and commits the batch id — a crash
    * anywhere before the commit replays the SAME range under the SAME
    * id, so any batch-id-keyed idempotent sink body is exactly-once.
    * `cdc = false` delivers inserts only and REFUSES delete-bearing
    * ranges unless `ignoreDeletes` (Delta's source contract). Runs
    * until caught up (Trigger.AvailableNow shape); loop it for a
    * continuous tail. Returns the batch ids processed this run.
    */
  def snapshotSourceStream(spark: org.apache.spark.sql.SparkSession,
      logDir: String, checkpointDir: String, cdc: Boolean = true,
      ignoreDeletes: Boolean = false, maxBatches: Int = Int.MaxValue,
      maxVersionsPerTrigger: Int = Int.MaxValue)(
      process: (DataFrame, Long) => Unit): Seq[Long] =
    SnapshotSource.run(spark, logDir, checkpointDir, cdc, ignoreDeletes,
      maxBatches, maxVersionsPerTrigger)(process)

  /** Streaming ANN-index ingest — keeping a standing IVF-PQ index fresh
    * as new vectors arrive, the maintenance path of a production vector
    * store: each micro-batch pushes through `IvfPq.encode` against the
    * STANDING quantizers (no refit — the index holds centroids and
    * codebooks on the driver and the encode is one stateless compiled
    * map over the batch; re-train is a separate offline
    * index-generation decision) and
    * appends under `batch_id=<id>/cell=<c>` — the same
    * batchId-keyed-overwrite idempotency as `manifestSink`, composed
    * with the cell partitioning `IvfPq.save` uses, so a replayed batch
    * replaces itself and a probe over the ingest dir still prunes cell
    * directories at file listing. Input must carry (vec_id, embedding);
    * at 100 TB/day this is exactly the shape: no state store, no
    * shuffle, each executor encodes its partition against broadcast
    * codebooks and writes its cell files.
    */
  def indexIngestStream(index: graft.ext.IvfPq.Index, vectors: DataFrame,
      outDir: String) =
    vectors.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.ext.IvfPq.encode(index, batch)
            .write.mode("overwrite").partitionBy("cell")
            .parquet(s"$outDir/batch_id=$batchId")
        }
      }

  /** Streaming kNN-graph maintenance — q187's nightly-refresh posture
    * applied per micro-batch: each arriving batch of NEW vectors is
    * unioned into the standing corpus and ONLY the neighbor lists of
    * vectors sharing an LSH bucket with a batch vector recompute; the
    * refreshed (a_id, b_id, cos_r, rn) lists land under
    * `batch_id=<id>` for the same keyed-overwrite replay idempotency
    * as `indexIngestStream`. The per-batch body is the SAME kernel the
    * registered q187 runs (`VectorOps.incrementalKnnFrom` behind
    * `incrementalKnnIds` — the funnelVerdict sharing rule), so the
    * stream cannot drift from the batch semantics; StreamingSpec pins
    * stream ≡ batch. At 100 TB the standing corpus is bucket-
    * partitioned parquet and each refresh prunes to the batch's
    * buckets before any file opens.
    *
    * Contract (the indexIngestStream posture): `corpus` is PINNED for
    * the stream's lifetime — each batch refreshes against the standing
    * corpus plus ITSELF, not against earlier stream batches (those
    * land in the standing corpus at the next snapshot/compaction
    * cycle, exactly like the standing quantizers there). Batch ids
    * must be NEW: an id already in `corpus` would join as a duplicate
    * vector, so upserts need an id-dedup step upstream.
    */
  def knnRefreshStream(vectors: DataFrame, corpus: DataFrame,
      outDir: String) =
    vectors.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          knnRefreshBatch(batch, corpus)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        }
      }

  /** The per-batch refresh body, factored so StreamingSpec can pin
    * stream ≡ batch through the real kernel: union the batch into the
    * corpus, mark the batch ids as the increment (left-semi — no
    * driver-side id collection), recompute affected buckets only.
    * The bucketer derives from the post-ingest corpus size, identical
    * for every list this refresh emits.
    */
  private[graft] def knnRefreshBatch(batch: DataFrame,
      corpus: DataFrame): DataFrame = {
    val b = batch.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<float>").as("embedding"))
    val full = corpus.select(col("vec_id"), col("embedding")).unionByName(b)
    graft.queries.VectorOps.incrementalKnnIds(batch.sparkSession, full,
      b.select(col("vec_id")))
  }

  /** Streaming REAL-codec image decode — the stateless streaming twin
    * of q152's batch path, sharing `MediaOps.decodeImage` verbatim
    * (the funnelVerdict sharing rule): binary media arriving on a feed
    * decodes to typed pixel statistics + perceptual hash in-flight.
    * Typed mapPartitions is a pure per-row map here — append mode, no
    * watermark, no state store; each executor decodes its own batch
    * slice, so a scrape firehose scales by adding executors. Input
    * must carry `doc_id` and `content` (binary, any ImageIO format —
    * the decoder sniffs PNG/BMP/JPEG/GIF per row).
    */
  def decodeImageStream(media: DataFrame): DataFrame =
    graft.multimodal.MediaOps.decodeImagesReal(media).toDF()

  /** Streaming windowed audio features — the stateless streaming twin
    * of q161's batch path, sharing `MediaOps.decodeAudioWindows`
    * verbatim: WAV clips arriving on a feed parse once and fan out
    * into fixed-width frames with exact integer energies in-flight.
    * Append mode, no watermark, no state store.
    */
  def audioWindowStream(media: DataFrame, win: Int = 256): DataFrame =
    graft.multimodal.MediaOps.decodeAudioWindows(media, win).toDF()

  /** Event-time tumbling-window counts with a watermark: the
    * streaming twin of batch q32_tumbling_hour. Late data beyond the
    * watermark is dropped; state for closed windows is evicted.
    */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("value_sum"))
      .select(col("w.start").as("window_start"), col("cnt"), col("value_sum"))

  /** Custom stateful sessionization with mapGroupsWithState: counts
    * events per user-session with a 30-minute inactivity gap on
    * event time. The streaming twin of batch q33_sessionize.
    *
    * `timeout` defaults to NoTimeout (deterministic: sessions close
    * on the next event past the gap). Pass ProcessingTimeTimeout in
    * production to also evict idle users' state on wall-clock —
    * required for bounded state over an unbounded key space.
    */
  /** flatMapGroupsWithState twin of `sessionize`: emits one row per
    * CLOSED session (0..n rows per group per batch — the shape
    * mapGroupsWithState's exactly-one-row contract can't express).
    * State per user = (sessionStartMs, lastMs, count).
    */
  def sessionizeClosed(events: Dataset[Event],
      gapMs: Long = 30L * 60 * 1000): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Int), ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (userId, it, state: GroupState[(Long, Long, Int)]) =>
          val closed = scala.collection.mutable.ListBuffer[ClosedSession]()
          var cur = state.getOption
          it.toSeq.sortBy(_.ts.getTime).foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some((start, last, n)) if t - last > gapMs =>
                closed += ClosedSession(userId, start / 1000, last / 1000, n)
                cur = Some((t, t, 1))
              case Some((start, _, n)) => cur = Some((start, t, n + 1))
              case None => cur = Some((t, t, 1))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  def sessionize(events: Dataset[Event],
      gapMs: Long = 30L * 60 * 1000,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Int), SessionUpdate](timeout) {
        case (userId, it, state: GroupState[(Long, Int)]) =>
          if (state.hasTimedOut) {
            val (_, n) = state.get
            state.remove()
            SessionUpdate(userId, n, closed = true)
          } else {
            val evs = it.toSeq.sortBy(_.ts.getTime)
            var (lastTs, n) = state.getOption.getOrElse((Long.MinValue, 0))
            evs.foreach { e =>
              n = if (lastTs != Long.MinValue && e.ts.getTime - lastTs > gapMs) 1 else n + 1
              lastTs = e.ts.getTime
            }
            state.update((lastTs, n))
            if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
              state.setTimeoutDuration(gapMs)
            SessionUpdate(userId, n, closed = false)
          }
      }
  }
}
