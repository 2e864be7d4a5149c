package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{SnapshotLog, SnapshotTxn}

/** Streaming SOURCE over a SnapshotLog — the missing half of the
  * lakehouse loop (the engine had nine sinks/transforms and zero log
  * sources; every streaming consumer polled batch CDC by hand). This
  * is the `spark.readStream.format("delta")` posture re-expressed in
  * the engine's foreachBatch-first architecture: a checkpointed
  * micro-batch tail whose recovery contract is EXACTLY Spark's
  * MicroBatchExecution write-ahead log —
  *
  *  1. PLAN: the next batch's version range (lastSeenV, head] is made
  *     DURABLE in the checkpoint (`offsets/<batchId>`) BEFORE any row
  *     is processed. Offsets publish with the same exclusive
  *     hard-link discipline as manifest commits, so two tails racing
  *     one checkpoint fail loudly instead of splitting a batch id.
  *  2. PROCESS: the batch frame is handed to the caller's sink body.
  *     Rows come from `readCdc(fromV, toV)` — per-version manifest
  *     walks, so compaction/optimize rewrites (`dataChange = false`)
  *     never re-deliver, deletion-vector deletes surface as tagged
  *     delete rows, and every row carries `_commit_version` (and, in
  *     cdc mode, `_change_type`). The first batch of a fresh
  *     checkpoint is the INITIAL SNAPSHOT (fromV = -1): the table's
  *     net state as inserts, Delta's starting semantics.
  *  3. COMMIT: only after the sink body returns does
  *     `commits/<batchId>` land. A crash between 1 and 3 leaves a
  *     planned-but-uncommitted batch; the next run REPLAYS the same
  *     version range under the SAME batch id, so a batch-id-keyed
  *     idempotent sink (`manifestSink` / `snapshotCommitBatch` — every
  *     sink in StreamOps) makes the pipeline exactly-once on top of
  *     this source's at-least-once delivery.
  *
  * Delivery modes (Delta's source options):
  *  - `cdc = true`: the full change feed — inserts, deletes AND typed
  *    update pre/post images, each tagged `_change_type` +
  *    `_commit_version`. The mode a downstream keyed sink applies
  *    idempotently.
  *  - `cdc = false`: insert-only (`_commit_version` still tagged).
  *    Versions are CLASSIFIED by the op that produced them (`#optype`,
  *    round 16): a PURE-DELETE version refuses loudly unless
  *    `ignoreDeletes = true` (Delta's ignoreDeletes — accept that
  *    deleted rows silently stay downstream); an UPDATE/MERGE version
  *    refuses unless `ignoreChanges = true` (Delta's ignoreChanges —
  *    new images deliver as inserts, the replaced old images silently
  *    drop, so the consumer must dedupe by key; ignoreChanges
  *    subsumes ignoreDeletes, Delta's rule). Legacy manifests without
  *    an optype classify by cdcDel alone — their pre-round-16
  *    behavior, under the ignoreDeletes flag.
  *
  * Scale: one trigger costs O(window) driver-side manifest reads plus
  * pruned parquet scans of exactly the delta/#cdcdel segments — never
  * standing history, never a table diff. The checkpoint is two tiny
  * files per batch. At 100 TB the tail's cost is the change volume,
  * which is the definition of an incremental consumer.
  */
object SnapshotSource {

  final case class PlannedBatch(batchId: Long, fromV: Int, toV: Int)

  private def offsetsDir(ck: String): Path = Paths.get(ck, "offsets")
  private def commitsDir(ck: String): Path = Paths.get(ck, "commits")

  private def listed[A](p: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(p)
    try f(s.iterator().asScala) finally s.close()
  }

  private def maxId(dir: Path): Long =
    if (!Files.isDirectory(dir)) -1L
    else listed(dir)(_.map(_.getFileName.toString)
      .filter(_.forall(_.isDigit))
      .map(_.toLong).foldLeft(-1L)(math.max))

  /** Publish a checkpoint file atomically AND exclusively (the
    * SnapshotLog manifest discipline): a fully-written temp hard-links
    * into place; a second tail racing the same batch id fails loudly.
    */
  private def publishFile(dir: Path, name: String, content: String): Unit = {
    Files.createDirectories(dir)
    val target = dir.resolve(name)
    SnapshotLog.publishExclusive(target, content,
      s"checkpoint entry $target was written by another tail — one " +
        "reader per checkpoint dir (Spark's own streaming contract)")
  }

  /** The last PLANNED batch (offsets WAL), committed or not. */
  def lastPlanned(ckDir: String): Option[PlannedBatch] = {
    val id = maxId(offsetsDir(ckDir))
    if (id < 0) None
    else {
      val Array(fromV, toV) = Files.readAllLines(
        offsetsDir(ckDir).resolve(id.toString), StandardCharsets.UTF_8)
        .asScala.head.split('\t')
      Some(PlannedBatch(id, fromV.toInt, toV.toInt))
    }
  }

  /** The last batch whose sink body COMPLETED, or -1. */
  def lastCommitted(ckDir: String): Long = maxId(commitsDir(ckDir))

  /** Plan the next micro-batch: a planned-but-uncommitted batch
    * replays VERBATIM (same id, same version range — recovery);
    * otherwise the new range (lastToV, min(head, lastToV +
    * maxVersionsPerTrigger)], or None when caught up. The rate limit
    * (Delta's maxFilesPerTrigger posture, by versions) keeps a
    * backfill tail's batches bounded — a consumer pointed at a long
    * history drains it in capped chunks instead of one table-sized
    * batch; the replay path ignores the limit, since a planned range
    * is already durable and must re-deliver verbatim. The offsets
    * entry is durable before this returns — the WAL step.
    */
  def planNext(logDir: String, ckDir: String,
      maxVersionsPerTrigger: Int = Int.MaxValue): Option[PlannedBatch] = {
    require(maxVersionsPerTrigger >= 1,
      s"maxVersionsPerTrigger must be >= 1, got $maxVersionsPerTrigger")
    val planned = lastPlanned(ckDir)
    planned match {
      case Some(b) if b.batchId > lastCommitted(ckDir) => Some(b)
      case _ =>
        val lastToV = planned.map(_.toV).getOrElse(-1)
        val head = SnapshotLog.version(logDir)
        if (head <= lastToV) None
        else {
          val toV =
            if (head - lastToV > maxVersionsPerTrigger)
              lastToV + maxVersionsPerTrigger
            else head
          val b = PlannedBatch(planned.map(_.batchId + 1).getOrElse(0L),
            lastToV, toV)
          publishFile(offsetsDir(ckDir), b.batchId.toString,
            s"${b.fromV}\t${b.toV}")
          Some(b)
        }
    }
  }

  /** The rows of a planned batch. cdc mode = the full change feed;
    * insert-only mode classifies each version by its op and refuses
    * pure deletes without `ignoreDeletes` and updates/merges without
    * `ignoreChanges` (see object doc). Both modes tag
    * `_commit_version`.
    */
  def batchFrame(spark: SparkSession, logDir: String, b: PlannedBatch,
      cdc: Boolean, ignoreDeletes: Boolean,
      ignoreChanges: Boolean = false): DataFrame = {
    val feed = SnapshotLog.readCdc(spark, logDir, b.fromV, b.toV)
    if (cdc) feed
    else {
      // the INITIAL snapshot (fromV = -1) is net state — rows deleted
      // before toV are already absent, so there is nothing to drift
      // from (Delta's starting-snapshot semantics) and no manifest
      // below the retention horizon is ever opened
      if (b.fromV >= 0) {
        val metas = ((b.fromV + 1) to b.toV)
          .map(v => v -> SnapshotLog.meta(logDir, v))
        def isChange(m: SnapshotLog.ManifestMeta): Boolean =
          m.opType.exists(o => o == "merge" || o == "update") &&
            (m.cdcDel.nonEmpty || m.cdcPre.nonEmpty)
        // ignoreChanges subsumes ignoreDeletes (Delta's rule)
        if (!ignoreChanges) {
          val changed = metas.collect { case (v, m) if isChange(m) => v }
          require(changed.isEmpty,
            s"versions ${changed.mkString(",")} of $logDir contain " +
              "updates/merges — an insert-only tail would deliver their " +
              "new images while silently dropping the replaced old ones; " +
              "use cdc = true, or ignoreChanges = true to accept that " +
              "drift explicitly (Delta's ignoreChanges contract)")
        }
        if (!ignoreDeletes && !ignoreChanges) {
          val deleted = metas.collect {
            case (v, m) if m.cdcDel.nonEmpty && !isChange(m) => v
          }
          require(deleted.isEmpty,
            s"versions ${deleted.mkString(",")} of $logDir contain " +
              "row-level deletes — an insert-only tail would silently " +
              "drift from the table; use cdc = true, or ignoreDeletes = " +
              "true to accept the drift explicitly (Delta's ignoreDeletes " +
              "contract)")
        }
      }
      // update NEW images deliver as inserts (only reachable under
      // ignoreChanges or when no gate fired — i.e. never silently)
      feed.filter(col("_change_type").isin("insert", "update_postimage"))
        .drop("_change_type")
    }
  }

  /** Mark a batch's sink body complete — after this the batch never
    * replays.
    */
  def commitBatch(ckDir: String, batchId: Long): Unit =
    publishFile(commitsDir(ckDir), batchId.toString, "")

  /** ONE trigger: plan → read → process → commit. Returns the batch id
    * processed, None when caught up. A `process` that throws leaves
    * the batch planned-but-uncommitted — the next trigger replays it.
    */
  def trigger(spark: SparkSession, logDir: String, ckDir: String,
      cdc: Boolean = true, ignoreDeletes: Boolean = false,
      maxVersionsPerTrigger: Int = Int.MaxValue,
      ignoreChanges: Boolean = false)(
      process: (DataFrame, Long) => Unit): Option[Long] =
    planNext(logDir, ckDir, maxVersionsPerTrigger).map { b =>
      process(batchFrame(spark, logDir, b, cdc, ignoreDeletes,
        ignoreChanges), b.batchId)
      commitBatch(ckDir, b.batchId)
      b.batchId
    }

  /** Run triggers until the tail catches up with the log head (or
    * `maxBatches`). Availability-triggered execution — the
    * `Trigger.AvailableNow` shape; a production deployment loops this
    * on a schedule or a log-watch. Returns the batch ids processed
    * this run (replays included — their ids repeat across runs, never
    * within one).
    */
  def run(spark: SparkSession, logDir: String, ckDir: String,
      cdc: Boolean = true, ignoreDeletes: Boolean = false,
      maxBatches: Int = Int.MaxValue,
      maxVersionsPerTrigger: Int = Int.MaxValue,
      ignoreChanges: Boolean = false)(
      process: (DataFrame, Long) => Unit): Seq[Long] = {
    val done = scala.collection.mutable.ArrayBuffer.empty[Long]
    var more = true
    while (more && done.size < maxBatches)
      trigger(spark, logDir, ckDir, cdc, ignoreDeletes,
        maxVersionsPerTrigger, ignoreChanges)(process) match {
        case Some(id) => done += id
        case None => more = false
      }
    done.toSeq
  }

  /** == Incremental materialized-view maintenance (round-15
    * extension — the Delta Live Tables / IVM posture) ==
    * `viewOf` defines a keyed AGGREGATE view over the source table
    * (one output row per `viewKey` value; the input frame already
    * carries `viewKey`, derived from `keyExpr`). Each refresh tails
    * the source log's change feed and recomputes ONLY the groups the
    * delta touched: affected keys = the distinct `keyExpr` values in
    * the batch (inserts AND deletes both name their group), the
    * recompute reads the batch's PINNED toV snapshot scoped to those
    * keys (a left-semi prune — at 100 TB, group-partitioned source
    * segments prune before any file opens), and the refreshed rows
    * MERGE-on-read into the view log while groups whose every source
    * row vanished are deleted from it. Refresh cost ∝ the CHANGE
    * volume plus the affected groups' source rows — never the table,
    * never the view.
    *
    * Exactly-once composition: the recompute reads the WAL-pinned toV
    * (not the live head), so a crash-replay recomputes byte-identical
    * group images and the view upsert is idempotent BY VALUE — a
    * replayed merge replaces rows with themselves, a replayed
    * vanish-delete matches nothing. The view's CDC feed stays honest:
    * downstream consumers see delete(old image) + insert(new image)
    * per refreshed group.
    */
  def maintainView(spark: SparkSession, srcLogDir: String, ckDir: String,
      viewDir: String, viewKey: String,
      keyExpr: org.apache.spark.sql.Column, statsCol: org.apache.spark.sql.Column,
      maxBatches: Int = Int.MaxValue)(
      viewOf: DataFrame => DataFrame): Seq[Long] = {
    val done = scala.collection.mutable.ArrayBuffer.empty[Long]
    var more = true
    while (more && done.size < maxBatches) {
      planNext(srcLogDir, ckDir) match {
        case None => more = false
        case Some(b) =>
          val delta = batchFrame(spark, srcLogDir, b, cdc = true,
            ignoreDeletes = false)
          // group keys must be NON-NULL: a null key never matches the
          // equi semi-join below or the vanish predicate, so a null
          // group would silently diverge from a from-scratch recompute
          // — refuse loudly instead (wrap keyExpr in coalesce(...) to
          // give the null group an explicit key)
          require(delta.filter(keyExpr.isNull).limit(1).isEmpty,
            "maintainView group keys must be non-null — wrap keyExpr " +
              "in coalesce(...) to give the null group an explicit key")
          // == Churn suppression (round-16 item 6 — DLT's change-aware
          // refresh) == a group is affected only when the batch CHANGES
          // its source multiset: per (key, full row values), inserts +
          // update postimages count +1, deletes + update preimages
          // count -1; a key whose every row-value group nets to zero
          // (an UPDATE SET x = x, a delete+re-insert of identical
          // rows, a replayed no-op merge) left the group's content
          // bit-identical, so ANY aggregate of it is unchanged and the
          // refresh skips it. Exact, not heuristic: grouping is on the
          // actual column values, never a hash. Map columns cannot
          // group directly (unorderable), but a TOP-LEVEL map whose
          // key/value types are themselves orderable has an exact
          // canonical form — `array_sort(map_entries(c))`: map keys
          // are unique, so the key-sorted entry array is a bijection
          // of the map value and equal maps (any entry order)
          // canonicalize identically (round-17 item 6). Only columns
          // whose maps resist that rewrite (a map NESTED inside an
          // array/struct, or a map-valued map — recursion the
          // round-16 top-level-only test missed, flagged by round-17
          // advice) force the every-key-affected fallback, which is
          // the pre-round-16 behavior and always safe.
          val dataCols = delta.columns
            .filterNot(c => c == "_change_type" || c == "_commit_version")
          def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean =
            dt match {
              case _: org.apache.spark.sql.types.MapType => true
              case a: org.apache.spark.sql.types.ArrayType =>
                hasMap(a.elementType)
              case s: org.apache.spark.sql.types.StructType =>
                s.fields.exists(f => hasMap(f.dataType))
              case _ => false
            }
          val fieldsByName = delta.schema.fields.map(f => f.name -> f).toMap
          // per-column canonical group expression, or None when the
          // column's type defeats exact canonicalization
          val groupExprs: Seq[Option[org.apache.spark.sql.Column]] =
            dataCols.toSeq.map { c =>
              fieldsByName(c).dataType match {
                case m: org.apache.spark.sql.types.MapType
                    if !hasMap(m.keyType) && !hasMap(m.valueType) =>
                  Some(array_sort(map_entries(col(c))).as(c))
                case dt if hasMap(dt) => None
                case _ => Some(col(c))
              }
            }
          // persisted like `refreshed` below: the affected-key set is
          // read by the scoped semi-join, the vanish anti-join AND the
          // vanish delete's key probes — un-cached, each re-paid the
          // CDC segment read + the churn-suppression aggregate (§5)
          val aff = (
            if (groupExprs.exists(_.isEmpty))
              delta.select(keyExpr.as(viewKey)).distinct()
            else delta
              .groupBy(keyExpr.as(viewKey) +: groupExprs.flatten: _*)
              .agg(sum(when(col("_change_type")
                .isin("insert", "update_postimage"), 1L)
                .otherwise(-1L)).as("__net"))
              .filter(col("__net") =!= 0L)
              .select(col(viewKey)).distinct()
          ).persist()
          val scoped = SnapshotLog.readAsOf(spark, srcLogDir, b.toV)
            .withColumn(viewKey, keyExpr)
            .join(aff, Seq(viewKey), "left_semi")
          // ONE evaluation of the refresh aggregate: isEmpty, the merge
          // src and the vanish anti-join below all read this cache —
          // without it each pays the CDC read + pruned snapshot scan +
          // aggregate again
          val refreshed = viewOf(scoped).persist()
          try {
            val hasRows = !refreshed.isEmpty
            if (SnapshotLog.version(viewDir) < 0) {
              if (hasRows) SnapshotLog.append(refreshed, viewDir, statsCol)
            } else if (hasRows) {
              SnapshotLog.mergeMor(spark, refreshed, viewDir, viewKey,
                statsCol)
            }
            // groups the delta touched that no longer exist in the
            // source: delete their view rows. The key set stays a
            // distributed frame — deleteMorKeys semi-joins it away
            // (round-16; the old isInCollection path collected it)
            val vanished = aff
              .join(refreshed.select(col(viewKey)), Seq(viewKey),
                "left_anti")
            if (SnapshotLog.version(viewDir) >= 0 && !vanished.isEmpty)
              SnapshotLog.deleteMorKeys(spark, viewDir, vanished, viewKey)
          } finally {
            refreshed.unpersist(false)
            aff.unpersist(false)
          }
          commitBatch(ckDir, b.batchId)
          done += b.batchId
      }
    }
    done.toSeq
  }

  /** == Keyed CDC APPLY (round-16 continuation — DLT's APPLY CHANGES
    * INTO) ==
    * `mirror` is insert-only by construction; replicating a table that
    * takes row-level deletes, merges and updates needs the keyed apply
    * the readCdc scaladoc contracts: per key, order change rows by
    * `_commit_version` and the LAST change wins — within one version,
    * the new image (insert / update_postimage) beats the removed one
    * (delete / update_preimage), which is exactly the delete-before-
    * insert encoding merges and restores emit. `applyCdcBatch` lands
    * ONE batch: winners that are new images MERGE-on-read into the
    * destination (src-unique by the resolution itself), keys whose
    * last change is a removal DELETE-on-read. Replay is idempotent BY
    * VALUE — a replayed merge replaces rows with themselves and a
    * replayed delete matches nothing — so composing with the WAL tail
    * gives a replica that is exactly-once in CONTENT across crashes
    * (replays may add content-identical versions to the replica log,
    * the same contract maintainView documents).
    *
    * The deleted-key list is batch-delete-sized driver data (the
    * maintainView vanished-key class); at 100 TB apply cost per
    * trigger is change volume + matched destination rows — never
    * either table. Keys must be unique per version on the source (the
    * keyed-table contract every merge already demands).
    */
  def applyCdcBatch(spark: SparkSession, changes: DataFrame,
      dstLogDir: String, key: String,
      statsCol: org.apache.spark.sql.Column): Unit =
    applyCdcBatchKeys(spark, changes, dstLogDir, Seq(key), statsCol)

  /** Composite-key apply — natural multi-column keys resolve the
    * same way (last `_commit_version` wins per key TUPLE).
    */
  /** Last-change-wins resolution of one CDC batch per key tuple:
    * (new images to upsert, key tuples to delete). Shared by the
    * two-commit apply and the transactional apply.
    */
  private def resolveCdcWinners(changes: DataFrame,
      keys: Seq[String]): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_commit_version").desc, col("__up").desc)
    // persisted: the resolved winners are consumed 3-6 times per batch
    // (the isEmpty gates, the merge's src write, the delete's key
    // probes — and the txn variant's two bookmark counts), and every
    // re-evaluation re-paid the CDC segment scans + DV anti-joins +
    // this window (guide §5: cache what is reused AND expensive).
    // Returned as the third element so the CALLER unpersists after its
    // commits publish — batch-sized, bounded lifetime.
    val last = changes
      .withColumn("__up", col("_change_type")
        .isin("insert", "update_postimage").cast("int"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .persist()
    val upserts = last.filter(col("__up") === 1)
      .drop("_change_type", "_commit_version", "__up", "__rn")
    // removal keys stay a DISTRIBUTED frame end-to-end: deleteMorKeys
    // semi-joins them away (and key-range-prunes its discovery), so a
    // delete-heavy batch never drags its key list through the driver
    val dels = last.filter(col("__up") === 0).select(keys.map(col): _*)
    (upserts, dels, last)
  }

  def applyCdcBatchKeys(spark: SparkSession, changes: DataFrame,
      dstLogDir: String, keys: Seq[String],
      statsCol: org.apache.spark.sql.Column): Unit = {
    val (upserts, dels, resolved) = resolveCdcWinners(changes, keys)
    try {
      val hasDst = SnapshotLog.version(dstLogDir) >= 0
      if (!hasDst) {
        if (!upserts.isEmpty)
          SnapshotLog.append(upserts, dstLogDir, statsCol)
      } else if (!upserts.isEmpty) {
        SnapshotLog.mergeMorKeys(spark, upserts, dstLogDir, keys, statsCol)
      }
      if (SnapshotLog.version(dstLogDir) >= 0 && !dels.isEmpty)
        SnapshotLog.deleteMorKeysMulti(spark, dstLogDir, dels, keys)
    } finally resolved.unpersist(false)
  }

  /** == Transactional keyed CDC APPLY (round-17 continuation) ==
    * `applyCdcBatchKeys` is exactly-once in CONTENT (replay is
    * idempotent by value), but a consumer tracking WHICH batches
    * landed keeps that bookkeeping beside the data — the classic
    * offsets-and-data dual write, where a crash between the two
    * leaves "applied?" ambiguous and replay adds content-identical
    * versions. This variant lands the RESOLVED batch as ONE
    * merge-on-read commit (`SnapshotLog.stageApplyMorKeys` — the
    * merge + delete pair folded into one version) and a BOOKMARK row
    * (batch_id, n_upserts, n_deletes) on a separate log, under ONE
    * multi-table intent: both-or-neither, healed by any reader. With
    * the bookmark as the gate, replay after EVERY crash window is
    * version-exact, not just content-exact — pre-intent crash:
    * neither landed, the replay applies; post-intent crash: the
    * bookmark read's own `version()` heals both logs, the replay
    * sees the batch recorded and SKIPS. Returns true when this call
    * applied the batch, false when the bookmark showed it already
    * had. At 100 TB the added cost over the plain apply is one
    * metadata-sized bookmark append + the intent publishes.
    */
  def applyCdcBatchTxnKeys(spark: SparkSession, changes: DataFrame,
      dstLogDir: String, bookmarkDir: String, batchId: Long,
      keys: Seq[String],
      statsCol: org.apache.spark.sql.Column): Boolean = {
    if (isApplied(spark, bookmarkDir, batchId)) return false
    val (upserts, dels, resolved) = resolveCdcWinners(changes, keys)
    try {
      val hasDst = SnapshotLog.version(dstLogDir) >= 0
      val dataStage: Option[SnapshotLog.StagedCommit] =
        if (!hasDst) {
          if (upserts.isEmpty) None
          else Some(SnapshotLog.stageAppend(upserts, dstLogDir, statsCol))
        } else {
          SnapshotLog.stageApplyMorKeys(spark, upserts, dels, dstLogDir,
            keys, statsCol)
        }
      import spark.implicits._
      val bm = Seq((batchId, upserts.count(), dels.count()))
        .toDF("batch_id", "n_upserts", "n_deletes")
      val bmStage = SnapshotLog.stageAppend(bm, bookmarkDir, col("batch_id"))
      SnapshotTxn.commitTogether(dataStage.toSeq :+ bmStage)
      true
    } finally resolved.unpersist(false)
  }

  /** Single-key convenience. */
  def applyCdcBatchTxn(spark: SparkSession, changes: DataFrame,
      dstLogDir: String, bookmarkDir: String, batchId: Long, key: String,
      statsCol: org.apache.spark.sql.Column): Boolean =
    applyCdcBatchTxnKeys(spark, changes, dstLogDir, bookmarkDir, batchId,
      Seq(key), statsCol)

  /** Whether the bookmark log records `batchId` as applied. The
    * `version()` read heals any committed-but-unpublished apply
    * transaction first — so this gate is exactly what makes replay
    * after a post-intent crash a SKIP, not a duplicate version.
    */
  def isApplied(spark: SparkSession, bookmarkDir: String,
      batchId: Long): Boolean = {
    val v = SnapshotLog.version(bookmarkDir)
    v >= 0 && !SnapshotLog.readAsOf(spark, bookmarkDir, v)
      .filter(col("batch_id") === batchId).isEmpty
  }

  /** Continuous TRANSACTIONAL replication: the WAL tail composed with
    * the transactional apply — each planned batch's id doubles as its
    * bookmark id, so the two recovery layers interlock: a crash
    * between the sink body and the checkpoint's commit marker makes
    * the WAL REPLAY the batch, and the bookmark gate turns that
    * replay into a version-exact SKIP instead of a content-identical
    * duplicate version (the residual the plain `applyChangesKeys`
    * documents). Returns the batch ids processed this run.
    */
  def applyChangesTxnKeys(spark: SparkSession, srcLogDir: String,
      ckDir: String, dstLogDir: String, bookmarkDir: String,
      keys: Seq[String], statsCol: org.apache.spark.sql.Column,
      maxBatches: Int = Int.MaxValue,
      maxVersionsPerTrigger: Int = Int.MaxValue): Seq[Long] =
    run(spark, srcLogDir, ckDir, cdc = true, maxBatches = maxBatches,
      maxVersionsPerTrigger = maxVersionsPerTrigger) { (df, batchId) =>
      applyCdcBatchTxnKeys(spark, df, dstLogDir, bookmarkDir, batchId,
        keys, statsCol)
      ()
    }

  /** Continuous keyed replication: tail `srcLogDir`'s full change feed
    * and apply each batch into `dstLogDir` — the replica converges to
    * the source's head state through appends, CoW/MoR deletes, merges,
    * first-class updates and restores (every one of readCdc's
    * encodings resolves under last-change-wins). Returns the batch ids
    * processed this run.
    */
  def applyChanges(spark: SparkSession, srcLogDir: String, ckDir: String,
      dstLogDir: String, key: String,
      statsCol: org.apache.spark.sql.Column,
      maxBatches: Int = Int.MaxValue): Seq[Long] =
    applyChangesKeys(spark, srcLogDir, ckDir, dstLogDir, Seq(key),
      statsCol, maxBatches)

  /** Composite-key continuous replication. */
  def applyChangesKeys(spark: SparkSession, srcLogDir: String,
      ckDir: String, dstLogDir: String, keys: Seq[String],
      statsCol: org.apache.spark.sql.Column,
      maxBatches: Int = Int.MaxValue): Seq[Long] =
    run(spark, srcLogDir, ckDir, cdc = true, maxBatches = maxBatches) {
      (df, _) => applyCdcBatchKeys(spark, df, dstLogDir, keys, statsCol)
    }

  /** Log-to-log MIRROR: tail `srcLogDir` and land every batch in
    * `dstLogDir` via the idempotent snapshot sink (`appendWithRetry`
    * under the batch-id gate). Source WAL replay composes with the
    * sink's manifest-checked batch gate, so the pipeline is
    * exactly-once end-to-end even when BOTH sides crash: a replayed
    * batch re-reads the same version range and the sink skips the id
    * it already committed. Insert-only by construction (a mirror of a
    * table with row-level deletes needs a keyed MERGE sink, not an
    * append log) — refuses delete-bearing ranges like every
    * insert-only tail.
    */
  def mirror(spark: SparkSession, srcLogDir: String, ckDir: String,
      dstLogDir: String, statsCol: String,
      maxBatches: Int = Int.MaxValue): Seq[Long] =
    run(spark, srcLogDir, ckDir, cdc = false, ignoreDeletes = false,
      maxBatches = maxBatches) { (df, bid) =>
      StreamOps.snapshotCommitBatch(df.drop("_commit_version"),
        dstLogDir, statsCol, bid)
    }
}
