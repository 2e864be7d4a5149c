package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.app.{MovieQueries, RatingsConverter}
import graft.reco.Recommender

/** Library facade: one object binding a session + data dir to the
  * whole engine surface, so a user of the reference app can switch
  * with a handful of calls. Every method returns a lazy DataFrame —
  * nothing executes until the caller acts.
  */
final class GraftEngine(val spark: SparkSession, val dataDir: String) {
  CosineRegistration.ensure(spark)
  // One-time, at engine construction (documented; Bench/Verify/Plans set
  // it at session build) — never per-table-load, which would be a racy
  // global side effect buried in a loader.
  spark.conf.set(Tables.requiredConf._1, Tables.requiredConf._2)
  // Pin the session timezone: the events loader's TimestampNTZ branch
  // (Tables.load) casts wall-clock values through the SESSION zone, so
  // an externally-built session in a non-UTC zone would read TZ-shifted
  // instants vs the epoch-based legacy encoding and the DuckDB oracle.
  // Bench/Verify pin UTC at session build; the facade is the one entry
  // point whose session the engine doesn't construct, so pin it here.
  spark.conf.set("spark.sql.session.timeZone", "UTC")
  // Deep-iteration ALS (Recommender.referenceConfig) requires a
  // checkpoint dir for lineage truncation; respect one already set.
  if (spark.sparkContext.getCheckpointDir.isEmpty) {
    // Spark never deletes checkpoint files on its own; since this dir is
    // ours (not caller-provided), remove it when the JVM exits so repeated
    // engine constructions don't accumulate rank-200 factor checkpoints.
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt")
    sys.addShutdownHook {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try Files.walk(ckpt).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      catch { case _: Exception => () }
    }
    spark.sparkContext.setCheckpointDir(ckpt.toString)
  }

  /** Any registered query by name (see Registry / ARCHITECTURE.md). */
  def query(name: String): DataFrame = Registry.byName(name).fn(spark, dataDir)

  def table(name: String): DataFrame = Tables.load(spark, dataDir, name)

  /** S9 catalog existence probe: the reference's
    * `information_schema.tables` lookup (app.py:55–72) expressed
    * through the Spark catalog — no scan, pure metadata.
    */
  def tableExists(name: String): Boolean = spark.catalog.tableExists(name)

  /** "Create if missing" registration (the reference's ensure-table
    * step): expose a fixture table to SQL as a temp view only when the
    * catalog doesn't already have that name.
    */
  def ensureView(name: String): Boolean =
    if (tableExists(name)) false
    else { table(name).createOrReplaceTempView(name); true }

  /** The reference app's serving surface over IMDb-shaped tables. */
  def popularMovies(basics: DataFrame, ratings: DataFrame, limit: Int = 100): DataFrame =
    MovieQueries.popularMovies(basics, ratings, limit = limit)

  /** End-to-end recommendation lifecycle on reference-shaped inputs:
    * synthesize ratings, train ALS, return top-k per user.
    */
  def trainAndRecommend(users: DataFrame, pool: DataFrame, k: Int = 10,
      cfg: Recommender.Config = Recommender.Config()): DataFrame = {
    val ratings = RatingsConverter.synthesize(users, pool, cfg.seed)
      .withColumnRenamed("tconst", "itemId")
    val model = Recommender.trainModel(ratings, cfg)
    Recommender.recommendAll(model, k)
  }

  /** ANN serving: cosine top-k for `queries` (q_id, q_emb) against the
    * embeddings fixture through the session's shared IVF-PQ index
    * (built on first use, reused after — the `VectorOps` served-index
    * posture). Returns q50's serving schema (q_id, vec_id, cos_r, rn).
    * `nProbe`/`shortlist` are the recall/cost dials; defaults match the
    * registered q133 serving configuration. `excludeSelf` (default
    * true) drops vec_id == q_id candidates — correct when query ids
    * ARE corpus vec_ids (the registered self-search posture); pass
    * false for caller queries minted in their OWN id space, where a
    * numeric collision with an unrelated vec_id would otherwise
    * silently drop a true neighbor.
    */
  def annTopK(queries: DataFrame, topK: Int = 5, nProbe: Int = 12,
      shortlist: Int = 96, excludeSelf: Boolean = true): DataFrame =
    graft.queries.VectorOps.annTopK(spark, dataDir, queries, topK, nProbe,
      shortlist, excludeSelf)

  /** Recall-targeted ANN serving (round-16): instead of hand-picking
    * nProbe, pass the recall you need — the probe configuration comes
    * from the measured per-index calibration table (q225;
    * `VectorOps.annCalibration`), cheapest grid point meeting the
    * target, exact-probe fallback when none does. The fixed-dial
    * `annTopK` above is unchanged.
    */
  def annTopKAuto(queries: DataFrame, topK: Int = 5,
      targetRecall: Double = 0.9, excludeSelf: Boolean = true): DataFrame =
    graft.queries.VectorOps.annTopKAuto(spark, dataDir, queries, topK,
      targetRecall, excludeSelf)

  /** Cross-ARM recall-targeted serving (round-17): like `annTopKAuto`
    * but the measured calibration compares ALL serving arms — IVF-PQ
    * (nProbe grid), the graph beam walk ((beam, entries) grid) and
    * the exact scan — in one cost unit (candidate rows touched per
    * query) and serves from the cheapest operating point meeting the
    * target (q232; `VectorOps.annArmAuto`). `annTopKAuto` above stays
    * the IVF-only tuner, unchanged.
    */
  def annTopKArm(queries: DataFrame, topK: Int = 5,
      targetRecall: Double = 0.9, excludeSelf: Boolean = true): DataFrame =
    graft.queries.VectorOps.annTopKArm(spark, dataDir, queries, topK,
      targetRecall, excludeSelf)

  /** Hybrid retrieval serving: reciprocal-rank fusion (k=60) of the
    * q156 lexical idf arm — served from memoized corpus token/df
    * statistics (built once per session, like the ANN indexes) — and
    * a dense arm served from the session's shared IVF-PQ index.
    * `queries`: (q_id long, q_text string, q_emb array<float>); each
    * arm keeps its top-`topK`, fusion reports per-arm ranks (0 = arm
    * missed the doc) and the fused rn. Defaults are the q133 serving
    * configuration; at nProbe = 16 (all cells) and shortlist =
    * Int.MaxValue the dense arm is exact and the result reproduces
    * registered q156 bit-for-bit (GraftEngineSpec).
    */
  def hybridTopK(queries: DataFrame, topK: Int = 10, nProbe: Int = 12,
      shortlist: Int = 96): DataFrame =
    graft.queries.TextOps.hybridTopK(spark, dataDir, queries, topK, nProbe,
      shortlist)

  /** Batch Gopher quality gate on ANY docs frame carrying `doc_id` and
    * `text` — q144's shared metric battery + gate (the same definitions
    * the streaming gate applies), for corpora outside the fixture dirs.
    */
  def gopherGate(docs: DataFrame): DataFrame =
    docs.select(org.apache.spark.sql.functions.col("doc_id") +:
        graft.queries.TextOps.gopherMetrics(
          org.apache.spark.sql.functions.col("text")): _*)
      .withColumn("gopher_pass", graft.queries.TextOps.gopherPass)

  /** REAL-codec media decode on ANY frame carrying `doc_id` +
    * `content` (binary): images via the JDK's javax.imageio
    * (PNG/JPEG/BMP/GIF → dims, exact pixel sums, aHash perceptual
    * fingerprint, 64-dim block-mean features), audio via
    * javax.sound.sampled (WAV/PCM → header fields, frame count, exact
    * peak and squared-sum). The q152/q153 kernels, exposed for
    * caller-supplied corpora; batched mapPartitions on executors.
    */
  def decodeImages(media: DataFrame): DataFrame =
    graft.multimodal.MediaOps.decodeImagesReal(media).toDF()

  def decodeAudio(media: DataFrame): DataFrame =
    graft.multimodal.MediaOps.decodeAudioReal(media).toDF()

  /** Corrupt-input-TOLERANT decode twins — the production posture for
    * scraped corpora, where `decodeImages`/`decodeAudio` fail the
    * whole job on the FIRST truncated or mislabeled byte string: one
    * decode attempt per row, successes under `info.*`, failures as a
    * non-null `err` string. Split on `err IS NULL`; route the err rows
    * to a quarantine sink. Same one-pass mapPartitions shape — the
    * tolerance costs one try/catch per row, not a second decode.
    */
  def decodeImagesTolerant(media: DataFrame): DataFrame =
    graft.multimodal.MediaOps.decodeImagesTolerant(media).toDF()

  def decodeAudioTolerant(media: DataFrame): DataFrame =
    graft.multimodal.MediaOps.decodeAudioTolerant(media).toDF()

  /** Real nearest-neighbor k×k thumbnails (q160's kernel) on ANY
    * frame carrying `doc_id` + `content` (binary image bytes): decode
    * and floor-grid downsample in ONE mapPartitions pass.
    */
  def thumbnails(media: DataFrame, k: Int = 8): DataFrame =
    graft.multimodal.MediaOps.decodeThumbs(media, k).toDF()

  /** Windowed audio features (q161's kernel) on ANY frame carrying
    * `doc_id` + `content` (WAV bytes): one real parse per clip
    * emitting fixed `win`-sample frames with exact integer
    * energy/peak — the loudness/VAD grid for silence trimming.
    */
  def audioWindows(media: DataFrame, win: Int = 256): DataFrame =
    graft.multimodal.MediaOps.decodeAudioWindows(media, win).toDF()

  /** Digest-level snapshot diff (q162's kernel) between two
    * caller-supplied snapshots of a keyed corpus: returns the
    * (key, status) rows — added / removed / changed — an incremental
    * pipeline uses as its invalidation list. Digests compute
    * scan-side; the single full-outer join exchanges 16 bytes per key.
    */
  def snapshotDiff(snapA: DataFrame, snapB: DataFrame,
      keyCol: String = "doc_id", contentCol: String = "text"): DataFrame =
    graft.queries.TextOps.snapshotDiff(snapA, snapB, keyCol, contentCol)

  /** Population Stability Index drift (q163's kernel) between a
    * reference and a current frame: `bucket` must be a FIXED-grid
    * integer expression in [0, nBuckets) — engine-computed quantile
    * edges would make the comparison self-referential. Returns per
    * `group` the smoothed PSI and the standard verdict
    * (>0.1 watch, >0.25 act).
    */
  def psiDrift(ref: DataFrame, cur: DataFrame, group: String,
      bucket: org.apache.spark.sql.Column, nBuckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val tag = (df: DataFrame, isRef: Boolean) =>
      df.select(col(group).as("grp"), lit(isRef).as("is_ref"),
        bucket.cast("int").as("bkt"))
    graft.queries.EventOps.psiByGroup(
      tag(ref, true).unionByName(tag(cur, false)), nBuckets)
      .withColumnRenamed("grp", group)
  }

  /** Bucketed interval-containment join (q167's kernel): `rows` with
    * an integer-seconds `secCol` against `intervals(lo, hi)`, joined
    * on key equality + containment via the bucket-expansion equi-join
    * decomposition. Pick `bucketSec` near the typical interval width.
    */
  def intervalJoin(rows: DataFrame, intervals: DataFrame,
      rowKey: String, intervalKey: String, secCol: String,
      bucketSec: Long = 3600L, broadcastIntervals: Boolean = true): DataFrame =
    graft.queries.EventOps.intervalJoin(rows, intervals, rowKey,
      intervalKey, secCol, bucketSec, broadcastIntervals)

  /** Morton-clustered parquet write (ext.ZOrder) — the OPTIMIZE
    * ZORDER BY surface; `dims` are integral-castable expressions
    * (cents, epoch days — the q148 discipline).
    */
  def zorderWrite(df: DataFrame, dims: Seq[org.apache.spark.sql.Column],
      path: String, files: Int = 16): Unit =
    graft.ext.ZOrder.zorderWrite(df, dims, path, files)

  /** Lossless export/import through ORC/JSON/CSV (ingest.FormatIo):
    * binary and nested columns ride encoded where the format lacks
    * the type and decode back under the original schema.
    */
  def export(df: DataFrame, path: String, format: String): Unit =
    graft.ingest.FormatIo.write(df, path, format)

  def importAs(path: String, format: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    graft.ingest.FormatIo.read(spark, path, format, schema)

  /** Native AS-OF join (the q171/q180/q181 operator on caller
    * frames): for every left row, the matching right row by equal
    * keys and `direction` — "backward" (default; largest right time ≤
    * left time, ties to the last `rightTiebreakCols` ascending),
    * "forward" (smallest right time ≥ left time, ties to the first),
    * or "nearest" (closer of the two, exact tie → prior). LongType
    * epoch times, LEFT OUTER, optional staleness tolerance (absolute
    * gap for nearest). Plans as AsOfJoinExec — each side clusters on
    * its own keys, one forward merge per partition for every
    * direction.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      rightTiebreakCols: Seq[String] = Nil,
      toleranceSec: Option[Long] = None,
      direction: String = org.apache.spark.sql.graft.AsOfJoinApi.Backward): DataFrame =
    org.apache.spark.sql.graft.AsOfJoinApi.asof(left, right, keys,
      leftTimeCol, rightTimeCol, rightTiebreakCols, toleranceSec, direction)

  /** Snapshot-log surface (q173's ext/SnapshotLog on caller data):
    * append-commit a frame as a new immutable segment (zone map over
    * `statsCol`, must be LongType), read any historical version, or
    * ask the latest version.
    */
  def snapshotAppend(df: DataFrame, dir: String,
      statsCol: org.apache.spark.sql.Column): Int =
    graft.ext.SnapshotLog.append(df, dir, statsCol)

  def snapshotRead(dir: String, version: Int): DataFrame =
    graft.ext.SnapshotLog.readAsOf(spark, dir, version)

  def snapshotVersion(dir: String): Int = graft.ext.SnapshotLog.version(dir)

  /** Multi-table transactional append (round-17; q233): commit one
    * frame per table, all-or-nothing across their logs — the intent
    * protocol of `SnapshotTxn.commitTogether`. Returns the committed
    * version per dir.
    */
  def snapshotAppendTogether(
      writes: Seq[(DataFrame, String, org.apache.spark.sql.Column)]): Map[String, Int] =
    graft.ext.SnapshotTxn.commitTogether(writes.map { case (df, dir, st) =>
      graft.ext.SnapshotLog.stageAppend(df, dir, st)
    })

  /** Transactional MOVE (round-17; q234): atomically relocate the rows
    * of `srcDir` whose key tuple appears in `keys` into `dstDir` — a
    * staged MoR key-delete + a staged append of the matched rows under
    * one intent publish (`SnapshotTxn.moveKeys`). Both-or-neither;
    * replaying the same keys is a no-op. Returns (srcV, dstV).
    */
  def snapshotMoveKeys(srcDir: String, dstDir: String, keys: DataFrame,
      keyCols: Seq[String],
      dstStats: org.apache.spark.sql.Column): (Int, Int) =
    graft.ext.SnapshotTxn.moveKeys(spark, srcDir, dstDir, keys, keyCols,
      dstStats)

  /** Cross-table snapshot handle (round-17; q236): a consistent
    * version cut across N logs — no pinned pair can expose half a
    * multi-table transaction (`SnapshotTxn.pinTogether`'s stable
    * double scan). Read each table with `snapshotRead(dir, pins(dir))`
    * for MVCC isolation from every later writer.
    */
  def snapshotPinTogether(dirs: Seq[String]): Map[String, Int] =
    graft.ext.SnapshotTxn.pinTogether(dirs)

  /** Bloom/range-pruned point lookup (round-17; q237): read version
    * `v` opening only segments whose zone map AND bloom sidecar admit
    * one of `keys` — (frame, segmentsScanned, segmentsTotal).
    */
  def snapshotReadKeys(dir: String, v: Int, keyCols: Seq[String],
      keys: DataFrame): (DataFrame, Int, Int) =
    graft.ext.SnapshotLog.readAsOfKeys(spark, dir, v, keyCols, keys)

  /** Configure a per-segment Bloom sidecar on a recorded stat
    * (round-17; q235/q237) — point-key discovery and lookup pruning.
    */
  def snapshotSetBloom(dir: String, statName: String,
      expectedItems: Long = 1L << 17, fpp: Double = 0.001): Unit =
    graft.ext.SnapshotLog.setBloomOn(dir, statName, expectedItems, fpp)

  /** Change-data feed: rows added in versions (fromV, toV] — reads
    * only the delta segments (q176's kernel).
    */
  def snapshotChanges(dir: String, fromV: Int, toV: Int): DataFrame =
    graft.ext.SnapshotLog.readChanges(spark, dir, fromV, toV)

  /** Timestamp time travel (Delta's `timestampAsOf`): the table as of
    * a wall-clock instant — the latest version committed at or before
    * it. Loud when the instant predates the retention horizon.
    */
  def snapshotAsOfTimestamp(dir: String, tsMillis: Long): DataFrame =
    graft.ext.SnapshotLog.readAsOfTimestamp(spark, dir, tsMillis)

  /** Rewrite the current snapshot as one segment (new version); old
    * versions keep reading their original layout (q177's kernel).
    */
  def snapshotCompact(dir: String,
      statsCol: org.apache.spark.sql.Column): Int =
    graft.ext.SnapshotLog.compact(spark, dir, statsCol)

  /** Drop pre-horizon manifests and unreferenced segments — the
    * retention trade; time travel before the horizon is gone.
    */
  def snapshotVacuum(dir: String, horizon: Int): (Int, Int) =
    graft.ext.SnapshotLog.vacuum(dir, horizon)

  /** Row-level DELETE as a copy-on-write commit (q192's kernel):
    * rows matching `predicate` leave the table at the new version;
    * every earlier version still reads them; `snapshotCdc` delivers
    * them as deletes. Only touched segments rewrite.
    */
  def snapshotDelete(dir: String, predicate: org.apache.spark.sql.Column,
      statsCol: org.apache.spark.sql.Column): Int =
    graft.ext.SnapshotLog.delete(spark, dir, predicate, statsCol)

  /** Merge-on-read DELETE (q209's kernel): one delete-sized tombstone
    * segment commits instead of rewriting touched segments — the
    * small-delete economy; reads anti-join the tombstones away until a
    * compact/optimize materializes them. Semantics identical to
    * `snapshotDelete`.
    */
  def snapshotDeleteMor(dir: String,
      predicate: org.apache.spark.sql.Column): Int =
    graft.ext.SnapshotLog.deleteMor(spark, dir, predicate)

  /** MERGE/upsert by key as a copy-on-write commit (q193's kernel):
    * src rows replace existing rows with the same key, the rest
    * insert — one atomic version. `src` must be key-unique.
    */
  def snapshotMerge(src: DataFrame, dir: String, key: String,
      statsCol: org.apache.spark.sql.Column): Int =
    graft.ext.SnapshotLog.merge(spark, src, dir, key, statsCol)

  /** Merge-on-read MERGE (q216's kernel): src lands as one dataChange
    * segment, replaced old images are tombstoned (delete-sized DV)
    * instead of rewriting touched segments — commit cost src +
    * matched-rows. Semantics identical to `snapshotMerge`.
    */
  def snapshotMergeMor(src: DataFrame, dir: String, key: String,
      statsCol: org.apache.spark.sql.Column): Int =
    graft.ext.SnapshotLog.mergeMor(spark, src, dir, key, statsCol)

  /** First-class UPDATE as a copy-on-write commit (round-16, q223's
    * kernel): `UPDATE SET col = expr WHERE pred` — touched segments
    * rewrite, the feed delivers typed update_preimage/update_postimage
    * rows. Assignments target existing columns only.
    */
  def snapshotUpdate(dir: String, predicate: org.apache.spark.sql.Column,
      set: Seq[(String, org.apache.spark.sql.Column)],
      statsCol: org.apache.spark.sql.Column): Int =
    graft.ext.SnapshotLog.update(spark, dir, predicate, set, statsCol)

  /** Merge-on-read UPDATE (q223's MoR flavor): matched old images
    * tombstone, new images land as one update-sized segment — commit
    * cost ∝ matched rows. Semantics identical to `snapshotUpdate`.
    */
  def snapshotUpdateMor(dir: String,
      predicate: org.apache.spark.sql.Column,
      set: Seq[(String, org.apache.spark.sql.Column)],
      statsCol: org.apache.spark.sql.Column): Int =
    graft.ext.SnapshotLog.updateMor(spark, dir, predicate, set, statsCol)

  /** Shallow CLONE (round-16, q224's kernel): zero-copy writable
    * replica of `srcDir` as of `asOfV` (default head) at `dstDir` —
    * per-file hard links, self-contained, vacuum-safe both directions.
    */
  def snapshotClone(srcDir: String, dstDir: String, asOfV: Int = -1): Int =
    graft.ext.SnapshotLog.cloneShallow(srcDir, dstDir, asOfV)

  /** Full change-data feed over (fromV, toV]: `snapshotChanges`'
    * inserts plus delete/merge removals and typed update pre/post
    * images, tagged `_change_type` ('insert' | 'delete' |
    * 'update_preimage' | 'update_postimage') and `_commit_version`
    * (order changes per key by it — last wins); merges arrive as
    * delete + insert under one version, first-class updates as their
    * typed pair.
    */
  def snapshotCdc(dir: String, fromV: Int, toV: Int): DataFrame =
    graft.ext.SnapshotLog.readCdc(spark, dir, fromV, toV)

  /** UniMax epoch-capped mixture allocation (q172's kernel on a
    * caller-supplied (source, tokens) frame): spread `budget` tokens
    * as uniformly as possible, never asking a source for more than
    * `epochCap` passes of its own data. Returns (source, tokens, cap,
    * alloc, epochs). `budget` must be < epochCap × the total.
    */
  def unimaxMix(counts: DataFrame, budget: Long, epochCap: Int = 4): DataFrame =
    graft.queries.TextOps.unimaxAllocate(counts, epochCap,
      _ => org.apache.spark.sql.functions.lit(budget))

  /** Screen-then-price containment dedup over caller (doc_id, text)
    * docs — q179's kernel, shared verbatim (the funnelVerdict rule):
    * winnowing fingerprints, the short-doc exact slice and the
    * containment prefix filter nominate candidates in union, and the
    * exact sorted-shingle-array intersection prices only those.
    * Returns (da, db, na, nb, containment) with da the contained
    * side, C(A,B) ≥ 0.8 — candidate-linear at corpus scale where the
    * exact all-pairs form (q169, the oracle arm) cannot exist, with
    * recall EXACT BY CONSTRUCTION (the rarity-prefix bound — a pair
    * sharing none of the contained side's n/5+2 rarest shingles is
    * provably under the gate). Session caveats: with a ShingleStore
    * installed the kernel reads the STORE corpus, not `docs`
    * (single-corpus sessions only), and each distinct caller frame
    * pins kernel caches until `releaseCaches()` — batch distinct
    * corpora accordingly.
    */
  def containmentDedup(docs: DataFrame): DataFrame =
    graft.queries.TextOps.screenedContainmentPairs(docs)

  /** Substring-granularity decontamination spans over caller
    * (doc_id, text) docs — q195's cross-set anchor-and-extend kernel,
    * shared verbatim: rows where `evalPred` is true form the eval
    * side, all others the train side, and every maximal verbatim span
    * of ≥ 16 tokens shared from an eval doc into a train doc returns
    * as (dt, de, diag, pt0, span) — pt0/span locating exactly what a
    * scrubber cuts from the train doc. Anchors are df-capped on the
    * TRAIN side only (the eval side is benchmark-sized; capping it
    * could hide real contamination).
    */
  def decontaminateSpans(docs: DataFrame,
      evalPred: org.apache.spark.sql.Column): DataFrame =
    graft.queries.TextOps.crossRuns(docs, evalPred)

  /** q196's HTML extraction cascade over any html-string column:
    * boilerplate blocks (<head>/<nav>/<footer>) drop, remaining tags
    * strip to spaces, whitespace collapses — all native codegen'd
    * regexp_replace, per-row narrow map at any scale.
    */
  def extractHtml(html: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    graft.queries.TextOps.extractHtmlText(html)

  /** DoReMi-style loss-aware mixture reweighting (q197's exact
    * integer multiplicative-weights kernel, shared verbatim) over a
    * caller stats frame (source, n_tokens, nll) and a reference NLL:
    * sources whose loss exceeds the reference gain mass in proportion
    * to their integer micro-nat excess. Returns (source, n_tokens,
    * nll, excess_micro, weight_base, weight_doremi).
    */
  def lossAwareMix(stats: DataFrame, referenceNll: Double): DataFrame =
    graft.queries.TextOps.doremiReweight(
      stats.withColumn("nll_c",
        org.apache.spark.sql.functions.lit(referenceNll)))

  /** Unigram-LM tokenizer trainer (q198's Viterbi-EM loop, shared
    * verbatim) over the engine's documents table: returns the learned
    * (piece, n_uses, cost_micronats) inventory after `rounds` EM
    * rounds. The corpus is scanned once; every round runs on the
    * vocab-sized distinct-word table.
    */
  def trainUnigramTokenizer(rounds: Int = 3): DataFrame = {
    import spark.implicits._
    val (pieces, _, _) =
      graft.queries.TextOps.unigramLoop(spark, dataDir, rounds)
    pieces.toDF("piece", "n_uses", "cost_micronats")
      .orderBy(org.apache.spark.sql.functions.col("cost_micronats"),
        org.apache.spark.sql.functions.col("piece"))
  }

  /** Persist a trained tokenizer's state so a DIFFERENT job/session
    * serves the encoder without retraining (the round-13 export/import
    * surface; trainer state was session-memoized only before). `kind`
    * is "unigram" (q198's EM trainer: pieces + word segmentation) or
    * "bpe" (q134's merge trainer: merge list + word vocabulary); state
    * rides FormatIo's lossless explicit-schema encodings in `format`
    * (orc/json/csv). Round18OpsSpec pins encode-after-reload ≡
    * encode-in-session for both kinds.
    */
  def saveTokenizer(path: String, kind: String = "unigram",
      rounds: Int = 3, format: String = "orc"): Unit = kind match {
    case "unigram" =>
      graft.queries.TextOps.saveUnigramTokenizer(spark, dataDir, rounds,
        path, format)
    case "bpe" =>
      graft.queries.TextOps.saveBpeTokenizer(spark, dataDir, rounds,
        path, format)
    case "wordpiece" =>
      graft.queries.TextOps.saveWordpieceTokenizer(spark, dataDir, rounds,
        path, format)
    case other =>
      throw new IllegalArgumentException(s"unknown tokenizer kind: $other")
  }

  /** OPTIMIZE ZORDER BY on a snapshot log (q206's kernel): rewrite the
    * current snapshot into Morton-aligned clustered segments on `dims`
    * with fresh zone maps — one data pass + per-bucket directory
    * moves; dataChange=false, old versions intact, vacuum reclaims.
    */
  def optimizeSnapshot(logDir: String,
      statsCol: org.apache.spark.sql.Column,
      dims: Seq[org.apache.spark.sql.Column], bucketBits: Int = 2): Int =
    graft.ext.SnapshotLog.optimize(spark, logDir, statsCol, dims, bucketBits)

  /** RESTORE a snapshot log to an earlier version (round-15
    * continuation; q222's kernel — Delta's RESTORE TABLE): commit a
    * new version whose content is exactly `v`'s, losing no history.
    * Cost ∝ the churned files + tombstone images, never the table.
    */
  def snapshotRestore(logDir: String, v: Int,
      statsCol: org.apache.spark.sql.Column): Int =
    graft.ext.SnapshotLog.restore(spark, logDir, v, statsCol)

  /** Per-segment health metrics of a snapshot version (round-15
    * item 7; q220's kernel): rows, bytes, active DV tombstones, the
    * tombstone ratio, and sidecar-stats coverage per live segment —
    * the metadata-priced audit `optimizeIncrementalSnapshot`'s
    * selection policy reads before touching any data.
    */
  def snapshotSegmentHealth(logDir: String,
      v: Int): Seq[graft.ext.SnapshotLog.SegmentHealth] =
    graft.ext.SnapshotLog.segmentHealth(spark, logDir, v)

  /** Incremental OPTIMIZE on a snapshot log (round-15 item 2; q218's
    * kernel): rewrite ONLY the segments the health policy selects
    * (small files, tombstone-heavy), carry the rest by reference —
    * maintenance cost ∝ selected bytes, never table bytes.
    */
  def optimizeIncrementalSnapshot(logDir: String,
      statsCol: org.apache.spark.sql.Column,
      dims: Seq[org.apache.spark.sql.Column], bucketBits: Int = 2,
      smallBytes: Long = 64L << 20, minTombstoneRatio: Double = 0.1): Int =
    graft.ext.SnapshotLog.optimizeIncremental(spark, logDir, statsCol,
      dims, bucketBits, smallBytes = smallBytes,
      minTombstoneRatio = minTombstoneRatio)

  /** Checkpointed streaming TAIL of a snapshot log (round-15 item 1):
    * plan-durably / process / commit per micro-batch — a crash before
    * the commit replays the same version range under the same batch
    * id, so a batch-id-keyed sink body is exactly-once. See
    * streaming/SnapshotSource for modes (cdc vs insert-only).
    */
  def tailSnapshot(logDir: String, checkpointDir: String,
      cdc: Boolean = true, ignoreDeletes: Boolean = false,
      maxBatches: Int = Int.MaxValue,
      maxVersionsPerTrigger: Int = Int.MaxValue,
      ignoreChanges: Boolean = false)(
      process: (DataFrame, Long) => Unit): Seq[Long] =
    graft.streaming.SnapshotSource.run(spark, logDir, checkpointDir, cdc,
      ignoreDeletes, maxBatches, maxVersionsPerTrigger,
      ignoreChanges)(process)

  /** DESCRIBE HISTORY (round-16; q227's kernel): one CommitInfo per
    * surviving version — op type, commit time, segment/row/DV/change
    * accounting, all driver-side metadata (no data scan).
    */
  def snapshotHistory(dir: String): Seq[graft.ext.SnapshotLog.CommitInfo] =
    graft.ext.SnapshotLog.history(dir)

  /** CHECK constraint (round-16; q228's kernel — Delta's ADD
    * CONSTRAINT): validates existing rows, then every future write
    * enforces the predicate inside its existing one-pass stat
    * aggregate — violating commits refuse before any manifest lands.
    */
  def snapshotAddCheck(dir: String, name: String, exprSql: String): Unit =
    graft.ext.SnapshotLog.addCheck(spark, dir, name, exprSql)

  /** What a vacuum at `horizon` WOULD reclaim (Delta's VACUUM DRY
    * RUN): (doomed segment dirs, manifests that would drop).
    */
  def snapshotVacuumDryRun(dir: String, horizon: Int): (Seq[String], Int) =
    graft.ext.SnapshotLog.vacuumDryRun(dir, horizon)

  /** NOT NULL column constraint (round-16): null-refusing flavor of
    * `snapshotAddCheck` — SQL CHECK passes null, this does not.
    */
  def snapshotAddNotNull(dir: String, colName: String): Unit =
    graft.ext.SnapshotLog.addNotNull(spark, dir, colName)

  /** Time-based retention (Delta's VACUUM RETAIN): keep every snapshot
    * a reader could time-travel to within `retainMs` of `nowMillis`.
    */
  def snapshotVacuumRetain(dir: String, retainMs: Long,
      nowMillis: Long = System.currentTimeMillis()): (Int, Int) =
    graft.ext.SnapshotLog.vacuumRetain(dir, retainMs, nowMillis)

  /** RENAME COLUMN via stable column ids (round-17; q230's kernel —
    * Delta's column-mapping `name` mode): one metadata commit, zero
    * bytes moved, old versions read old names, config stat/check
    * expressions re-bind in the same commit.
    */
  def snapshotRenameColumn(dir: String, oldName: String,
      newName: String): Int =
    graft.ext.SnapshotLog.renameColumn(spark, dir, oldName, newName)

  /** Declared clustering spec (round-17; q231's kernel — Iceberg's
    * partition-spec posture): record the table's clustering dimensions
    * once; `snapshotOptimizeDeclared` applies them with no per-call
    * layout knowledge, and history reports the spec each optimize used.
    */
  def snapshotSetClusterBy(dir: String, dims: Seq[String]): Unit =
    graft.ext.SnapshotLog.setClusterBy(spark, dir, dims)

  def snapshotOptimizeDeclared(dir: String,
      statsCol: org.apache.spark.sql.Column): Int =
    graft.ext.SnapshotLog.optimize(spark, dir, statsCol)

  /** Zero-copy clone of the table as of a wall-clock instant. */
  def snapshotCloneAtTimestamp(srcDir: String, dstDir: String,
      tsMillis: Long): Int =
    graft.ext.SnapshotLog.cloneShallowAtTimestamp(srcDir, dstDir, tsMillis)

  /** Keyed CDC APPLY (round-16 continuation; q226's kernel — DLT's
    * APPLY CHANGES INTO): continuously replicate a MUTATING source log
    * into a replica log under the last-change-wins consumer contract —
    * deletes, merges, first-class updates and restores all converge.
    * Per-trigger cost ∝ change volume + matched replica rows.
    */
  def applySnapshotChanges(srcLogDir: String, checkpointDir: String,
      dstLogDir: String, key: String,
      statsCol: org.apache.spark.sql.Column,
      maxBatches: Int = Int.MaxValue): Seq[Long] =
    graft.streaming.SnapshotSource.applyChanges(spark, srcLogDir,
      checkpointDir, dstLogDir, key, statsCol, maxBatches)

  /** Incremental materialized-view maintenance (round-15 extension;
    * q221's kernel): keep a keyed aggregate view of a source snapshot
    * log fresh by tailing its change feed — each refresh recomputes
    * only the groups the delta touched against the WAL-pinned source
    * version, merge-on-reads them into the view log, and deletes
    * groups whose every source row vanished. Refresh cost ∝ change
    * volume + affected groups, never table or view size.
    */
  def maintainSnapshotView(srcLogDir: String, checkpointDir: String,
      viewDir: String, viewKey: String,
      keyExpr: org.apache.spark.sql.Column,
      statsCol: org.apache.spark.sql.Column,
      maxBatches: Int = Int.MaxValue)(
      viewOf: DataFrame => DataFrame): Seq[Long] =
    graft.streaming.SnapshotSource.maintainView(spark, srcLogDir,
      checkpointDir, viewDir, viewKey, keyExpr, statsCol, maxBatches)(viewOf)

  /** Pruned snapshot read on any SIDECAR stats column recorded by the
    * log's table-property stats schema (q208's kernel): segments whose
    * recorded range misses [lo, hi] are skipped before file listing;
    * the exact predicate re-applies as the residual.
    */
  def snapshotReadPruned(logDir: String, v: Int, statName: String,
      statExpr: org.apache.spark.sql.Column, lo: Long, hi: Long): DataFrame =
    graft.ext.SnapshotLog.readAsOfFilteredOn(spark, logDir, v, statName,
      statExpr, lo, hi)._1

  /** Materialize any frame as a bucketed+sorted external table (q207's
    * kernel): equi-joins between tables bucketed on the same key and
    * count plan ZERO exchanges — pay the clustering shuffle once at
    * ingest, never per query.
    */
  def bucketize(df: DataFrame, name: String, path: String, key: String,
      buckets: Int = 8): DataFrame =
    graft.ingest.BucketedTables.materialize(spark, df, name, path, key,
      buckets)

  /** Encode the engine's documents with a tokenizer saved by
    * `saveTokenizer` — the serving path of a session that never
    * trained: loads the persisted word table and runs the SAME encode
    * kernel the registered q199/q136 queries run (count-gated
    * broadcast join + per-source fertility rollup), so reloaded-state
    * serving cannot drift from in-session serving.
    */
  def encodeWithTokenizer(path: String, kind: String = "unigram",
      format: String = "orc"): DataFrame = kind match {
    case "unigram" =>
      graft.queries.TextOps.unigramEncodeWith(
        graft.queries.TextOps.loadUnigramSegmentation(spark, path, format)
          .select(org.apache.spark.sql.functions.col("w"),
            org.apache.spark.sql.functions.col("n_sym")),
        table("documents"))
    case "bpe" =>
      graft.queries.TextOps.bpeEncodeWith(
        graft.queries.TextOps.loadBpeVocab(spark, path, format), table("documents"))
    case "wordpiece" =>
      graft.queries.TextOps.wordpieceEncodeWith(
        graft.queries.TextOps.loadWordpieceSegmentation(spark, path, format),
        table("documents"))
    case other =>
      throw new IllegalArgumentException(s"unknown tokenizer kind: $other")
  }

  /** Mutual-kNN graph with shared-neighbor strength over ANY
    * (vec_id, embedding) frame — q183's kernels, shared verbatim (the
    * funnelVerdict rule): the bucketed top-3 graph (adaptive sign-LSH
    * candidates, ~32·n comparisons), filtered to MUTUAL edges and
    * annotated with |top3(a) ∩ top3(b)|. Returns
    * (a_id, b_id, cos_r, shared_n), a < b. The intermediate graph is
    * cache-pinned for its three consumers; release with the session's
    * `VectorOps.releaseCaches()` lifecycle (Bench/Verify call it).
    */
  def mutualKnn(vectors: DataFrame): DataFrame =
    graft.queries.VectorOps.mutualKnnPairs(
      graft.queries.VectorOps.knnGraphOf(spark, vectors))

  /** Neighbor-vote label audit on ANY (vec_id, label, embedding)
    * frame — q184's kernels: each vector's 3 bucketed nearest
    * neighbors vote with their labels; per label the isolated /
    * suspect counts and the micro-averaged agreement rate. The
    * confident-learning-style mislabel screen to run before trusting
    * labels for stratified sampling or eval splits.
    */
  def knnLabelAudit(vectors: DataFrame): DataFrame =
    graft.queries.VectorOps.knnLabelAuditOf(
      vectors.select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("label")),
      graft.queries.VectorOps.knnGraphOf(spark, vectors))

  /** Incremental kNN-graph maintenance on ANY (vec_id, embedding)
    * frame — q187's kernel: `isIncrement` marks newly-landed vectors
    * (e.g. `col("ingest_day") === today`); only the neighbor lists of
    * vectors sharing an LSH bucket with an increment vector are
    * recomputed, against the full corpus within those buckets. Returns
    * the UPDATED (a_id, b_id, cos_r, rn) top-3 lists — bit-identical
    * to a full rebuild's, restricted to affected buckets.
    */
  def incrementalKnn(vectors: DataFrame,
      isIncrement: org.apache.spark.sql.Column): DataFrame =
    graft.queries.VectorOps.incrementalKnnOf(spark, vectors, isIncrement)

  /** CDC-driven incremental kNN (round-15 item 5; q219's kernel): the
    * nightly refresh wired to the REAL change feed instead of a
    * predicate — the corpus is a versioned snapshot log of
    * (vec_id, embedding), the increment is exactly the rows versions
    * (fromV, toV] appended (`readChanges` — reads ONLY the delta
    * segments, never standing history), and only the neighbor lists
    * of LSH buckets those rows land in recompute against the toV
    * corpus. Returns the refreshed (a_id, b_id, cos_r, rn) lists —
    * bit-identical to a full rebuild restricted to affected buckets.
    */
  def incrementalKnnFromLog(logDir: String, fromV: Int,
      toV: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    val corpus = graft.ext.SnapshotLog.readAsOf(spark, logDir, toV)
      .select(col("vec_id"), col("embedding"))
    val incrementIds = graft.ext.SnapshotLog
      .readChanges(spark, logDir, fromV, toV).select(col("vec_id"))
    graft.queries.VectorOps.incrementalKnnIds(spark, corpus, incrementIds)
  }

  /** Soft-dedup yield accounting on ANY (doc_id, source, text) frame —
    * q185's kernel: near-dup clusters downweighted to 1/cluster_size
    * (integer parts-per-million), rolled up per source as raw vs
    * effective token mass. The downweight-instead-of-drop policy
    * report a mixture owner reads next to `unimaxMix`.
    */
  def softDedupYield(docs: DataFrame): DataFrame =
    graft.queries.TextOps.softDedupYieldOf(spark, docs)

  /** Prototypicality pruning verdicts (q174's kernel on a caller
    * (vec_id, label, embedding) frame): per vector, cosine to its
    * own-label centroid, within-label rank, and the pruned flag for
    * the top `prunePct`% most prototypical.
    */
  def prunePrototypical(embeddings: DataFrame, prunePct: Int = 20): DataFrame =
    graft.queries.VectorOps.prototypicalityRank(embeddings, prunePct)

  /** Point-in-time feature lookup against an SCD2 dimension (q168's
    * consumer): facts (user_id, sec, …) pick up the attributes that
    * were true AT their event time — the leakage-free training join.
    * Streaming twin: `StreamOps.scd2EnrichStream` (same kernel).
    */
  def pointInTimeEnrich(facts: DataFrame, dim: DataFrame): DataFrame =
    graft.queries.EventOps.pointInTimeJoin(facts, dim)

  /** Streaming as-of enrichment against a pinned SnapshotLog
    * dimension version, through the same native AsOfJoinExec the
    * batch `asofJoin` plans (StreamOps.asofSnapshotStream; stream ≡
    * batch pinned by StreamingSpec). Returns the DataStreamWriter —
    * caller starts it.
    */
  def asofEnrichStream(left: DataFrame, dimDir: String, dimVersion: Int,
      keys: Seq[String], leftTimeCol: String, rightTimeCol: String,
      outDir: String, rightTiebreakCols: Seq[String] = Nil,
      toleranceSec: Option[Long] = None,
      direction: String = org.apache.spark.sql.graft.AsOfJoinApi.Backward) =
    graft.streaming.StreamOps.asofSnapshotStream(left, dimDir, dimVersion,
      keys, leftTimeCol, rightTimeCol, outDir, rightTiebreakCols,
      toleranceSec, direction)

  /** A conf-scoped session clone in approximate-query mode: plain
    * countDistinct written against it optimizes to the HLL sketch
    * (plans/ApproxDistinctRewrite) — flip whole dashboards to ±1.6%
    * estimates without touching query code. The shared session is
    * untouched.
    */
  def approxDistinctSession(): SparkSession = {
    val sc = spark.newSession()
    graft.plans.ApproxDistinctRewrite.ensureInjected(sc)
    sc.conf.set(graft.plans.ApproxDistinctRewrite.Flag, "true")
    sc
  }

  /** Distinct-key overlap estimate between two columns from three HLL
    * sketches — the AQP probe a join planner (or a pre-join data
    * audit: "how much of the fact table will this dim actually hit?")
    * runs before committing to a shuffle: |A∩B| ≈ |A| + |B| − |A∪B|
    * by inclusion–exclusion over the mergeable sketch (q85's kernel,
    * ±1.6% rse per term). Each side is one scan into 4 KiB of
    * registers; the union sketch rides the same two scans — nothing
    * key-sized ever shuffles, at any cardinality. Output (1 row):
    * distinct_a, distinct_b, distinct_union, overlap_est (clamped at
    * 0), containment_a = overlap/distinct_a.
    */
  def distinctOverlapEstimate(a: DataFrame, aCol: String,
      b: DataFrame, bCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.functions.HllAgg.ensureRegistered(spark)
    val ha = a.select(xxhash64(col(aCol)).as("h"))
    val hb = b.select(xxhash64(col(bCol)).as("h"))
    val da = ha.agg(expr("hll_distinct(h)").as("distinct_a"))
    val db = hb.agg(expr("hll_distinct(h)").as("distinct_b"))
    val du = ha.unionByName(hb).agg(expr("hll_distinct(h)").as("distinct_union"))
    da.crossJoin(broadcast(db)).crossJoin(broadcast(du))
      .withColumn("overlap_est",
        greatest(lit(0L), col("distinct_a") + col("distinct_b") - col("distinct_union")))
      .withColumn("containment_a",
        round(col("overlap_est").cast("double") / col("distinct_a"), 4))
  }

  /** Release every module memo (see `GraftEngine.releaseCaches`). */
  def releaseCaches(): Unit = GraftEngine.releaseCaches()
}

object GraftEngine {
  /** The local session every main and the test suite start from:
    * `local[cores]` with as many shuffle partitions, UTC, no UI, and
    * `Tables.requiredConf`. Callers add their own extras (app name,
    * warehouse dir) before `getOrCreate()`.
    */
  def localBuilder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Tables.requiredConf._1, Tables.requiredConf._2)

  /** Release every module memo: session-pinned kernels, served
    * indexes, the trained ALS model and the incident table (the
    * lifecycle hook the mains and test suites call between runs).
    */
  def releaseCaches(): Unit = {
    graft.queries.TextOps.releaseCaches()
    graft.queries.VectorOps.releaseCaches()
    graft.queries.EventOps.releaseCaches()
    graft.queries.RecoOps.releaseCaches()
  }

  /** Frees the blocks behind every local checkpoint `df` reads (its
    * plan's `LogicalRDD` leaves). The ContextCleaner frees them only at
    * GC, which is too slow to bound a long session's storage.
    */
  private[graft] def unpinCheckpoints(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}

private object CosineRegistration {
  def ensure(spark: SparkSession): Unit = {
    graft.functions.CosineSimilarity.ensureRegistered(spark)
    graft.functions.MinHashAgg.ensureRegistered(spark)
  }
}
