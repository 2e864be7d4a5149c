package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._

/** Scale-stress harness: replicates the sf0.1 fact tables 10× (with
  * consistently shifted join keys, so join fan-in is preserved) into a
  * scratch dir and times the headline queries there — evidence that
  * the recorded plans scale superlinearly-free beyond the fixtures.
  *
  * Usage: runMain graft.ScaleStress [--shingle-store] [scratchDir]
  * [queryName ...] — the optional name tail restricts the run to those
  * queries (re-validating one table row without paying the full
  * sweep). With --shingle-store the pair kernel is materialized ONCE
  * to a bucketed parquet table (ext.ShingleStore) and every dedup/
  * graph query serves from disk — the documented 100 TB swap for the
  * in-memory shingle cache, demonstrated end-to-end.
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val (flagArgs, posArgs) = args.partition(_.startsWith("--"))
    val useStore = flagArgs.contains("--shingle-store")
    val out = posArgs.headOption.getOrElse("/tmp/graft_sfx")
    val only = posArgs.drop(1).toSet
    val src = "/root/testdata/sf0.1"
    val spark = GraftEngine.localBuilder("32")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val copies = 10
    def replicate(table: String, keyCols: Seq[String], keyStride: Long): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val big = (0 until copies).map { i =>
        keyCols.foldLeft(base) { (df, k) =>
          df.withColumn(k, col(k) + lit(i * keyStride))
        }
      }.reduce(_ unionAll _)
      big.write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    // shift orderkeys consistently in both fact tables; leave dim keys
    // intact so per-key fan-in matches a real larger SF
    replicate("lineitem", Seq("l_orderkey"), 10000000L)
    replicate("orders", Seq("o_orderkey"), 10000000L)
    // documents/embeddings replicate with shifted ids: every doc gains 9
    // exact duplicates (realistic dedup load — near-dup candidates grow
    // 45× per cluster) and the 10× embedding corpus pushes q51's
    // adaptive LSH past its 8-bit floor (20k vectors → 10 bucket bits)
    replicate("documents", Seq("doc_id"), 10000000L)
    replicate("embeddings", Seq("vec_id"), 10000000L)
    Seq("customer", "supplier", "part", "nation", "region", "events").foreach { t =>
      val d = Paths.get(s"$out/$t.parquet")
      if (Files.exists(d)) Files.walk(d).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      Files.createDirectories(d.getParent)
      // parquet "file" in testdata is a single file, not a dir
      Files.copy(Paths.get(s"$src/$t.parquet"), d, StandardCopyOption.REPLACE_EXISTING)
    }

    val headline = Seq("q25_star_join", "q18_agg_sum", "q19_window_topk",
      "q16_topk", "q11_left_join", "q13_distinct_count", "q55_band_range_join",
      "q40_dedup_exact", "q42_minhash_lsh_pairs", "q51_ann_lsh_topk",
      "q81_stratified_sample", "q83_length_trim",
      // round-5 training-pipeline ops: 10× duplicate clusters stress the
      // passage/bloom paths, the packing prefix-scan, and both sketches
      "q86_bloom_decontaminate", "q87_passage_dedup", "q88_bigram_lm",
      "q89_pack_chunks", "q90_cms_freq", "q91_bottomk_sample",
      // round-5 curation ops: redaction/sampling/PMI/CDC are narrow maps
      // plus token-key shuffles — they must stay linear under 10×
      "q93_pii_redact", "q94_weighted_sample", "q95_pmi_bigrams",
      "q96_zipf_spectrum", "q97_cdc_chunks", "q98_cohort_retention",
      "q99_quantize_embed",
      // round-6 index/tokenizer ops: pair counting and the inverted
      // index are token-key shuffles; novelty re-walks the 10× shingle
      // relation; the salted join must hold its spread under 10× facts
      "q100_bpe_pairs", "q101_inverted_index", "q102_ngram_novelty",
      "q103_norm_dedup", "q104_dim_stats", "q105_salted_join",
      // the funnel is a narrow map; DSIR and the outlier audit re-walk
      // the exploded token/coordinate space twice — linearity matters
      "q106_embedding_outliers", "q107_filter_funnel", "q108_dsir_weights",
      // PQ codebooks retrain on the 10× corpus; survivor election rides
      // the 45×-denser near-dup graph through the same label propagation
      "q109_pq_topk", "q110_dedup_survivors",
      "q111_lang_confusion", "q112_dup_rate_by_source",
      "q113_temperature_mix", "q114_split_leakage", "q115_length_histogram",
      // round-7 accounting/audit ops: the yield table and provenance
      // rollup ride the 45×-denser near-dup graph; boilerplate and
      // head-dedup are passage/prefix-key shuffles; containment fans
      // out per shingle by source count; entropy/MAD/shard are
      // token-key shuffles and per-source windows
      "q116_net_token_yield", "q117_token_entropy",
      "q118_boilerplate_share", "q119_shard_manifest",
      "q120_source_containment", "q121_length_mad", "q122_head_dedup",
      "q123_lexical_semantic_pairs", "q124_label_cohesion",
      "q125_dup_provenance",
      // the ingest gate joins the 10× increment against 10× standing
      // digests/bands; the sweep re-scans the 45×-denser pair set
      "q126_incremental_dedup", "q127_threshold_sweep",
      // KL rides token-key groupBys; dup-depth re-shingles at 4 widths
      // over the 10-deep duplicate corpus
      "q128_source_kl", "q129_dup_depth",
      // calibration/coverage/recency audits: CCNet bucketing re-scores
      // the 10× corpus through the bigram LM; OOV builds its top-1024
      // vocab in-plan over 10× tokens; decay scans events (copied 1×)
      "q130_ccnet_buckets", "q131_vocab_oov", "q132_decay_weights",
      // round-6 additions: IVF-PQ trains on a sample capped at 256
      // rows per centroid, so only its one encode pass grows with the
      // 10× corpus; the BPE trainer's working set is
      // the distinct-word table, which replication leaves UNCHANGED —
      // only the one corpus scan grows; exact-substring rides 45×
      // more same-family pairs whose runs span whole docs
      "q133_ivfpq_topk", "q134_bpe_train", "q135_exact_substring",
      // the encoder joins the UNCHANGED vocab table against 10× tokens;
      // the yield accountant explodes only covered positions
      "q136_bpe_encode", "q137_substring_yield",
      // winnowing posts ~2/(w+1)-density prints per doc (windows stay
      // per-doc); packing's prefix sum is the grouped two-pass — both
      // must stay linear as the 10× corpus replicates dup families
      "q39_winnow_fingerprints", "q77_seq_packing",
      // the learned quality filter is fit-bound: per-row featurization
      // + LBFGS gradient partials, linear in training rows
      "q138_quality_classifier",
      // round-7 additions: q139 reads the index q133 built (memoized —
      // the build-once-serve-many posture) but its exhaustive probe scans
      // every cell's codes; q140's (cell, bucket) blocking must keep the
      // within-cell join candidate-linear under 10× duplicate density;
      // BM25 is two token-key shuffles + broadcast stats
      "q139_ivfpq_exact", "q140_semdedup", "q141_bm25_topk",
      // pair-graph PageRank: 8 edge-joins over the pinned pair kernel —
      // edge volume is dup-density-scale, 45x denser under replication
      "q142_pair_pagerank",
      // compression audit: one deflate pass per doc, narrow map + a
      // ~20-key rollup — must stay byte-linear
      "q143_compression_quality",
      // Gopher battery: pure per-row string/array ops, zero shuffle —
      // the stress row only proves the narrow map stays row-linear
      "q144_gopher_rules",
      // duplicate-n-gram rules: three token-key explode+count passes —
      // gram volume is token-linear, and the 10x dup corpus leaves
      // per-doc gram distributions unchanged
      "q145_ngram_repetition",
      // round-8 additions: triangles ride the 45×-denser pair graph
      // through two endpoint-keyed joins (wedge volume, not corpus);
      // the recall calibration's exact arm is 10 broadcast queries ×
      // the 10× corpus (linear) and its LSH/IVF arms prune to
      // buckets/cells; the Morton audit and variance spectrum are
      // narrow integer/moment passes with constant-size rollups; the
      // silhouette is the 10× corpus × k centroid-distance table
      "q146_pair_triangles", "q147_ann_recall", "q148_zorder_layout",
      "q149_cell_silhouette", "q150_dim_variance",
      // real-codec multimodal: encode+decode are narrow per-row codec
      // work (must stay byte-linear under 10× docs); q154 adds one
      // fingerprint groupBy whose family count scales with dup density;
      // q155's corpus side is pruned to the fixed 25-vector sample by
      // pushdown, so its row proves the audit cost is scale-INVARIANT
      "q152_image_codec", "q153_audio_codec", "q154_cross_format_dup",
      "q155_rand_projection",
      // round-9 additions: the exact profiler pays one value shuffle
      // per column (its 10× row is the cost q158's single-scan sketch
      // form exists to remove — record them side by side); hybrid RRF
      // is token-key shuffles + a broadcast dense arm over ≤10-row
      // fusion lists; nDCG is the q50 broadcast-query shape + a
      // label-key rollup; the perceptual near-dup rides one codec pass
      // into band-key shuffles whose candidate volume scales with dup
      // density (45× denser families), like q42 in image space
      "q151_data_profile", "q156_hybrid_rrf", "q157_ann_ndcg",
      "q158_profile_approx", "q159_phash_neardup",
      // round-9 second wave: q160/q161 ride the codec pass (row-linear,
      // no shuffle before the final sort); q162 is one digest-key
      // full-outer join; q163 a two-level rollup; q164's candidate
      // volume tracks dup density via rare-shingle prefixes; q165 is
      // block-pair-linear; q166 one grouped sketch pass; q167
      // interval-bucket equi-join
      "q160_image_thumbs", "q161_audio_energy", "q162_snapshot_diff",
      "q163_psi_drift", "q164_setsim_prefix", "q165_fuzzy_tail_dedup",
      "q166_quantile_sketch", "q167_incident_join",
      // wave 3: q168 rides per-user windows (partition-local); q169's
      // exact all-pairs is the documented oracle baseline (the q41
      // stance — its 10x row prices the screen-then-price contract);
      // q170 is three in-scan predicates + one broadcast semi-join
      "q168_scd2_tiers", "q169_containment_dedup", "q170_purge_cascade",
      // round-9 third wave: the native as-of merge must stay
      // O(n_l+n_r) per partition under 10× events (events copy 1×, so
      // its row prices protocol overhead, not growth); UniMax's corpus
      // work is one token-count agg; time travel re-commits 10× orders
      // into 3 segments and reads each snapshot back; pruning rides
      // the 10× centroid-score pass through per-label windows; the
      // approx rewrite's row prices the HLL plan vs q13's exact
      "q171_asof_native", "q172_unimax_mix", "q173_time_travel",
      "q174_difficulty_prune", "q175_approx_autorewrite",
      // snapshot lifecycle: CDC reads only the delta segments (2 of 3
      // under 10x); compaction rewrites the 10x snapshot once; the
      // skyline's (bucket, tok)-key aggregates ride the corpus scan
      "q176_snapshot_changes", "q177_snapshot_compact",
      "q178_pareto_frontier",
      // round-10 additions: the composed screen-then-price containment
      // path must keep candidate volume dup-density-scale (45× denser
      // dup families) while pricing stays candidate-linear — the scale
      // contract q169's all-pairs oracle arm cannot demonstrate; the
      // forward/nearest as-of directions ride the same one-pass merge
      // as q171 (events copies 1×, so their rows price the fixed merge
      // protocol, not growth)
      "q179_containment_screened", "q180_asof_forward",
      "q181_asof_nearest",
      // round-10 continuation: the epoch shuffle is two bounded
      // RangeRank shuffles over the doubled corpus (never a per-shard
      // window sort); the kNN-graph consumers ride the adaptive LSH —
      // 10× vectors push bucket bits 8→12, so candidate volume stays
      // ~32·n and the graph self-joins shuffle 3·n pairs; soft-dedup
      // yield rides the 45×-denser pair graph through the same label
      // propagation as q92 plus one dup-density-sized join
      "q182_epoch_shuffle", "q183_mutual_knn", "q184_knn_label_audit",
      "q185_soft_dedup_yield",
      // the evolution audit re-commits 10× orders into two segments
      // (write-volume-linear, manifest-priced reads); the incremental
      // refresh's touched-bucket volume tracks the increment split,
      // and 10× vectors push the bucketer 8→12 bits so per-bucket
      // candidate volume stays ~32
      "q186_schema_evolution", "q187_incremental_knn",
      // the budget selection's two-pass prefix scan must stay bucket-
      // parallel under 10× docs; the CDC dedup reads only the delta
      // segment and its digest semi-join ships 16-byte keys
      "q188_budget_curriculum", "q189_cdc_dedup",
      // three narrow passes + 1-row aggregates: must stay row-linear
      "q190_padding_efficiency",
      // the q50 broadcast-query shape with two rank windows: linear in
      // the corpus, constant in the query set
      "q191_matryoshka_audit",
      // round-12 additions: delete/merge cost is touched-segments +
      // src under 10× orders (discovery stays one pruned scan); vacuum
      // is driver metadata + fs deletes after the same delete+compact
      "q192_snapshot_delete", "q193_snapshot_merge", "q194_snapshot_vacuum",
      // cross-set anchor join: eval side is a fixed 1/20 slice, so
      // candidate volume is eval-anchor-linear × the df-capped train
      // posting density — strictly cheaper than q135's self-join
      "q195_eval_decontaminate",
      // wrap+extract is a narrow per-row regex cascade (byte-linear,
      // zero shuffle before the verdict rollup); DoReMi re-runs the
      // q88 LM scoring (two token-key groupBys) + k-row algebra
      "q196_html_extract", "q197_doremi_weights",
      // EM rounds run on the distinct-word table, which replication
      // leaves UNCHANGED (the q134 argument) — only the one corpus
      // word-count scan grows under 10×; the encoder streams 10×
      // tokens against that unchanged table (the q136 shape)
      "q198_unigram_lm_train", "q199_unigram_encode",
      // round-13 additions: the replay audit's events copy 1× (its row
      // prices the 5-delivery protocol); the clustered-recall corpus
      // synthesizes 10× in-plan and its exact arm is 10 broadcast
      // queries × one corpus pass (the q147 shape); the retry race
      // writes 10× orders across 6 racing segments (write-volume-
      // linear, publish retries are manifest-sized); the delta-layout
      // audit commits 8 × 10× slices — write-linear while the MANIFEST
      // lines stay O(delta) whatever the data volume (the feature's
      // whole point); the segmentation export is the vocab-sized
      // trainer table (replication-UNCHANGED); deflate sizes are one
      // byte-linear codec pass
      "q200_stream_replay_audit", "q201_ann_recall_clustered",
      "q202_commit_retry_audit", "q203_manifest_compaction",
      "q204_unigram_segmentation", "q205_deflate_sizes",
      // the clustering rewrite is ONE 10× data pass + per-bucket dir
      // moves + 4 stat scans (write-volume-linear, the compact shape);
      // the bucketed join pays its clustering shuffle at ingest
      // (write-linear) and the join itself plans zero exchanges
      "q206_snapshot_optimize", "q207_bucketed_join",
      // per-segment sidecar stats are one extra min/max column scan per
      // written segment; the audit's pre/post scans ride the pruning
      "q208_multidim_prune",
      // round-14: the merge-on-read delete's commit cost is one pruned
      // 10× scan + a DELETE-SIZED tombstone write — NO touched-segment
      // rewrite (q192's CoW row beside it prices exactly that rewrite,
      // so the pair is the small-delete-economy evidence at 10×); the
      // trailing compact rewrites once, the same write-linear shape as
      // q177
      "q209_snapshot_delete_mor",
      // the WordPiece trainer/matcher run on the distinct-word table,
      // which replication leaves UNCHANGED (the q134/q198 argument) —
      // only the word-count scan and the encode rollup see 10× tokens
      "q211_wordpiece_train", "q212_wordpiece_encode",
      // the evolution audit re-commits 10× orders into four slices +
      // one clustering rewrite — write-volume-linear (the q206 shape);
      // the evolution itself is a driver-side config append
      "q213_stats_evolution",
      // graph construction rides the adaptive-LSH kNN kernel (10×
      // vectors push bucket bits 8→12, candidates stay ~32·n); the
      // WALK's per-query cost is entries + hops·beam·degree —
      // corpus-size-INDEPENDENT, the row that proves it; the exact
      // recall arm is the one q50-shaped corpus pass
      "q210_graph_ann_recall",
      // MoR merge commit cost is src + matched-rows (q193's CoW row
      // beside it prices the touched-segment rewrite it avoids); the
      // trailing compact is the one write-linear rewrite
      "q216_snapshot_merge_mor",
      // round-15: the streaming source's per-trigger cost is the
      // CHANGE volume (manifest walks + delta-segment scans), and the
      // incremental optimize's is the SELECTED bytes — at 10× the
      // q218 row rewrites the same small post-1999 slice while the
      // big segments (90%+ of the table) carry by reference; compare
      // against q206's full-rewrite row beside it. q220's health scan
      // projects only _metadata.file_path — metadata-linear.
      "q217_stream_source_audit", "q218_incremental_optimize",
      "q219_incremental_knn_cdc", "q220_segment_health",
      // IVM refresh cost = change volume + affected groups' source
      // rows; at 10× each refresh touches the same month cohorts with
      // 10× the rows — write-volume-linear, never view- or table-sized
      "q221_incremental_view",
      // restore cost ∝ the churned files (the bad write's rewrite +
      // the originals it replaced), never the table — at 10× the CoW
      // purge touches every segment, so this row prices the worst case
      "q222_snapshot_restore",
      // round-16: UPDATE commit cost — CoW ∝ touched segments, MoR ∝
      // matched rows (the q223 row runs both + a compact); clone cost
      // is O(files) link calls — the q224 row's wall time is dominated
      // by building its source log, the clone itself is metadata (the
      // --merge-prune flag isolates both claims)
      "q223_snapshot_update", "q224_snapshot_clone",
      // keyed CDC apply: four incremental batches, each ∝ its change
      // volume + matched replica rows — never either table's size
      "q226_cdc_apply",
      // history is a driver-side metadata walk (sidecar row counts,
      // no data scan); the constraint row's cost is the same one-pass
      // stat aggregate every write already pays
      "q227_snapshot_history", "q228_check_constraints",
      // composite-key merge: same per-flavor economy, keys now a
      // multi-column semi-join (10x lineitem = the real fact table)
      "q229_composite_merge",
      // rename is a metadata flip: cost = the lifecycle's normal
      // append/merge bill, the rename commit itself is O(manifest)
      "q230_column_rename",
      // declared-spec optimize: one clustering rewrite of the snapshot
      // (the policy path must price like the explicit-dims path)
      "q231_declared_clustering",
      // cross-arm tuning table: the graph grid re-walks ONE memoized
      // adjacency (query-scale), the IVF cost table is a kCells-row
      // collect — the 10x bill is the adjacency/index builds the
      // shared memos already price, never a new corpus pass
      "q232_ann_arm_autotune",
      // multi-table txn: the protocol is three tiny atomic metadata
      // publishes at ANY table size; the 10x bill is the staged
      // appends' ordinary write volume
      "q233_multi_table_txn",
      // transactional move: cost = matched-row bytes (tombstone +
      // readback append) + the txn protocol's metadata publishes —
      // never source-table bytes
      "q234_txn_move",
      // bloom discovery: the probe aggregate is src-keys x candidate
      // blooms (map-side codegen); the 10x bill is the three appends'
      // ordinary write + stat-pass volume
      "q235_bloom_discovery",
      // consistent pin: two version listings per table at any size;
      // the 10x bill is the lifecycle's ordinary append volume
      "q236_consistent_pin",
      // point lookup: the serving read opens bloom-admitted segments
      // only; the 10x bill is the log build's write + stat volume
      "q237_point_lookup",
      // transactional apply: per batch the extra cost over the plain
      // apply is a metadata bookmark append + intent publishes; apply
      // cost stays change volume + matched replica rows
      "q238_txn_cdc_apply",
      // tuple bloom: composite-key discovery opens only tuple-admitted
      // segments; the 10x bill is the three appends' write/stat volume
      "q239_tuple_bloom")
    // a misspelled tail name would otherwise filter to an empty run
    // that exits 0 looking like clean evidence
    val unknown = only.diff(headline.toSet)
    require(unknown.isEmpty,
      s"unknown ScaleStress queries: ${unknown.mkString(",")}")

    // --opt-compare: the round-15 cost∝selected-bytes proof, isolated
    // from fixture builds — two IDENTICAL 10x orders logs (two big
    // date segments, two small post-1999 segments, a MoR delete
    // tombstoning only the small pair), then time (a) the FULL
    // clustering rewrite vs (b) the incremental rewrite of just the
    // selected pair. The ratio is the claim: maintenance pays for
    // what it fixes, not for the table.
    if (flagArgs.contains("--opt-compare")) {
      import graft.ext.SnapshotLog
      val o = Tables.load(spark, out, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice"))
      val ts = unix_timestamp(col("o_orderdate"))
      // the small pair is the post-2001 tail (~8% of rows) — the
      // realistic shape: a long-lived table whose recent ingest is
      // fragmented and tombstoned while history is clean
      val c1 = lit("1997-01-01").cast("timestamp")
      val c2 = lit("2001-01-01").cast("timestamp")
      def build(dir: String): Int = {
        SnapshotLog.reset(dir, checkpointInterval = 3)
        SnapshotLog.append(o.filter(col("o_orderdate") < c1), dir, ts)
        SnapshotLog.append(
          o.filter(col("o_orderdate") >= c1 && col("o_orderdate") < c2),
          dir, ts)
        SnapshotLog.append(o.filter(col("o_orderdate") >= c2 &&
          pmod(col("o_orderkey"), lit(2L)) === 0), dir, ts)
        SnapshotLog.append(o.filter(col("o_orderdate") >= c2 &&
          pmod(col("o_orderkey"), lit(2L)) === 1), dir, ts)
        SnapshotLog.deleteMor(spark, dir,
          col("o_orderdate") >= c2 && pmod(col("o_custkey"), lit(7L)) === 3)
      }
      val dims = Seq(col("o_custkey"), ts / 86400L)
      val full = s"$out/optlog-full"; val inc = s"$out/optlog-inc"
      build(full); build(inc)
      val t0 = System.nanoTime()
      SnapshotLog.optimize(spark, full, ts, dims, bucketBits = 2)
      println(f"SCALE optimize_full_rewrite ${(System.nanoTime() - t0) / 1e9}%.2f")
      val t1 = System.nanoTime()
      SnapshotLog.optimizeIncremental(spark, inc, ts, dims, bucketBits = 2,
        smallBytes = 1L, minTombstoneRatio = 1e-9)
      println(f"SCALE optimize_selected_only ${(System.nanoTime() - t1) / 1e9}%.2f")
      val nFull = SnapshotLog.readAsOf(spark, full,
        SnapshotLog.version(full)).count()
      val nInc = SnapshotLog.readAsOf(spark, inc,
        SnapshotLog.version(inc)).count()
      require(nFull == nInc,
        s"full vs incremental content diverged: $nFull vs $nInc")
      println(s"SCALE optimize_content_rows $nFull")
    }
    // --merge-prune: the round-16 discovery-cost∝touched-segments
    // proof — two IDENTICAL 10x orders logs, key-clustered into four
    // orderkey-range segments, ONE with a recorded key stat and one
    // without; the same single-slice keyed merge runs against both.
    // The stats log's discovery opens only the overlapping segment
    // (mergeCandidateSegs prints the count); the stat-less log pays
    // the full scan — the delta is the pruning win, isolated from
    // rewrite cost (identical on both sides). Plus the clone-cost
    // claim: cloning the 10x log is timed alone — O(files) link
    // calls, no data bytes.
    // --bloom-prune: the round-17 point-key claim isolated from the
    // fixture builds — a scattered-key layout (4 residue-interleaved
    // segments whose [min, max] key ranges are identical) where RANGE
    // stats cannot prune anything, so plain discovery opens all 4
    // segments; the bloom arm must open exactly 1. Fresh logs per rep,
    // full arm first (the --merge-prune block's JIT/page-cache rule).
    if (flagArgs.contains("--bloom-prune")) {
      import graft.ext.SnapshotLog
      val o = Tables.load(spark, out, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      val ts = unix_timestamp(col("o_orderdate"))
      def buildB(dir: String, withBloom: Boolean): Unit = {
        SnapshotLog.reset(dir, checkpointInterval = 8,
          statsCols = Seq("ok" -> "o_orderkey"))
        if (withBloom)
          SnapshotLog.setBloomOn(dir, "ok", expectedItems = 1L << 19,
            fpp = 1e-8)
        (0L until 4L).foreach { r =>
          SnapshotLog.append(
            o.filter(pmod(col("o_orderkey"), lit(4L)) === r), dir, ts)
        }
      }
      // every 40th EXISTING key — 40 is a multiple of 4, so the src
      // cohort lives entirely in the residue-1 segment (the replicated
      // fixture's key-gap rule: sample existing keys, never arithmetic
      // windows)
      val srcB = o.filter(pmod(col("o_orderkey"), lit(40L)) === 1L)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      def timeArmB(withBloom: Boolean): (Double, String) = {
        val arm = if (withBloom) "bloom" else "plain"
        val times = (1 to 2).map { i =>
          val dir = s"$out/bloomlog-$arm-$i"
          buildB(dir, withBloom)
          val t = System.nanoTime()
          SnapshotLog.mergeMor(spark, srcB, dir, "o_orderkey", ts)
          (System.nanoTime() - t) / 1e9
        }
        (times.min, s"$out/bloomlog-$arm-2")
      }
      val (tPlain, plainDir) = timeArmB(withBloom = false)
      val (tBloom, bloomDir) = timeArmB(withBloom = true)
      // the skip decision itself, on a pre-merge twin of the bloom log
      val probeB = s"$out/bloomlog-probe"
      buildB(probeB, withBloom = true)
      val nCand = SnapshotLog.mergeCandidateSegs(spark, probeB, 3,
        "o_orderkey", srcB).size
      println(s"SCALE bloom_discovery_candidates $nCand of 4")
      // the rows below are only evidence if the skip actually happened
      require(nCand == 1, s"expected 1 bloom-admitted segment, got $nCand")
      println(f"SCALE merge_mor_bloom_discovery $tBloom%.2f")
      println(f"SCALE merge_mor_scattered_full $tPlain%.2f")
      val nB = SnapshotLog.readAsOf(spark, bloomDir,
        SnapshotLog.version(bloomDir)).count()
      val nPl = SnapshotLog.readAsOf(spark, plainDir,
        SnapshotLog.version(plainDir)).count()
      require(nB == nPl, s"bloom vs plain merge diverged: $nB vs $nPl")
      println(s"SCALE bloom_content_rows $nB")
      // the READ-side win, isolated from write rent: a point fetch of
      // the src cohort on the pre-merge probe twin (1 admitted
      // segment) vs the plain log (keys semi-join over all 4) —
      // min-of-2, plain first
      val probeKeys = srcB.select("o_orderkey")
      def timeLookup(dir: String): Double =
        (1 to 2).map { _ =>
          val t = System.nanoTime()
          val (hits, _, _) = SnapshotLog.readAsOfKeys(spark, dir, 3,
            Seq("o_orderkey"), probeKeys)
          hits.count()
          (System.nanoTime() - t) / 1e9
        }.min
      val tLkPlain = timeLookup(s"$out/bloomlog-plain-1")
      val tLkBloom = timeLookup(probeB)
      println(f"SCALE point_lookup_bloom $tLkBloom%.2f")
      println(f"SCALE point_lookup_scattered_full $tLkPlain%.2f")
    }

    if (flagArgs.contains("--merge-prune")) {
      import graft.ext.SnapshotLog
      val o = Tables.load(spark, out, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice"))
      val ts = unix_timestamp(col("o_orderdate"))
      val bounds = o.agg(min(col("o_orderkey")).as("mn"),
        max(col("o_orderkey")).as("mx")).head()
      val (kLo, kHi) = (bounds.getLong(0), bounds.getLong(1))
      val span = (kHi - kLo) / 4 + 1
      def build(dir: String, withStat: Boolean): Unit = {
        SnapshotLog.reset(dir, checkpointInterval = 8,
          statsCols = if (withStat) Seq("ok" -> "o_orderkey") else Nil)
        (0L until 4L).foreach { i =>
          SnapshotLog.append(o.filter(
            col("o_orderkey") >= kLo + i * span &&
              col("o_orderkey") < kLo + (i + 1) * span), dir, ts)
        }
      }
      // src touches only the second key slice — every 10th EXISTING
      // key of it (a range-arithmetic window can fall into the
      // replicated fixture's key gaps and silently merge nothing)
      val src = o.filter(col("o_orderkey") >= kLo + span &&
          col("o_orderkey") < kLo + 2 * span &&
          pmod(col("o_orderkey"), lit(10L)) === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      // min-of-2 per arm on FRESH logs (a merge mutates its log), full
      // arm first so the pruned arm never absorbs JIT/page-cache
      // warm-up — the first cut of this block timed pruned first and
      // read slower-than-full on pure cold-start
      def timeArm(withStat: Boolean): (Double, String) = {
        val arm = if (withStat) "stat" else "plain"
        val times = (1 to 2).map { i =>
          val dir = s"$out/mergelog-$arm-$i"
          build(dir, withStat)
          val t = System.nanoTime()
          SnapshotLog.mergeMor(spark, src, dir, "o_orderkey", ts)
          (System.nanoTime() - t) / 1e9
        }
        (times.min, s"$out/mergelog-$arm-2")
      }
      val (tFull, fullDir) = timeArm(withStat = false)
      val (tPruned, prunedDir) = timeArm(withStat = true)
      // the skip decision itself, on a pre-merge twin of the stat log
      val probe = s"$out/mergelog-probe"
      build(probe, withStat = true)
      val nCand = SnapshotLog.mergeCandidateSegs(spark, probe, 3,
        "o_orderkey", src).size
      println(s"SCALE merge_discovery_candidates $nCand of 4")
      // the rows below are only evidence if the skip actually happened
      require(nCand == 1, s"expected 1 candidate segment, got $nCand")
      println(f"SCALE merge_mor_pruned_discovery $tPruned%.2f")
      println(f"SCALE merge_mor_full_discovery $tFull%.2f")
      val nP = SnapshotLog.readAsOf(spark, prunedDir,
        SnapshotLog.version(prunedDir)).count()
      val nF = SnapshotLog.readAsOf(spark, fullDir,
        SnapshotLog.version(fullDir)).count()
      require(nP == nF, s"pruned vs full merge diverged: $nP vs $nF")
      println(s"SCALE merge_content_rows $nP")
      val pruned = prunedDir
      // clone the 4-segment 10x log: wall time is link calls only
      // (clone refuses a non-empty target — wipe a prior run's dir)
      val cloneDir = Paths.get(s"$out/mergelog-clone")
      if (Files.exists(cloneDir))
        Files.walk(cloneDir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
      val t2 = System.nanoTime()
      SnapshotLog.cloneShallow(pruned, cloneDir.toString)
      println(f"SCALE clone_shallow_10x ${(System.nanoTime() - t2) / 1e9}%.2f")
    }
    // warm-up
    spark.range(1000000).selectExpr("id % 7 as k").groupBy("k").count()
      .write.format("noop").mode("overwrite").save()
    if (useStore) {
      // build the disk-backed pair kernel once (timed as its own row);
      // every shingle consumer below then reads the bucketed table
      val t0 = System.nanoTime()
      graft.ext.ShingleStore.materialize(
        Tables.load(spark, out, "documents"), "shingles_scale", buckets = 32)
      graft.queries.TextOps.installShingleStore(
        graft.ext.ShingleStore.load(spark, "shingles_scale"),
        corpus = Tables.load(spark, out, "documents"))
      println(f"SCALE shingle_store_build ${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    val rows = spark.read.parquet(s"$out/lineitem.parquet").count()
    println(s"SCALE lineitem_rows $rows")
    headline.filter(q => only.isEmpty || only(q)).foreach { q =>
      val t0 = System.nanoTime()
      Registry.byName(q).fn(spark, out).write.format("noop").mode("overwrite").save()
      println(f"SCALE $q ${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    spark.stop()
  }
}
