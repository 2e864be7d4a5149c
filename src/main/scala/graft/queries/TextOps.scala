package graft.queries

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import graft.ext.{Quantizer, TopK}
import graft.{GraftQuery, Observed, Tables}
import graft.Fns._

/** LLM-training-data text pipeline: deduplication (exact, fingerprint,
  * n-gram Jaccard, MinHash-LSH, SimHash), quality scoring, language
  * ID, and token statistics over the `documents` fixture.
  *
  * Scale design (the part that matters at 100 TB):
  *  - exact/fingerprint dedup are hash→groupBy — embarrassingly
  *    parallel, shuffle only the 16-byte digest + key;
  *  - near-dup candidate generation is banded MinHash-LSH
  *    (groupBy band signature, compare only within buckets) — NEVER an
  *    all-pairs self-join. The all-pairs inverted-index variant
  *    (q41) exists as the small-SF oracle twin and recall baseline;
  *  - everything is built from codegen'd native functions; the only
  *    per-row heavy op is md5 over short shingles.
  */
object TextOps {
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Exact-Jaccard threshold used by both the all-pairs oracle variant
    * and the LSH verify step; sits in the fixture's similarity gap
    * (planted near-dups are >=0.9, background noise <=0.1).
    */
  private val JaccardThreshold = 0.5

  /** DuckDB twin of the near-dup connected-components labeling (the
    * q41 pair graph → recursive closure → min-id cluster label),
    * ending in lbl(doc_id, cluster_id) over every doc that has at
    * least one near-dup edge. Shared by q92 and q185 so the oracle
    * cluster semantics cannot drift between the hard- and soft-dedup
    * consumers.
    */
  private val ccLabelCteSql: String =
    "tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s " +
      "FROM tok, UNNEST(range(1, len(toks)-1)) t(i) WHERE len(toks) >= 3), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c " +
      "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY da, db), " +
      "pr AS (SELECT da, db FROM inter " +
      "JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id " +
      s"WHERE round(c*1.0/(sa.n + sb.n - c), 6) >= $JaccardThreshold), " +
      "edges AS (SELECT da AS a, db AS b FROM pr UNION SELECT db, da FROM pr), " +
      "nodes AS (SELECT DISTINCT a AS v FROM edges), " +
      "r AS (WITH RECURSIVE rr(a, b) AS (SELECT a, b FROM edges " +
      "UNION SELECT rr.a, e.b FROM rr JOIN edges e ON rr.b = e.a) " +
      "SELECT * FROM rr), " +
      "lbl AS (SELECT v AS doc_id, least(v, min(b)) AS cluster_id " +
      "FROM nodes LEFT JOIN r ON r.a = v GROUP BY v)"

  /** Distinct 3-gram word shingles per doc, pre-hashed to 64-bit keys:
    * (doc_id, sk). Joining/shuffling on an 8-byte long instead of the
    * ~20-byte shingle string roughly halves shuffle width; a cross-doc
    * xxhash64 collision would need ~2^32 distinct shingles per doc
    * pair to matter (birthday bound), so counts are exact in practice.
    */
  private[graft] def shingleSet(docs: DataFrame): DataFrame =
    // tokens materialize in their OWN projection: inlining toks() into
    // the shingle transform embeds split(text) in the lambda body,
    // which interpreted HOF eval re-runs per element — O(tokens²)/doc
    docs.select(col("doc_id"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("tk"), 3))).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("sk"))

  /** shingleSet, persisted: both q41 and q42 consume the shingle rows
    * from 2–3 places (signature agg / size agg / verify joins), and
    * tokenize+shingle+hash is the CPU-dominant subtree — recomputing
    * it per consumer tripled query time at sf0.1. MEMORY_AND_DISK so a
    * big corpus spills instead of OOMing; Spark's CacheManager dedupes
    * by canonicalized plan, so repeated builds (bench reruns, q41+q42
    * in one session) share one cache entry instead of accumulating.
    * At 100 TB the same role is played by materializing the shingle
    * table once (parquet, bucketed by doc_id) ahead of the dedup pass.
    */
  private val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]

  private def cachedShingles(docs: DataFrame): DataFrame =
    shingleStore match {
      // the store substitutes ONLY for the corpus it was materialized
      // from (canonicalized-plan match — the CacheManager identity
      // rule): a facade caller handing a DIFFERENT frame (q185's
      // softDedupYield on a caller corpus, containmentDedup on an ad
      // hoc slice) computes its own shingles instead of silently
      // reading the installed corpus's — cluster weights from one
      // corpus against token counts from another was a wrong-answer
      // path, not a perf trade
      case Some((store, corpusPlan))
          if docs.queryExecution.analyzed.sameResult(corpusPlan) =>
        store
      case _ => pin(shingleSet(docs))
    }

  /** Snapshot-diff kernel shared by q162 and `GraftEngine.snapshotDiff`
    * (the funnelVerdict sharing rule — query and facade can't drift):
    * two snapshots of ANY keyed corpus compare by scan-side content
    * digest, so the single full-outer hash join exchanges 16-byte
    * digests, never payloads. Returns only the (key, status) rows a
    * consumer acts on — added / removed / changed; at 100 TB with both
    * snapshots bucketed on the key this is a zero-shuffle sort-merge.
    */
  def snapshotDiff(snapA: DataFrame, snapB: DataFrame,
      keyCol: String, contentCol: String): DataFrame = {
    val a = snapA.select(col(keyCol), md5(col(contentCol).cast("string")).as("__ha"))
    val b = snapB.select(col(keyCol), md5(col(contentCol).cast("string")).as("__hb"))
    a.join(b, Seq(keyCol), "full_outer")
      .withColumn("status",
        when(col("__hb").isNull, "removed")
          .when(col("__ha").isNull, "added")
          .when(col("__ha") =!= col("__hb"), "changed")
          .otherwise("unchanged"))
      .filter(col("status") =!= "unchanged")
      .select(col(keyCol), col("status"))
  }

  /** Disk-backed swap for the in-session shingle cache — the 100 TB
    * posture `cachedShingles`' scaladoc documents, wired end-to-end:
    * when installed (ScaleStress --shingle-store; a production corpus
    * snapshot), every pair-kernel consumer OF THAT CORPUS reads the
    * bucketed ShingleStore relation instead of recomputing +
    * persisting the tokenize/shingle/hash subtree, and doc_id-keyed
    * sides of the verify joins arrive pre-partitioned. The install
    * records the corpus frame the store was materialized from, and
    * `cachedShingles` substitutes only on a canonicalized-plan match —
    * a session mixing corpora (facade calls on caller frames beside
    * the registered fixture queries) gets fresh shingles for the
    * other frames instead of silently wrong cross-corpus answers
    * (ShingleStoreSpec pins value-equality of the swapped kernel on
    * q110/q127 and the mismatch bypass).
    */
  @volatile private var shingleStore
      : Option[(DataFrame, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = None
  def installShingleStore(df: DataFrame, corpus: DataFrame): Unit = {
    shingleStore = Some((df, corpus.queryExecution.analyzed))
  }
  def clearShingleStore(): Unit = { shingleStore = None }

  /** Persist a frame for reuse across jobs within one query build and
    * register it for `releaseCaches()` — shared by the shingle cache
    * and q92's label-propagation iterates.
    */
  private def pin(df: DataFrame): DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pinned.synchronized { pinned += df }
    df
  }

  /** Unpins every shingle relation persisted by q41/q42 plan builds.
    * Bench/Verify call this after the query sweep so a long-lived
    * session doesn't accumulate one pinned MEMORY_AND_DISK entry per
    * data dir it ever touched. (At 100 TB the cache is replaced by a
    * one-time bucketed-parquet materialization — see cachedShingles
    * scaladoc — so this lifecycle concern is local-session only.)
    */
  def releaseCaches(): Unit = {
    pinned.synchronized {
      pinned.foreach(df => df.unpersist(blocking = false))
      pinned.clear()
    }
    bpeMemo.clear()
    wordpieceMemo.clear()
    lexMemo.clear()
    // drain (not clear): the unigram memo holds localCheckpoint'ed
    // words blocks that GC would reclaim only eventually — unpersist
    // the checkpoint RDD explicitly (the 4th tuple element exists for
    // exactly this). drain() additionally can't miss a build racing
    // the release (the KeyedMemo contract).
    unigramMemo.drain().foreach { case (_, _, _, words) =>
      graft.GraftEngine.unpinCheckpoints(words)
    }
  }

  /** Explicit bench/session setup: build and MATERIALIZE the pinned
    * shingle+LSH pair kernel that the dedup/cluster/graph queries all
    * read. Without a named setup step, whichever consumer runs FIRST
    * in a sweep absorbs the one-time build into its timing row —
    * alphabetical bench order charged it to q142 while BASELINE.md's
    * accounting assigned it to q42 — so Bench calls this up front and
    * reports the build as its own line, making every per-query row
    * deterministically serving-only regardless of sweep order.
    * Idempotent: consumers hit the same CacheManager entries.
    */
  def warmPairKernel(s: SparkSession, d: String): Unit =
    lshPairs(s, cachedShingles(t(s, d, "documents")))
      .write.format("noop").mode("overwrite").save()

  /** Explicit setup for the trained-BPE memo shared by q134/q136 (and
    * GraftEngine callers): runs the 10-round trainer once — its eager
    * per-round localCheckpoints materialize all state at call time, so
    * nothing further needs forcing.
    */
  def warmBpe(s: SparkSession, d: String): Unit = {
    bpeLoop(s, d, rounds = 10); ()
  }

  /** Memoized lexical-retrieval statistics, keyed (session, dir): one
    * row per document with text (doc_id, toks: its distinct tokens),
    * the token document frequencies (tok, df) derived from it, and the
    * 1-row `n_docs`. A production hybrid-search deployment builds its
    * inverted-index statistics ONCE and serves every query from them
    * (the servedIndexes posture on the dense side); recomputing the
    * corpus tokenization per hybridTopK call priced the stats build
    * into every serving row. All three are pinned via `pin` (released
    * by releaseCaches) — the 1-row `n_docs` too, or every serve would
    * re-scan the documents table to count it. doc_id is the documents
    * table's key, so the token table needs no shuffle.
    */
  private val lexMemo =
    new graft.KeyedMemo[(SparkSession, String), (DataFrame, DataFrame, DataFrame)]

  def lexStats(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) =
    lexMemo.getOrBuild((s, d)) {
      val docs = t(s, d, "documents")
      val docToks = pin(docs.filter(col("text").isNotNull)
        .select(col("doc_id"), array_distinct(toks(col("text"))).as("toks")))
      val dfT = pin(docToks.select(explode(col("toks")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).cast("double").as("df")))
      val nDocs = pin(docs.agg(count(lit(1)).cast("double").as("n_docs")))
      (docToks, dfT, nDocs)
    }

  /** Explicit setup: materialize the memoized lexical stats so bench
    * rows for their consumers (q156, facade hybridTopK) are
    * serving-only and the build is its own accounted line.
    */
  def warmLexStats(s: SparkSession, d: String): Unit = {
    val (docToks, dfT, nDocs) = lexStats(s, d)
    Seq(docToks, dfT, nDocs).foreach(_.write.format("noop").mode("overwrite").save())
  }

  /** UniMax waterfill kernel shared by q172 and
    * `GraftEngine.unimaxMix` (the funnelVerdict sharing rule): input
    * is ANY (source, tokens) frame; output adds (cap, alloc, epochs)
    * under the epoch-capped uniform allocation — budget spread as
    * evenly as possible, no source asked for more than `epochCap`
    * passes of its own data. Exact closed form: sources sorted by
    * capacity ascending, the binding prefix takes its full cap, the
    * rest the water level θ = (budget − Σ binding caps)/(remaining).
    * All k-row work: one window over sources (O(k), never data — the
    * RangeRank rule) plus two broadcast 1-row aggregates. Requires
    * budget ≤ Σ caps (true for any budget ≤ the corpus itself) — a
    * budget beyond total capacity has no waterfill solution, and the
    * guard makes that FAIL LOUDLY in-plan (assert_true wired into the
    * binding-prefix probe, so no consumer can silently read the empty
    * frame the collapsed join would otherwise produce); integer
    * inputs make θ the same IEEE double everywhere.
    */
  private[graft] def unimaxAllocate(counts: DataFrame, epochCap: Int,
      budgetFromTotal: Column => Column): DataFrame = {
    // The k-row capacity table feeds FOUR consumers (total, window,
    // binding-prefix probe, final projection); left lazy, each one
    // re-derives the corpus-sized token count — 6 scans in the plan
    // dump. Eager localCheckpoint materializes the one corpus pass and
    // every consumer reads k checkpointed rows (the bpeLoop posture;
    // eager, so the allocation frame executes its input once at
    // construction).
    val caps = counts.withColumn("cap",
      col("tokens") * lit(epochCap.toLong)).localCheckpoint()
    val tot = caps.agg(
      budgetFromTotal(sum(col("tokens"))).as("budget"),
      count(lit(1)).as("k"),
      sum(col("cap")).as("cap_sum"))
    val w = Window.orderBy(col("cap"), col("source"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val th = caps
      .withColumn("rn", row_number().over(
        Window.orderBy(col("cap"), col("source"))))
      .withColumn("cum_prev", coalesce(sum(col("cap")).over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      // The precondition guard rides ON theta, which every downstream
      // consumer evaluates over the k ALWAYS-PRESENT capacity rows —
      // guarding the (nullable) rn_star instead is defeated by the
      // join's isnotnull pushdown, which drops the violating row
      // before any assert on it could evaluate, and an empty frame
      // evaluates nothing. assert_true is null when the budget fits,
      // so coalesce(+0.0) leaves the water level untouched.
      .withColumn("theta",
        (col("budget") - col("cum_prev")).cast("double") /
          (col("k") - col("rn") + 1) +
          coalesce(assert_true(col("budget") <= col("cap_sum"),
            lit("unimax: budget exceeds total capacity (epochCap x tokens)" +
              " - raise epochCap or lower the budget")).cast("double"),
            lit(0.0)))
    val star = th.filter(col("theta") <= col("cap"))
      .agg(min(col("rn")).as("rn_star"))
    val tstar = th.join(broadcast(star), col("rn") === col("rn_star"))
      .select(col("rn_star"), col("theta").as("theta_star"))
    th.crossJoin(broadcast(tstar))
      .select(col("source"), col("tokens"), col("cap"),
        round(when(col("rn") < col("rn_star"), col("cap").cast("double"))
          .otherwise(col("theta_star")), 4).as("alloc"))
      .withColumn("epochs", round(col("alloc") / col("tokens"), 6))
  }

  /** Explicit setup for q135/q137's pinned maximal-run table: the
    * anchor self-join that produces it is the expensive part of both
    * consumers, and under the interleaved-sweep protocol (caches
    * released between sweeps) it would otherwise be re-priced into
    * whichever query ran first each sweep. Named build line instead —
    * the warmPairKernel accounting rule.
    */
  def warmSubstringRuns(s: SparkSession, d: String): Unit =
    substringRuns(t(s, d, "documents"))
      .write.format("noop").mode("overwrite").save()

  /** The lexical retrieval arm shared by q156 and GraftEngine
    * .hybridTopK: score corpus docs against each query's distinct
    * tokens (`queries`: (q_id, tokens), one entry per q_id) by the
    * summed Lucene idf over shared tokens, and keep each query's top
    * `k` as (q_id, doc_id, lex_rn) in (q_id, lex_rn) order. A doc is
    * scored only if it shares a token, and never against its own id.
    *
    * Query-scale state goes to the driver, corpus-scale state never
    * does: one collect reads `n_docs` and the df of the query tokens
    * only, the idf terms are computed on the driver, and one pass over
    * the doc-keyed token table keeps a bounded heap per query in each
    * partition; the driver merges them. Two Spark jobs. The arithmetic
    * is Spark's expression's: idf = round(ln(1 + (n − df + 0.5)/(df +
    * 0.5)), 6) with `StrictMath.log` (Spark's `Log`), the score is
    * round(Σ idf, 6) — its terms are 6dp values, so the summation order
    * cannot move the rounded sum — and ranks follow (score desc, doc_id)
    * in Spark's double order (`TopK.Descending`). LexicalKernelSpec
    * keeps the join/window plan this replaced as the reference.
    */
  private[graft] def lexicalTopK(s: SparkSession, d: String,
      queries: Seq[(Long, Array[String])], k: Int): Seq[(Long, Long, Int)] = {
    val (docToks, dfT, nDocs) = lexStats(s, d)
    val wanted = queries.flatMap(_._2).distinct
    // one job: the n_docs row (tok null) and the query tokens' df rows
    val stats =
      if (wanted.isEmpty || k <= 0) Array.empty[Row]
      else nDocs.select(lit(null).cast("string").as("tok"), col("n_docs").as("df"))
        .unionByName(dfT.filter(col("tok").isin(wanted: _*))).collect()
    val n = stats.find(_.isNullAt(0)).map(_.getDouble(1)).getOrElse(0.0)
    val idf = stats.filterNot(_.isNullAt(0)).map { r =>
      val df = r.getDouble(1)
      r.getString(0) -> Quantizer.round(StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5)), 6)
    }.toMap
    val qIds = queries.map(_._1).toArray
    // token → (query index, idf) for every query holding it
    val postings = queries.zipWithIndex.flatMap { case ((_, ts), i) =>
      ts.flatMap(tok => idf.get(tok).map(tok -> (i, _)))
    }.groupMap(_._1)(_._2).map { case (tok, ps) => tok -> ps.toArray }
    import s.implicits._
    val tops = TopK.pass(docToks.as[(Long, Array[String])].rdd, (qIds, postings),
        qIds.length, if (postings.isEmpty) 0 else k, TopK.Descending) {
        case ((ids, post), rows, tops) =>
      val sums = new Array[Double](ids.length)
      val hit = new Array[Boolean](ids.length)
      val touched = scala.collection.mutable.ArrayBuffer.empty[Int]
      rows.foreach { case (doc, ts) =>
        ts.foreach(tok => post.get(tok).foreach(_.foreach { case (i, w) =>
          if (!hit(i)) { hit(i) = true; touched += i }
          sums(i) += w
        }))
        touched.foreach { i =>
          if (ids(i) != doc) tops(i).offer((Quantizer.round(sums(i), 6), doc))
          sums(i) = 0.0
          hit(i) = false
        }
        touched.clear()
      }
    }
    qIds.indices.sortBy(qIds(_)).flatMap { i =>
      tops(i).iterator.zipWithIndex.map { case ((_, doc), r) => (qIds(i), doc, r + 1) }
    }
  }

  /** Reciprocal-rank fusion (k=60) of a lexical and a dense top-k list
    * of (q_id, doc_id, rank) — the q156 fusion, shared with the facade.
    * A doc missing from one arm reports rank 0 there and contributes 0
    * to the fused score, rrf = round(1/(60 + lex_rn) + 1/(60 +
    * dense_rn), 6). Both lists are at most k rows per query, so the
    * merge runs on the driver. Returns a local (q_id, doc_id, lex_rn,
    * dense_rn, rrf, rn) frame in (q_id, rn) order, ranked by (rrf desc,
    * doc_id).
    */
  private[graft] def rrfFuse(s: SparkSession, lex: Seq[(Long, Long, Int)],
      dense: Seq[(Long, Long, Int)]): DataFrame = {
    def term(r: Int): Double = if (r == 0) 0.0 else 1.0 / (60 + r)
    val ranks = (lex.map { case (q, doc, r) => (q, doc) -> (r, 0) } ++
        dense.map { case (q, doc, r) => (q, doc) -> (0, r) })
      .groupMapReduce(_._1)(_._2) { case ((l1, d1), (l2, d2)) => (l1 max l2, d1 max d2) }
    val rows = ranks.toSeq.groupBy(_._1._1).toSeq.sortBy(_._1).flatMap { case (q, ps) =>
      ps.map { case ((_, doc), (l, dn)) =>
        ((Quantizer.round(term(l) + term(dn), 6), doc), (l, dn))
      }.sortBy(_._1)(TopK.Descending).zipWithIndex
        .map { case (((rrf, doc), (l, dn)), r) => Row(q, doc, l, dn, rrf, r + 1) }
    }
    s.createDataFrame(rows.asJava, RrfSchema)
  }

  private val RrfSchema = StructType(Seq(
    StructField("q_id", LongType, nullable = false),
    StructField("doc_id", LongType, nullable = false),
    StructField("lex_rn", IntegerType, nullable = false),
    StructField("dense_rn", IntegerType, nullable = false),
    StructField("rrf", DoubleType, nullable = false),
    StructField("rn", IntegerType, nullable = false)))

  /** Each query's (q_id, distinct tokens of q_text), tokenized on the
    * driver as `array_distinct(split(q_text, ' '))` does: Spark's split
    * has limit −1, so empty tokens stay (Java's default split drops the
    * trailing ones); a null text has no tokens.
    */
  private[graft] def queryTokens(queries: DataFrame): Seq[(Long, Array[String])] =
    queries.select(col("q_id"), col("q_text")).collect().toSeq.map { r =>
      r.getLong(0) ->
        (if (r.isNullAt(1)) Array.empty[String] else r.getString(1).split(" ", -1).distinct)
    }

  /** GraftEngine's hybrid serving entry: RRF fusion of the lexical arm
    * (memoized corpus stats, caller query text tokenized on the driver
    * by `queryTokens`) and the dense arm served from the session's shared
    * IVF-PQ index (VectorOps.annTopK). `queries`: (q_id long, q_text
    * string, q_emb array<float>), one row per q_id. At full probe
    * (nProbe = kCells, shortlist = Int.MaxValue) the dense arm is exact
    * (the q139 losslessness proof), so the result reproduces q156
    * bit-for-bit — GraftEngineSpec pins that; the defaults passed by
    * the facade are the q133 serving configuration.
    */
  def hybridTopK(s: SparkSession, d: String, queries: DataFrame, k: Int,
      nProbe: Int, shortlist: Int): DataFrame = {
    val lex = lexicalTopK(s, d, queryTokens(queries), k)
    val dense = VectorOps.annTopK(s, d,
        queries.select(col("q_id"), col("q_emb")), k, nProbe, shortlist)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    rrfFuse(s, lex, dense)
  }

  /** Exact pairwise Jaccard >= threshold via a shingle inverted index:
    * explode shingles, self-join on shingle, count intersections,
    * join |A|/|B|. Correct at any SF but the join fan-out is bounded
    * by shingle frequency — this is the oracle/verify kernel, not the
    * 100 TB candidate generator (that's MinHash-LSH below).
    */
  private def jaccardPairs(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = sh.select(col("doc_id").as("da"), col("sk"))
    val b = sh.select(col("doc_id").as("db"), col("sk"))
    val inter = a.join(b, Seq("sk")).filter(col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("c"))
    inter
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .withColumn("jaccard",
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 6))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("da"), col("db"), col("jaccard"))
      .orderBy(col("da"), col("db"))
  }

  /** The SCALE-PATH near-dup pair kernel (q42's body, reusable): 16-perm
    * MinHash signatures + distinct-shingle counts in one aggregation
    * pass, 8×2 banding for candidates (groupBy-scale, never all-pairs),
    * exact-Jaccard verify restricted to candidates. Output ≡
    * jaccardPairs on any corpus whose similarity distribution has the
    * fixture's gap (dups ≥0.9, noise ≤0.1): P(miss | j≥0.9) =
    * (1-0.9²)⁸ ≈ 2e-6. Every derived analysis (cluster resolution,
    * provenance, yield accounting) consumes THIS kernel so its cost
    * stays linear at 100 TB; q41 keeps the all-pairs exact kernel as
    * the small-SF oracle/recall baseline.
    */
  /** lshPairsRaw, persisted (the cachedShingles treatment): the
    * verified pair set is consumed from multiple subtrees WITHIN single
    * queries (q126's batch↔corpus self-union, q127's pair/doc rollups)
    * and by nine registered analyses per session — without a cache each
    * consumer subtree re-runs the whole signature+band+verify kernel
    * (the 10× stress showed q126 at 4.7× its round-5 time after the
    * forced-broadcast hint — whose exchange reuse had been hiding the
    * double evaluation — was dropped). The pair set is dup-density-
    * scale, far smaller than the corpus; Spark's CacheManager dedupes
    * by canonicalized plan so all consumers of one data dir share one
    * entry, released by releaseCaches(). At 100 TB the same role is a
    * one-time materialization of the verified pair table to parquet.
    */
  private def lshPairs(s: SparkSession, sh: DataFrame): DataFrame =
    pin(lshPairsRaw(s, sh))

  /** Builds the 2-commit documents log for q189: v0 commits the 90%
    * standing corpus, v1 appends the 10% md5-id-split increment (the
    * q82/q187 deterministic-split discipline). Rebuilt per call, like
    * Relational.buildOrdersLog.
    */
  private[graft] def buildDocsLog(s: SparkSession, d: String): String = {
    import graft.ext.SnapshotLog
    // pid in the path: two processes sharing /tmp must not race
    // each other's private log (the round-14 q207/q213 rule)
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft-snaplog-docs-" + Integer.toHexString(d.hashCode) +
        s"-p${ProcessHandle.current().pid()}").toString
    SnapshotLog.reset(dir)
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val inc = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast("long") % 10 === 0
    SnapshotLog.append(docs.filter(!inc), dir, col("doc_id"))
    SnapshotLog.append(docs.filter(inc), dir, col("doc_id"))
    dir
  }

  /** q185's body over ANY (doc_id, source, text) frame — ONE kernel
    * serving the registered query and `GraftEngine.softDedupYield`
    * (the funnelVerdict sharing rule): near-dup connected components
    * (the shared pinned pair kernel + label propagation), each
    * clustered doc downweighted to 1000000 div cluster_size parts per
    * million, rolled up per source as raw vs effective token mass.
    * Integer ppm keeps every aggregate a sum of exact integers.
    */
  private[graft] def softDedupYieldOf(s: SparkSession, docs: DataFrame): DataFrame = {
    val sh = cachedShingles(docs)
    val p = lshPairs(s, sh).select(col("da"), col("db"))
    val edges = pin(p.union(p.select(col("db").as("da"), col("da").as("db")))
      .toDF("src", "dst"))
    val labels = connectedLabels(edges)
    val wt = labels
      .join(labels.groupBy(col("lbl")).agg(count(lit(1)).as("cs")), Seq("lbl"))
      .select(col("v").as("doc_id"), expr("1000000 DIV cs").as("w_ppm"))
    docs.select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast("long").as("tok_n"))
      .join(wt, Seq("doc_id"), "left")
      .withColumn("wp", coalesce(col("w_ppm"), lit(1000000L)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("w_ppm").isNotNull, 1L).otherwise(0L)).as("n_clustered"),
        sum(col("tok_n")).as("raw_tokens"),
        // decimal(38,0) accumulator: tok_n·wp peaks near 1e9 per row, so
        // a BIGINT sum would overflow around 1e10 docs — exactly the
        // 100 TB regime; the DuckDB twin already sums in HUGEINT
        expr("CAST(sum(CAST(tok_n AS DECIMAL(38,0)) * wp) DIV 1000000 " +
          "AS BIGINT)").as("eff_tokens"))
      .orderBy(col("source"))
  }

  private def lshPairsRaw(s: SparkSession, sh: DataFrame): DataFrame = {
    graft.functions.MinHashAgg.ensureRegistered(s)
    // All 16 permutation minima AND the distinct-shingle count in
    // ONE aggregation pass per doc — the native TypedImperativeAggregate
    // shuffles 16 longs per doc instead of exploding every shingle
    // row 16×, and folding count(*) into the same groupBy removes
    // what used to be a separate full scan for the size table.
    val docAgg = sh.groupBy(col("doc_id"))
      .agg(expr(s"${graft.functions.MinHashAgg.name}(sk)").as("sig"),
        count(lit(1)).as("n"))
    // Band signature = the 2 minhashes of the band, ordered by perm index.
    val bands = docAgg
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(7))).as("band"))
      .select(col("doc_id"), col("band"),
        concat_ws(":", element_at(col("sig"), col("band") * 2 + 1),
          element_at(col("sig"), col("band") * 2 + 2)).as("sig"))
    // Candidates: pairs sharing any band bucket. groupBy-scale, not O(n^2).
    val l = bands.select(col("band"), col("sig"), col("doc_id").as("da"))
    val r = bands.select(col("band"), col("sig"), col("doc_id").as("db"))
    val cand = l.join(r, Seq("band", "sig")).filter(col("da") < col("db"))
      .select(col("da"), col("db")).distinct()
    // Verify candidates with exact Jaccard (intersection via shingle join
    // restricted to candidate docs — candidate set is tiny by construction).
    val sizes = docAgg.select(col("doc_id"), col("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("da"), col("sk")), Seq("da"))
      .join(sh.select(col("doc_id").as("db"), col("sk")), Seq("db", "sk"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("c"))
    inter
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .withColumn("jaccard",
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 6))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("da"), col("db"), col("jaccard"))
      .orderBy(col("da"), col("db"))
  }

  /** DuckDB twin of jaccardPairs — shared by q41 (all-pairs) and q42
    * (LSH path whose verified output must equal the exact answer).
    */
  /** The exact verified-pair set as a reusable CTE chain ending in
    * `jp(da, db, jaccard)` — the SQL twin of `lshPairs` (whose banded
    * candidates verify back to exactly this set on the fixture's
    * similarity gap). Shared by the q41/q42 oracle and every
    * pair-graph consumer oracle (q142).
    */
  private val pairsCteSql: String =
    "tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s " +
      "FROM tok, UNNEST(range(1, len(toks)-1)) t(i) WHERE len(toks) >= 3), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c " +
      "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY da, db), " +
      "jp AS (SELECT da, db, round(c*1.0/(sa.n + sb.n - c), 6) AS jaccard " +
      "FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id " +
      s"WHERE round(c*1.0/(sa.n + sb.n - c), 6) >= $JaccardThreshold)"

  private val jaccardOracle: String =
    s"WITH $pairsCteSql SELECT da, db, jaccard FROM jp ORDER BY da, db"

  /** Exact asymmetric-containment oracle shared by q169 (the all-pairs
    * arm) and q179 (the screen-then-price composition): the two
    * registered queries must hash to the SAME answer — that identity
    * is the fixture proof that the winnowing screen loses nothing.
    */
  private val containmentOracle: String =
    "WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s " +
      "FROM tok, UNNEST(range(1, len(toks)-1)) t(i) WHERE len(toks) >= 3), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c " +
      "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id GROUP BY da, db) " +
      "SELECT da, db, sa.n AS na, sb.n AS nb, " +
      "round(c*1.0/sa.n, 6) AS containment " +
      "FROM inter JOIN sizes sa ON da = sa.doc_id " +
      "JOIN sizes sb ON db = sb.doc_id " +
      // the GATE is exact integer arithmetic (c/na >= 0.8 <=> 5c >= 4na)
      // — only the DISPLAY column rounds. A round(...,6) gate re-admits
      // values up to 5e-7 BELOW the threshold, and the prefix screen's
      // miss bound (C <= 0.8 - 1.2/n) stops clearing that slack once a
      // contained doc has >= 2.4M distinct shingles (the round-12
      // advice finding); the integer gate has no slack at any n
      "WHERE c*5 >= sa.n*4 AND sa.n < sb.n ORDER BY da, db"

  /** Winnowing fingerprint table (Schleimer 2003) shared by q39 (the
    * overlap screen) and q179 (the containment scale path) — the
    * funnelVerdict sharing rule: one kernel, so screen and composed
    * consumer can never drift. Per doc: hash every 4-token shingle,
    * slide a 4-hash window, keep each window's minimum (ties →
    * rightmost, encoded so ONE window min() is the whole selection:
    * md5 hex concatenated with a fixed-width descending position
    * suffix makes lexicographic min pick smallest-hash-then-
    * rightmost), distinct the survivors. Guarantee: any shared token
    * run of w+k-1 = 7+ tokens shares ≥1 fingerprint; docs under 7
    * tokens emit none (a caller needing them routes the short-doc
    * slice to its exact kernel directly — ≤4 shingles each, candidate-
    * linear). Windows partition per doc: thousands of tiny frames,
    * never corpus-wide.
    */
  private[graft] def winnowFingerprints(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= 7)
      .select(col("doc_id"), (size(col("tk")) - 3).as("m"),
        posexplode(shingles(col("tk"), 4)).as(Seq("p0", "sgram")))
      .select(col("doc_id"), col("m"), (col("p0") + 1).as("pos"),
        concat(md5(col("sgram")),
          lpad((lit(1048574) - col("p0")).cast("string"), 7, "0"))
          .as("key"))
    sh
      .withColumn("sel", min(col("key")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(Window.currentRow, 3)))
      .filter(col("pos") <= col("m") - 3)
      .select(col("doc_id"), substring(col("sel"), 1, 32).as("fp"))
      .distinct()
  }

  /** q179's candidate screen, factored so the registered query and its
    * Round14OpsSpec economy/guarantee proofs exercise ONE pipeline (the
    * funnelVerdict sharing rule — a re-implemented copy in the spec
    * could drift from what the query actually runs): df-capped
    * winnowing fingerprints self-join into distinct dx < dy candidate
    * pairs. The capped fingerprint table is pinned — it feeds both
    * sides of the join.
    */
  private[graft] def containmentCandidates(docs: DataFrame): DataFrame = {
    val fps = winnowFingerprints(docs)
    val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select(col("fp"))
    val ff = pin(fps.join(keep, Seq("fp")))
    ff.select(col("fp"), col("doc_id").as("dx"))
      .join(ff.select(col("fp"), col("doc_id").as("dy")), Seq("fp"))
      .filter(col("dx") < col("dy"))
      .select(col("dx"), col("dy")).distinct()
  }

  /** Containment PREFIX-FILTER candidates — the LOSSLESS nomination
    * route that closes the winnowing screen's documented blind spot
    * (a pair overlapping only in scattered sub-7-token fragments
    * shares no fingerprint but can still have C ≥ 0.8; the extreme is
    * 3-gram "confetti": every shingle of A present in B, no shared
    * 4-token run at all — C = 1.0, zero fingerprints shared).
    * PPJoin's prefix principle adapted to containment: order every
    * doc's shingles by global rarity (df asc, sk tiebreak — one total
    * order both sides share); if a pair shares NO shingle among the
    * contained side's (n DIV 5 + 2) rarest, then |A∩B| ≤ n − n/5 − 2,
    * so C ≤ 0.8 − 1.2/n — strictly below the EXACT integer gate
    * (5c ≥ 4n) at every n. (Against the former round(C,6) ≥ 0.8 gate
    * this bound held only below n ≈ 2.4M distinct shingles, because
    * rounding re-admits C down to 0.8 − 5e-7 — the round-12 advice
    * finding; gating on the unrounded ratio removes the caveat, and
    * round(...,6) stays display-only.) Hence
    * posting ONLY each doc's rarity prefix against the full posting
    * list nominates every pair the exact kernel could keep: the
    * screen's recall is exact BY CONSTRUCTION, not by fixture.
    * Cost: one df groupBy, per-doc rank windows (thousands of tiny
    * frames), and a join that ships ~20% of postings on the prefix
    * side — rarest-first, so boilerplate shingles never enter from
    * the prefix side and fan-out stays candidate-linear.
    */
  private[graft] def containmentPrefixCandidates(sh: DataFrame,
      docArr: DataFrame): DataFrame = {
    val sizes = docArr.select(col("doc_id"), col("n"))
    val dfc = sh.groupBy(col("sk")).agg(count(lit(1)).as("df"))
    val prefix = sh.join(dfc, Seq("sk"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sk"))))
      .join(sizes, Seq("doc_id"))
      .filter(col("rk") <= expr("n DIV 5") + 2)
      .select(col("sk"), col("doc_id").as("dc"), col("n").as("nc"))
    // the contained side must be STRICTLY smaller (q169's na < nb gate)
    // — every doc posts a prefix, so the role-swapped row of each pair
    // covers the other direction and dropping n_do <= n_dc rows is
    // lossless while halving the candidate volume the pricing join pays
    // pinned: the table is corpus-static session state serving every
    // screen consumer (q179 + the containmentDedup facade), and the
    // bench prices the build as its own build:containment_screen line
    // so the q179 row stays serving-only (the pair_kernel accounting
    // rule); CacheManager dedupes the identical plan across callers
    pin(prefix
      .join(sh.join(sizes, Seq("doc_id"))
        .select(col("sk"), col("doc_id").as("do"), col("n").as("no")),
        Seq("sk"))
      .filter(col("no") > col("nc"))
      .select(least(col("dc"), col("do")).as("dx"),
        greatest(col("dc"), col("do")).as("dy"))
      .distinct())
  }

  /** Explicit bench setup for BOTH screen candidate tables (the pinned
    * df-capped winnowing pairs and the pinned containment prefix
    * pairs), so q179's row prices serving only — the
    * build:substring_runs accounting rule applied to the screen.
    */
  def warmContainmentScreen(s: SparkSession, d: String): Unit = {
    val docs = t(s, d, "documents")
    val sh = cachedShingles(docs)
    containmentCandidates(docs)
      .unionByName(containmentPrefixCandidates(sh, docShingleArrays(sh)))
      .write.format("noop").mode("overwrite").save()
  }

  /** Per-doc sorted shingle array + size — the array-form verify kernel
    * SHARED by q164 and q179 (CacheManager dedupes the pinned entry, so
    * whichever consumer evaluates first would absorb the build;
    * Bench prices it as the named build:doc_arrays step per the
    * accounting rule, keeping both rows serving-only).
    */
  private[graft] def docShingleArrays(sh: DataFrame): DataFrame =
    pin(sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("sk"))).as("arr"),
        count(lit(1)).as("n")))

  /** Explicit bench setup for the shared per-doc shingle-array kernel. */
  def warmDocArrays(s: SparkSession, d: String): Unit =
    docShingleArrays(cachedShingles(t(s, d, "documents")))
      .write.format("noop").mode("overwrite").save()

  /** The full screen-then-price containment dedup over caller-supplied
    * docs — ONE kernel consumed by both q179 and the
    * `GraftEngine.containmentDedup` facade (the funnelVerdict sharing
    * rule), so serving and oracle surfaces cannot drift. Winnowing
    * candidates (containmentCandidates) price through the per-doc
    * sorted-shingle-array intersection; output matches q169's exact
    * all-pairs semantics on every pair the screen admits (and the
    * shared q169/q179 oracle hash proves the screen lossless on the
    * fixture). Short docs (no fingerprints possible) route through
    * their exact shingle postings, so the only recall trade left is
    * the documented scattered-sub-7-token-fragment case. Emits
    * (da, db, na, nb, containment) with da the contained (smaller)
    * side, ordered for determinism. Session caveats (all pair-kernel
    * consumers share them): an installed ShingleStore substitutes the
    * store corpus for `docs` (single-corpus sessions only), and each
    * distinct caller frame pins kernel frames until releaseCaches().
    */
  private[graft] def screenedContainmentPairs(docs: DataFrame): DataFrame = {
    val sh = cachedShingles(docs)
    val docArr = docShingleArrays(sh)
    // Docs under 7 tokens emit no winnowing fingerprints, so the
    // screen is structurally blind to pairs whose CONTAINED side is
    // short — route that slice exactly: a C >= 0.8 contained doc
    // shares >= 80% of its shingles, hence >= 1, so its own shingle
    // postings nominate every container it can have (and a short
    // CONTAINER implies an even shorter contained side, so covering
    // the contained side covers both). The slice is selected as
    // n <= 4 distinct shingles off the pinned docArr (every <7-token
    // doc qualifies; the few repetitive longer docs swept in only add
    // exact candidates). Postings here are UNCAPPED — the slice is
    // tiny in any curated corpus (empty in the fixture, so q179's
    // oracle prices the screened arm) and degenerate micro-doc
    // corpora should be pre-filtered.
    val shortSh = sh.join(
      docArr.filter(col("n") <= 4).select(col("doc_id")), Seq("doc_id"))
    val shortCand = shortSh.select(col("sk"), col("doc_id").as("ds"))
      .join(sh.select(col("sk"), col("doc_id").as("do")), Seq("sk"))
      .filter(col("ds") =!= col("do"))
      .select(least(col("ds"), col("do")).as("dx"),
        greatest(col("ds"), col("do")).as("dy"))
    // three nomination routes union before pricing: winnowing (cheap,
    // catches run-structured near-dups), the short-doc exact slice,
    // and the containment prefix filter — LOSSLESS for the C >= 0.8
    // gate by the rarity-prefix bound, so the composed screen's
    // recall is exact by construction (Round17OpsSpec pins the
    // 3-gram-confetti adversary winnowing alone misses)
    containmentCandidates(docs)
      .unionByName(shortCand)
      .unionByName(containmentPrefixCandidates(sh, docArr))
      .distinct()
      .join(docArr.select(col("doc_id").as("dx"), col("arr").as("ax"),
        col("n").as("nx")), Seq("dx"))
      .join(docArr.select(col("doc_id").as("dy"), col("arr").as("ay"),
        col("n").as("ny")), Seq("dy"))
      // q169 keeps only the smaller-contained-in-larger direction;
      // equal sizes can never satisfy na < nb
      .filter(col("nx") =!= col("ny"))
      .withColumn("c", size(array_intersect(col("ax"), col("ay"))))
      // exact integer gate (5c >= 4*na) matching q169 and the oracle;
      // a round(...,6) gate admitted C in [0.8 - 5e-7, 0.8), which the
      // prefix screen's miss bound (C <= 0.8 - 1.2/n) only clears below
      // n ~ 2.4M shingles — with the exact gate the screen is lossless
      // at every n (round-12 advice finding)
      .filter(col("c").cast("long") * 5 >= least(col("nx"), col("ny")) * 4)
      .select(
        when(col("nx") < col("ny"), col("dx")).otherwise(col("dy")).as("da"),
        when(col("nx") < col("ny"), col("dy")).otherwise(col("dx")).as("db"),
        least(col("nx"), col("ny")).as("na"),
        greatest(col("nx"), col("ny")).as("nb"),
        round(col("c").cast("double") /
          least(col("nx"), col("ny")), 6).as("containment"))
      .orderBy(col("da"), col("db"))
  }

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q39_winnow_fingerprints",
      "Winnowing fingerprint overlap (Schleimer et al. 2003, 'Winnowing: Local Algorithms for Document Fingerprinting' — the MOSS screening pass): hash every 4-token shingle, slide a 4-hash window, keep each window's minimum (ties → rightmost, encoded so ONE window min() is the whole selection: md5 hex concatenated with a fixed-width descending position suffix makes lexicographic min pick smallest-hash-then-rightmost), distinct the survivors, and join docs on shared fingerprints. The winnowing guarantee: any shared run of w+k-1 = 7+ tokens shares at least one fingerprint, at ~2/(w+1) the posting density of q135's every-position anchors — this is the cheap screen whose hits q135's exact reconstruction then prices. Windows partition per doc (thousands of tiny frames, never corpus-wide); the same df<=50 fingerprint cap as q135 bounds join fan-out on boilerplate; pairs need >=2 shared prints, reported with a containment estimate against the smaller doc's print count.",
      (s, d) => {
        val fps = winnowFingerprints(t(s, d, "documents"))
        val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= 50).select(col("fp"))
        val ff = fps.join(keep, Seq("fp"))
        val sizes = ff.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
        ff.select(col("fp"), col("doc_id").as("da"))
          .join(ff.select(col("fp"), col("doc_id").as("db")), Seq("fp"))
          .filter(col("da") < col("db"))
          .groupBy(col("da"), col("db"))
          .agg(count(lit(1)).as("n_shared_fp"))
          .filter(col("n_shared_fp") >= 2)
          .join(sizes.select(col("doc_id").as("da"), col("nfp").as("na")),
            Seq("da"))
          .join(sizes.select(col("doc_id").as("db"), col("nfp").as("nb")),
            Seq("db"))
          .withColumn("containment", round(col("n_shared_fp").cast("double")
            / least(col("na"), col("nb")), 6))
          .select(col("da"), col("db"), col("n_shared_fp"), col("containment"))
          .orderBy(col("da"), col("db"))
      },
      Some("WITH tok AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "sh AS (SELECT doc_id, len(t)-3 AS m, i AS pos, " +
        "md5(array_to_string(t[i:i+3],' ')) || " +
        "lpad(CAST(1048575 - i AS VARCHAR), 7, '0') AS key " +
        "FROM tok, UNNEST(range(1, len(t)-2)) x(i) WHERE len(t) >= 7), " +
        "win AS (SELECT doc_id, pos, m, min(key) OVER (PARTITION BY doc_id " +
        "ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel FROM sh), " +
        "fps AS (SELECT DISTINCT doc_id, substr(sel, 1, 32) AS fp " +
        "FROM win WHERE pos <= m - 3), " +
        "keep AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fps " +
        "GROUP BY fp) WHERE df <= 50), " +
        "ff AS (SELECT doc_id, fp FROM fps WHERE fp IN (SELECT fp FROM keep)), " +
        "sizes AS (SELECT doc_id, count(*) AS nfp FROM ff GROUP BY doc_id), " +
        "pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c " +
        "FROM ff a JOIN ff b ON a.fp = b.fp AND a.doc_id < b.doc_id " +
        "GROUP BY da, db) " +
        "SELECT da, db, CAST(c AS BIGINT) AS n_shared_fp, " +
        "round(c*1.0/least(sa.nfp, sb.nfp), 6) AS containment " +
        "FROM pairs JOIN sizes sa ON da = sa.doc_id " +
        "JOIN sizes sb ON db = sb.doc_id WHERE c >= 2 ORDER BY da, db")),

    GraftQuery(
      "q40_dedup_exact",
      "Exact dedup: md5 of normalized text → groupBy digest, keep min doc_id. Shuffles only (digest, id) — scale-safe at any corpus size.",
      (s, d) => t(s, d, "documents")
        .withColumn("h", md5(lower(trim(col("text")))))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("dup_cnt"), min(col("doc_id")).as("keep_id"))
        .orderBy(col("h")),
      Some("SELECT md5(lower(trim(text))) AS h, CAST(count(*) AS BIGINT) AS dup_cnt, " +
        "CAST(min(doc_id) AS BIGINT) AS keep_id FROM documents GROUP BY h ORDER BY h")),

    GraftQuery(
      "q41_jaccard_pairs",
      "Near-dup detection, exact variant: 3-gram shingle inverted index → pairwise Jaccard >= 0.5. Small-SF oracle + recall baseline for the LSH path (q42).",
      (s, d) => jaccardPairs(cachedShingles(t(s, d, "documents"))),
      Some(jaccardOracle)),

    GraftQuery(
      "q42_minhash_lsh_pairs",
      "Near-dup detection, scale variant: 16-perm MinHash, 8 bands × 2 rows → candidate pairs from band-bucket groupBy (no all-pairs join), then exact-Jaccard verify on candidates only. P(miss | j>=0.9) = (1-0.9^2)^8 ≈ 2e-6, so the verified output equals the exact answer — same oracle as q41.",
      (s, d) => lshPairs(s, cachedShingles(t(s, d, "documents"))),
      Some(jaccardOracle)),

    GraftQuery(
      "q43_dedup_fingerprint",
      "Order-insensitive dedup: fingerprint = md5 of the sorted distinct token set; catches token-shuffled duplicates that exact dedup misses.",
      (s, d) => t(s, d, "documents")
        .withColumn("fp", md5(array_join(array_sort(array_distinct(toks(col("text")))), " ")))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("dup_cnt"), min(col("doc_id")).as("keep_id"))
        .orderBy(col("fp")),
      Some("SELECT md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' ')) AS fp, " +
        "CAST(count(*) AS BIGINT) AS dup_cnt, CAST(min(doc_id) AS BIGINT) AS keep_id " +
        "FROM documents GROUP BY fp ORDER BY fp")),

    GraftQuery(
      "q44_simhash",
      "SimHash document signature (16-bit, md5-derived bit weights): per-token hash → per-bit ±1 vote → sign vector packed to an int. Near-dup docs land on close hashes; groupBy signature finds exact-signature collisions.",
      (s, d) => {
        val tok = t(s, d, "documents")
          .select(col("doc_id"), explode(array_distinct(toks(col("text")))).as("tok"))
        val hv = tok.withColumn("hv",
          conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long"))
        val bits = hv
          .select(col("doc_id"), col("hv"), explode(sequence(lit(0), lit(15))).as("j"))
          .groupBy(col("doc_id"), col("j"))
          .agg(sum(expr("2 * ((hv div cast(pow(2, j) as bigint)) % 2) - 1")).as("bsum"))
        bits.groupBy(col("doc_id"))
          .agg(expr("cast(sum(case when bsum > 0 then cast(pow(2, j) as bigint) else 0 end) as bigint)")
            .as("simhash"))
          .orderBy(col("doc_id"))
      },
      Some("WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS tok FROM documents), " +
        "h AS (SELECT doc_id, ((instr('0123456789abcdef', substr(md5(tok),1,1))-1)*4096 + " +
        "(instr('0123456789abcdef', substr(md5(tok),2,1))-1)*256 + " +
        "(instr('0123456789abcdef', substr(md5(tok),3,1))-1)*16 + " +
        "(instr('0123456789abcdef', substr(md5(tok),4,1))-1)) AS hv FROM tok), " +
        "bits AS (SELECT doc_id, j, sum(2 * ((hv // CAST(pow(2,j) AS BIGINT)) % 2) - 1) AS bsum " +
        "FROM h, UNNEST(range(0,16)) t(j) GROUP BY doc_id, j) " +
        "SELECT doc_id, CAST(sum(CASE WHEN bsum > 0 THEN CAST(pow(2,j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash " +
        "FROM bits GROUP BY doc_id ORDER BY doc_id")),

    GraftQuery(
      "q45_token_stats",
      "Token counting per language: doc counts, total whitespace tokens, avg chars (reference imb_rating.py:107-style split lifted to native ops).",
      (s, d) => t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(toks(col("text"))).cast("long")).as("n_tokens"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy(col("lang")),
      Some("SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens, " +
        "round(avg(n_chars),4) AS avg_chars FROM documents GROUP BY lang ORDER BY lang")),

    GraftQuery(
      "q46_quality_score",
      "Per-document quality scoring: token count, stopword ratio, alpha-char ratio, bucketed verdict — the standard pre-training corpus filter, fully codegen'd.",
      (s, d) => {
        val tk = toks(col("text"))
        val stopRatio = size(filter(tk, t =>
          t.isin("the", "a", "of", "and", "to", "in", "is", "it"))).cast("double") / size(tk)
        val alphaRatio = length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") /
          length(col("text"))
        t(s, d, "documents")
          .select(col("doc_id"),
            size(tk).as("n_tokens"),
            round(stopRatio, 6).as("stop_ratio"),
            round(alphaRatio, 6).as("alpha_ratio"))
          .withColumn("quality",
            when(col("n_tokens") >= 40 && col("stop_ratio") <= 0.4, "high")
              .when(col("n_tokens") >= 15, "medium")
              .otherwise("low"))
          .orderBy(col("doc_id"))
      },
      Some("WITH q AS (SELECT doc_id, len(string_split(text,' ')) AS n_tokens, " +
        "round(len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','to','in','is','it')))*1.0" +
        "/len(string_split(text,' ')), 6) AS stop_ratio, " +
        "round(len(regexp_replace(text,'[^a-z]','','g'))*1.0/len(text), 6) AS alpha_ratio FROM documents) " +
        "SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, stop_ratio, alpha_ratio, " +
        "CASE WHEN n_tokens >= 40 AND stop_ratio <= 0.4 THEN 'high' " +
        "WHEN n_tokens >= 15 THEN 'medium' ELSE 'low' END AS quality " +
        "FROM q ORDER BY doc_id")),

    GraftQuery(
      "q47_lang_id",
      "Language-ID heuristic: marker-token votes per language, argmax with fixed priority — deterministic n-gram-style classifier shape (real corpora would swap in char-trigram tables).",
      (s, d) => {
        val tk = toks(col("text"))
        def score(ms: Seq[String]) =
          size(filter(tk, t => t.isin(ms: _*)))
        val sEn = score(Seq("the", "and", "of", "is"))
        val sEs = score(Seq("el", "la", "de", "que"))
        val sFr = score(Seq("le", "et", "les", "des"))
        val sDe = score(Seq("der", "und", "die", "nicht"))
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            sEn.as("s_en"), sEs.as("s_es"), sFr.as("s_fr"), sDe.as("s_de"))
          .withColumn("pred",
            when(col("s_en") >= greatest(col("s_es"), col("s_fr"), col("s_de")), "en")
              .when(col("s_es") >= greatest(col("s_fr"), col("s_de")), "es")
              .when(col("s_fr") >= col("s_de"), "fr")
              .otherwise("de"))
          .select(col("doc_id"), col("lang"), col("pred"),
            (col("pred") === col("lang")).as("hit"))
          .orderBy(col("doc_id"))
      },
      Some("WITH sc AS (SELECT doc_id, lang, " +
        "len(list_filter(string_split(text,' '), t -> t IN ('the','and','of','is'))) AS s_en, " +
        "len(list_filter(string_split(text,' '), t -> t IN ('el','la','de','que'))) AS s_es, " +
        "len(list_filter(string_split(text,' '), t -> t IN ('le','et','les','des'))) AS s_fr, " +
        "len(list_filter(string_split(text,' '), t -> t IN ('der','und','die','nicht'))) AS s_de " +
        "FROM documents) " +
        "SELECT doc_id, lang, CASE WHEN s_en >= greatest(s_es, s_fr, s_de) THEN 'en' " +
        "WHEN s_es >= greatest(s_fr, s_de) THEN 'es' WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END AS pred, " +
        "(CASE WHEN s_en >= greatest(s_es, s_fr, s_de) THEN 'en' " +
        "WHEN s_es >= greatest(s_fr, s_de) THEN 'es' WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END) = lang AS hit " +
        "FROM sc ORDER BY doc_id")),

    GraftQuery(
      "q49_regex_token_count",
      "BPE-ish regex tokenization (letters runs / digit runs / single symbols) vs whitespace tokens, summed per source — the token-budget accounting step of a training-data pipeline.",
      (s, d) => t(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(toks(col("text"))).cast("long")).as("ws_tokens"),
          sum(expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))").cast("long"))
            .as("re_tokens"))
        .orderBy(col("source")),
      Some("SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(len(string_split(text,' '))) AS BIGINT) AS ws_tokens, " +
        "CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS re_tokens " +
        "FROM documents GROUP BY source ORDER BY source")),

    GraftQuery(
      "q68_hash_sample",
      "Deterministic hash sampling (the reproducible alternative to Bernoulli rand sampling for pipeline reruns): keep rows whose md5-derived bucket < 10 of 100 — every engine and every rerun selects the identical subset.",
      (s, d) => t(s, d, "lineitem")
        .withColumn("bucket",
          (conv(substring(md5(col("l_orderkey").cast("string")), 1, 4), 16, 10)
            .cast("long") % 100))
        .filter(col("bucket") < 10)
        .agg(count(lit(1)).as("n_sampled"),
          sum(cents(col("l_extendedprice"))).as("sampled_price_cents")),
      Some("WITH h AS (SELECT l_extendedprice, " +
        "((instr('0123456789abcdef', substr(md5(CAST(l_orderkey AS VARCHAR)),1,1))-1)*4096 + " +
        "(instr('0123456789abcdef', substr(md5(CAST(l_orderkey AS VARCHAR)),2,1))-1)*256 + " +
        "(instr('0123456789abcdef', substr(md5(CAST(l_orderkey AS VARCHAR)),3,1))-1)*16 + " +
        "(instr('0123456789abcdef', substr(md5(CAST(l_orderkey AS VARCHAR)),4,1))-1)) % 100 AS bucket " +
        "FROM lineitem) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_sampled, " +
        "CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sampled_price_cents " +
        "FROM h WHERE bucket < 10")),

    GraftQuery(
      "q69_tfidf_terms",
      "TF-IDF: top-3 highest-scoring terms per document (tf x ln(N/df)), ranked on the rounded score with a term tiebreak. df is one groupBy over the exploded tokens; the per-doc ranking is one window.",
      (s, d) => {
        val docs = t(s, d, "documents")
        // N (corpus size) stays INSIDE the plan as a broadcast 1-row
        // aggregate — a driver-side docs.count() here would run a
        // second job and scan the source twice per query execution.
        val total = docs.agg(count(lit(1)).cast("double").as("n_total"))
        val tf = docs.select(col("doc_id"), explode(toks(col("text"))).as("tok"))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        val df_ = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("tok"))
        tf.join(df_, Seq("tok"))
          .crossJoin(broadcast(total))
          .withColumn("tfidf",
            round(col("tf") * log(col("n_total") / col("df")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("doc_id"), col("tok"), col("tfidf"), col("rn"))
          .orderBy(col("doc_id"), col("rn"))
      },
      Some("WITH tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents) GROUP BY doc_id, tok), " +
        "df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok), " +
        "n AS (SELECT count(*)*1.0 AS n FROM documents), " +
        "sc AS (SELECT doc_id, tf.tok, round(tf * ln(n / df), 6) AS tfidf FROM tf " +
        "JOIN df ON tf.tok = df.tok CROSS JOIN n), " +
        "r AS (SELECT doc_id, tok, tfidf, CAST(row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS INTEGER) AS rn FROM sc) " +
        "SELECT doc_id, tok, tfidf, rn FROM r WHERE rn <= 3 ORDER BY doc_id, rn")),

    GraftQuery(
      "q56_repetition_ratio",
      "Within-document repetition (a Gopher-style quality signal): 1 - distinct/total 3-gram shingles. High ratio = boilerplate/looping text; all per-row array math, no shuffle beyond the final sort.",
      (s, d) => {
        // tokens AND the shingle array each materialize once in their
        // own projection: higher-order functions aren't codegen'd, so
        // the single-project form re-evaluated the tokenize+shingle
        // chain 3× (once per size()) with split(text) re-run per
        // shingle element; CollapseProject keeps these splits because
        // the aliases are non-cheap and multiply referenced
        t(s, d, "documents")
          .select(col("doc_id"), toks(col("text")).as("tk"))
          .filter(size(col("tk")) >= 3)
          .select(col("doc_id"), shingles(col("tk"), 3).as("sh"))
          .select(col("doc_id"),
            size(col("sh")).as("n_shingles"),
            round(lit(1.0) -
              size(array_distinct(col("sh"))).cast("double") / size(col("sh")), 6)
              .as("rep_ratio"))
          .orderBy(col("doc_id"))
      },
      Some("WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
        "sh AS (SELECT doc_id, [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] " +
        "FOR i IN range(1, len(toks)-1)] AS s FROM t WHERE len(toks) >= 3) " +
        "SELECT doc_id, CAST(len(s) AS INTEGER) AS n_shingles, " +
        "round(1.0 - len(list_distinct(s))*1.0/len(s), 6) AS rep_ratio " +
        "FROM sh ORDER BY doc_id")),

    GraftQuery(
      "q48_doc_fingerprint_minhash",
      "Rolling-hash document fingerprint: min over 5-gram shingle digests (a 1-perm MinHash) — cheap near-dup blocking key for a first-pass groupBy at corpus scale. Explode + partial-min deliberately: the per-shingle md5 stays inside whole-stage codegen and map-side combine shuffles ONE row per doc (an array_min-over-lambda variant measured ~1.7x slower — interpreted HOF vs codegen).",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), toks(col("text")).as("tk"))
        .filter(size(col("tk")) >= 5)
        .select(col("doc_id"),
          explode(array_distinct(shingles(col("tk"), 5))).as("s"))
        .groupBy(col("doc_id"))
        .agg(min(substring(md5(col("s")), 1, 8)).as("fp"))
        .orderBy(col("doc_id")),
      Some("WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] AS s " +
        "FROM tok, UNNEST(range(1, len(toks)-3)) t(i) WHERE len(toks) >= 5) " +
        "SELECT doc_id, min(substr(md5(s),1,8)) AS fp FROM sh GROUP BY doc_id ORDER BY doc_id")),

    GraftQuery(
      "q80_contamination",
      "Benchmark-contamination check: corpus documents sharing >=3 distinct word 3-grams with any held-out evaluation document (eval set = doc_id % 20 == 0). Inverted-index join on the 64-bit shingle key — cost bounded by shingle frequency, never corpus x eval all-pairs. At 100 TB a real benchmark set is tiny and its shingle table broadcasts, turning this into a map-side probe over the streaming corpus.",
      (s, d) => {
        val sh = cachedShingles(t(s, d, "documents"))
        val ev = sh.filter(col("doc_id") % 20 === 0)
          .select(col("doc_id").as("eval_id"), col("sk"))
        val corpus = sh.filter(col("doc_id") % 20 =!= 0)
        corpus.join(ev, Seq("sk"))
          .groupBy(col("doc_id"), col("eval_id"))
          .agg(count(lit(1)).as("overlap"))
          .filter(col("overlap") >= 3)
          .orderBy(col("doc_id"), col("eval_id"))
      },
      Some("WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s " +
        "FROM tok, UNNEST(range(1, len(toks)-1)) t(i) WHERE len(toks) >= 3), " +
        "ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 20 = 0), " +
        "co AS (SELECT doc_id, s FROM sh WHERE doc_id % 20 <> 0) " +
        "SELECT co.doc_id, eval_id, count(*) AS overlap FROM co JOIN ev USING (s) " +
        "GROUP BY co.doc_id, eval_id HAVING count(*) >= 3 ORDER BY doc_id, eval_id")),

    GraftQuery(
      "q81_stratified_sample",
      "Per-source stratified downsampling — the corpus-mixing primitive: each source keeps a deterministic md5-bucket fraction of its documents (rate = 10 + 7*source_idx mod 60, out of 100), so reruns and engines select the identical subset (the q68 rationale, per stratum). Pure map-side filter into a 20-group agg: nothing shuffles but the final tiny rollup, trivially parallel at 100 TB.",
      (s, d) => {
        val rate = lit(10) + pmod(substring(col("source"), 4, 10).cast("int") * 7, lit(60))
        t(s, d, "documents")
          .filter(md5Bucket(col("doc_id")) < rate)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_chars")).as("kept_chars"))
          .orderBy(col("source"))
      },
      Some("WITH h AS (SELECT source, n_chars, " + md5BucketSql("doc_id") + " AS bucket, " +
        "10 + (CAST(substr(source,4) AS INT) * 7) % 60 AS rate FROM documents) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_kept, " +
        "CAST(sum(n_chars) AS BIGINT) AS kept_chars " +
        "FROM h WHERE bucket < rate GROUP BY source ORDER BY source")),

    GraftQuery(
      "q82_split_assign",
      "Reproducible train/val/test assignment (90/5/5) keyed on doc_id's md5 bucket: the split is a pure function of the stable id — not of ordering, partitioning, or a seeded RNG — so no leakage across reruns or engines. Verified by per-split doc counts, char totals, and distinct-language counts.",
      (s, d) => t(s, d, "documents")
        .withColumn("split", splitFor(col("doc_id")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars_total"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy(col("split")),
      Some("WITH h AS (SELECT lang, n_chars, " +
        "CASE WHEN " + md5BucketSql("doc_id") + " < 90 THEN 'train' " +
        "WHEN " + md5BucketSql("doc_id") + " < 95 THEN 'val' ELSE 'test' END AS split " +
        "FROM documents) " +
        "SELECT split, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS n_chars_total, " +
        "CAST(count(DISTINCT lang) AS BIGINT) AS n_langs " +
        "FROM h GROUP BY split ORDER BY split")),

    GraftQuery(
      "q182_epoch_shuffle",
      "Deterministic per-epoch training order — the reproducible global shuffle a trainer " +
        "consumes each epoch (epochal reshuffling WITHOUT RNG state, the q68/q82 md5 " +
        "discipline extended to ordering): every (doc, epoch) pair hashes to " +
        "md5(doc_id:epoch), docs land in one of 8 shards by the hash's leading 16 bits, " +
        "and the within-shard read order is the hash order itself — a pure function of " +
        "(stable id, epoch number), so every engine, rerun, and resumed job walks the " +
        "IDENTICAL sequence, epochs decorrelate because the hash key changes, and a " +
        "restart mid-epoch re-derives its position instead of replaying an RNG. The " +
        "per-(epoch, shard) rank is RangeRank's grouped two-pass (bucketed by a " +
        "monotone hash prefix), NOT a per-shard window — at 100 TB a corpus/8 window " +
        "partition would sort billions of rows in one task; the grouped form splits " +
        "every shard across as many tasks as the bucket dial asks.",
      (s, d) => {
        val e = t(s, d, "documents")
          .select(col("doc_id"),
            explode(sequence(lit(0), lit(1))).as("epoch"))
          .withColumn("hk", md5(concat(col("doc_id").cast("string"),
            lit(":"), col("epoch").cast("string"))))
          .withColumn("shard",
            conv(substring(col("hk"), 1, 4), 16, 10).cast("long") % 8)
        graft.ext.RangeRank.withGroupedRowNumber(
            e, Seq("epoch", "shard"),
            conv(substring(col("hk"), 1, 2), 16, 10).cast("long"),
            Seq(col("hk"), col("doc_id")),
            rnName = "pos", nName = "shard_n")
          .select(col("epoch"), col("shard"), col("pos"), col("shard_n"),
            col("doc_id"))
          .orderBy(col("epoch"), col("shard"), col("pos"))
      },
      Some {
        def digit(i: Int) = s"(instr('0123456789abcdef', substr(hk,$i,1))-1)"
        "WITH e AS (SELECT doc_id, CAST(epoch AS INTEGER) AS epoch " +
          "FROM documents, UNNEST([0,1]) t(epoch)), " +
          "h AS (SELECT doc_id, epoch, " +
          "md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)) AS hk FROM e), " +
          "s AS (SELECT doc_id, epoch, hk, " +
          s"CAST((${digit(1)}*4096 + ${digit(2)}*256 + ${digit(3)}*16 + ${digit(4)}) % 8 " +
          "AS BIGINT) AS shard FROM h) " +
          "SELECT epoch, shard, " +
          "CAST(row_number() OVER (PARTITION BY epoch, shard ORDER BY hk, doc_id) " +
          "AS BIGINT) AS pos, " +
          "CAST(count(*) OVER (PARTITION BY epoch, shard) AS BIGINT) AS shard_n, " +
          "doc_id FROM s ORDER BY epoch, shard, pos"
      }),

    GraftQuery(
      "q83_length_trim",
      "Rank-based length-trim quality gate: drop the shortest 5% and longest 5% of documents by exact global token-count rank — the standard outlier filter before training, done without a single-partition sort via RangeRank's equi-depth auto-bucketing (approx_percentile boundaries, two distributed passes). Integer rank cutoffs (n*5 div 100) keep the boundary engine-exact.",
      (s, d) => {
        val withTok = t(s, d, "documents")
          .select(col("doc_id"), size(toks(col("text"))).cast("long").as("tok_count"))
        graft.ext.RangeRank
          .withGlobalRowNumberAuto(withTok, col("tok_count"), Seq(col("doc_id")))
          .filter(col("global_rn") > expr("global_n * 5 div 100") &&
            col("global_rn") <= expr("global_n * 95 div 100"))
          .select(col("doc_id"), col("tok_count"))
          .orderBy(col("doc_id"))
      },
      Some("WITH tk AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS tok_count " +
        "FROM documents), " +
        "r AS (SELECT doc_id, tok_count, " +
        "row_number() OVER (ORDER BY tok_count, doc_id) AS rn, " +
        "count(*) OVER () AS n FROM tk) " +
        "SELECT doc_id, tok_count FROM r " +
        "WHERE rn > n*5//100 AND rn <= n*95//100 ORDER BY doc_id")),

    GraftQuery(
      "q84_corpus_mix",
      "Mixture balancing — downsample every source to (approximately) the size of the smallest so each contributes equally to the training mix: per-source integer keep-rates (min_n*100 div n_src) come from a tiny count aggregate that broadcasts back onto the corpus, then the same deterministic md5-bucket filter as q81 selects rows. Data makes two passes (count, filter) with no shuffle wider than the 20-row rate table; rates are integer-derived so every engine draws the same boundary.",
      (s, d) => {
        val docs = t(s, d, "documents")
        val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
        val rates = counts
          .crossJoin(broadcast(counts.agg(min(col("n_src")).as("min_n"))))
          .select(col("source"), expr("min_n * 100 div n_src").as("rate"))
        docs.join(broadcast(rates), Seq("source"))
          .filter(md5Bucket(col("doc_id")) < col("rate"))
          .groupBy(col("source"))
          .agg(max(col("rate")).as("rate"), count(lit(1)).as("n_kept"))
          .orderBy(col("source"))
      },
      Some("WITH c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source), " +
        "m AS (SELECT min(n_src) AS min_n FROM c), " +
        "r AS (SELECT source, (min_n * 100) // n_src AS rate FROM c, m), " +
        "k AS (SELECT d.source, r.rate FROM documents d JOIN r USING (source) " +
        "WHERE " + md5BucketSql("d.doc_id") + " < r.rate) " +
        "SELECT source, CAST(max(rate) AS BIGINT) AS rate, " +
        "CAST(count(*) AS BIGINT) AS n_kept " +
        "FROM k GROUP BY source ORDER BY source")),

    GraftQuery(
      "q85_approx_distinct",
      "Sketch-based distinct count (native HyperLogLog TypedImperativeAggregate over xxhash64 keys): the 100 TB cardinality path — exact COUNT(DISTINCT) shuffles every distinct value, while the sketch keeps a fixed 4 KiB register array whose partials merge by elementwise max (map-side combine sends 4 KiB per partition, any merge order). Output pins the estimate against the exact count in one row. No SQL oracle: HLL register layouts aren't portable across engines (DuckDB's approx_count_distinct is a different sketch), so the driver records rows-only; HllAggSpec pins the <=5% error bound and merge-order invariance.",
      (s, d) => {
        graft.functions.HllAgg.ensureRegistered(s)
        t(s, d, "lineitem")
          .agg(expr("hll_distinct(xxhash64(l_partkey))").as("approx_parts"),
            countDistinct(col("l_partkey")).as("exact_parts"))
          .select(col("approx_parts"), col("exact_parts"),
            round(abs(col("approx_parts") - col("exact_parts")).cast("double") /
              col("exact_parts"), 4).as("rel_err"))
      },
      None),

    GraftQuery(
      "q86_bloom_decontaminate",
      "Bloom-filter decontamination — the runtime-filter pattern for benchmark scrubbing at 100 TB: a sketch of the (tiny) eval set's 3-gram shingle keys is built once, embedded in the plan as a binary literal, and probed MAP-SIDE by the native codegen'd bloom_might_contain while the corpus shingles stream by; only the sketch's survivors reach the exact verify join, so the expensive shuffle sees a sliver of the corpus. No false negatives => (prune, then exact verify) returns exactly the plain-join answer, which is what the oracle checks. Output: per-source count of corpus docs sharing NO 3-gram with any eval doc (doc_id % 20 == 0).",
      (s, d) => {
        graft.functions.BloomMightContain.ensureRegistered(s)
        val sh = cachedShingles(t(s, d, "documents"))
        val ev = sh.filter(col("doc_id") % 20 === 0).select(col("sk")).distinct()
        // Both driver actions run on the EVAL side only — a benchmark
        // set is metadata-sized next to the corpus (the same posture as
        // AnnIndex's k-row centroid collect); the corpus is never counted
        // or collected.
        val nEval = math.max(ev.count(), 1L)
        val bytes = graft.functions.BloomMightContain.toBytes(
          ev.stat.bloomFilter("sk", nEval, 0.01))
        val cand = sh.filter(col("doc_id") % 20 =!= 0)
          .filter(call_function(graft.functions.BloomMightContain.name,
            lit(bytes), col("sk")))
        val hits = cand.join(ev, Seq("sk")).select(col("doc_id")).distinct()
        t(s, d, "documents").filter(col("doc_id") % 20 =!= 0)
          .join(hits, Seq("doc_id"), "left_anti")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_clean"),
            sum(col("n_chars")).as("clean_chars"))
          .orderBy(col("source"))
      },
      Some("WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s " +
        "FROM tok, UNNEST(range(1, len(toks)-1)) t(i) WHERE len(toks) >= 3), " +
        "ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0), " +
        "hit AS (SELECT DISTINCT sh.doc_id FROM sh JOIN ev USING (s) WHERE sh.doc_id % 20 <> 0) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_clean, " +
        "CAST(sum(n_chars) AS BIGINT) AS clean_chars " +
        "FROM documents d WHERE d.doc_id % 20 <> 0 " +
        "AND NOT EXISTS (SELECT 1 FROM hit WHERE hit.doc_id = d.doc_id) " +
        "GROUP BY source ORDER BY source")),

    GraftQuery(
      "q87_passage_dedup",
      "Passage-granularity duplication audit (the C4/RefinedWeb sub-document dedup signal): each doc is cut into non-overlapping 8-word passages, passages are hashed to 64-bit keys (the shingleSet rationale: shuffle 8 bytes, not ~50-byte strings; oracle groups the strings and counts agree absent a ~2^-32 collision), and a passage seen in >1 distinct doc marks its occurrences duplicated. Per-doc output: passage count, duplicated-passage count, dup ratio. Two hash shuffles (passage key, then doc_id), no self-join anywhere — linear at 100 TB.",
      (s, d) => {
        val p = t(s, d, "documents")
          .select(col("doc_id"), toks(col("text")).as("tk"))
          .filter(size(col("tk")) >= 8)
          .select(col("doc_id"), expr("int(size(tk) div 8)").as("nw"), col("tk"))
          .select(col("doc_id"), explode(transform(
            sequence(lit(0), col("nw") - 1),
            i => concat_ws(" ", slice(col("tk"), i * 8 + 1, lit(8))))).as("pg"))
          .select(col("doc_id"), xxhash64(col("pg")).as("pk"))
        val nd = p.groupBy(col("pk")).agg(countDistinct(col("doc_id")).as("nd"))
        p.join(nd, Seq("pk"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_passages"),
            sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup"))
          .withColumn("dup_ratio",
            round(col("n_dup").cast("double") / col("n_passages"), 6))
          .orderBy(col("doc_id"))
      },
      Some("WITH tk AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents), " +
        "p AS (SELECT doc_id, array_to_string(tk[(i*8+1):(i*8+8)], ' ') AS pg " +
        "FROM tk, UNNEST(range(0, len(tk)//8)) x(i) WHERE len(tk) >= 8), " +
        "nd AS (SELECT pg, count(DISTINCT doc_id) AS nd FROM p GROUP BY pg) " +
        "SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_passages, " +
        "CAST(sum(CASE WHEN nd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup, " +
        "round(sum(CASE WHEN nd.nd > 1 THEN 1 ELSE 0 END)*1.0/count(*), 6) AS dup_ratio " +
        "FROM p JOIN nd USING (pg) GROUP BY p.doc_id ORDER BY doc_id")),

    GraftQuery(
      "q88_bigram_lm",
      "Perplexity-style quality scoring (the CCNet filter): an add-one-smoothed bigram LM is trained on the corpus IN the plan — c(w1 w2) and c(w1 .) are two token-key groupBys, vocabulary size V is a broadcast 1-row aggregate (the q69 pattern) — and every doc is scored by its mean ln P(w2|w1). Training and scoring are one pass each over the exploded bigrams; nothing is collected, the model IS the two count tables, co-partitioned with the scoring join by their keys. Low scores mark gibberish for the quality gate.",
      (s, d) => bigramLmScores(s, d).orderBy(col("doc_id")),
      Some("WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg, t[i] AS w1 " +
        "FROM tk, UNNEST(range(1, len(t))) x(i) WHERE len(t) >= 2), " +
        "c12 AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY bg), " +
        "c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1), " +
        "v AS (SELECT count(DISTINCT tok)*1.0 AS v FROM " +
        "(SELECT unnest(string_split(text,' ')) AS tok FROM documents)) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
        "round(avg(ln((c12 + 1) / (c1 + v))), 6) AS lm_score " +
        "FROM bg JOIN c12 USING (bg) JOIN c1 USING (w1), v " +
        "GROUP BY doc_id ORDER BY doc_id")),

    GraftQuery(
      "q89_pack_chunks",
      "Sequence packing (concat-and-chunk): documents are laid end-to-end in the deterministic (source, doc_id) order and cut at 512-token boundaries — each doc lands in the chunk holding its last token. The global running token sum is the RangeRank two-pass prefix-scan shape with `source` as the natural order-prefix bucket: per-source window cumsums run fully parallel, and the cross-source offsets come from a 20-row aggregate whose window is O(sources), never the data. All-integer math, so every engine cuts identical boundaries.",
      (s, d) => {
        val dtok = t(s, d, "documents")
          .select(col("source"), col("doc_id"),
            size(toks(col("text"))).cast("long").as("ntok"))
        val wLoc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        val local = dtok.withColumn("cum_local", sum(col("ntok")).over(wLoc))
        val wPrev = Window.orderBy(col("source"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = dtok.groupBy(col("source")).agg(sum(col("ntok")).as("stot"))
          .select(col("source"),
            coalesce(sum(col("stot")).over(wPrev), lit(0L)).as("off"))
        local.join(broadcast(offsets), Seq("source"))
          .withColumn("cum", col("off") + col("cum_local"))
          .withColumn("chunk_id", expr("(cum - 1) div 512"))
          .groupBy(col("chunk_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("chunk_tokens"))
          .orderBy(col("chunk_id"))
      },
      Some("WITH tk AS (SELECT source, doc_id, " +
        "CAST(len(string_split(text,' ')) AS BIGINT) AS ntok FROM documents), " +
        "c AS (SELECT ntok, sum(ntok) OVER (ORDER BY source, doc_id " +
        "ROWS UNBOUNDED PRECEDING) AS cum FROM tk) " +
        "SELECT CAST((cum-1)//512 AS BIGINT) AS chunk_id, " +
        "CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(ntok) AS BIGINT) AS chunk_tokens " +
        "FROM c GROUP BY 1 ORDER BY 1")),

    GraftQuery(
      "q188_budget_curriculum",
      "Quality-ranked selection under a global token budget — the curation policy that " +
        "replaces fixed thresholds when the training-compute budget, not a quality bar, " +
        "is the binding constraint: rank every doc by a continuous quality score " +
        "(alpha ratio minus stopword ratio, 6dp — the q46 signals as a scalar), walk " +
        "the ranking best-first, and keep docs while the running token sum fits the " +
        "budget (25% of corpus tokens, a broadcast 1-row aggregate — never a driver " +
        "count). The global running sum is the q89/RangeRank two-pass prefix-scan " +
        "shape with a monotone SCORE bucket: per-bucket window cumsums run fully " +
        "parallel and the cross-bucket offsets come from an O(buckets) aggregate — an " +
        "unpartitioned ORDER BY window would sort the whole corpus in one task at " +
        "100 TB. Bucket boundaries affect task sizing only, never values, so the " +
        "DuckDB twin checks the same selection through a plain window. Output: what " +
        "each source contributes to the selected set and its worst admitted score — " +
        "the table that shows which sources a budget squeeze pushes out.",
      (s, d) => {
        val tk = toks(col("text"))
        val stopRatio = size(filter(tk, t =>
          t.isin("the", "a", "of", "and", "to", "in", "is", "it")))
          .cast("double") / size(tk)
        val alphaRatio = length(regexp_replace(col("text"), "[^a-z]", ""))
          .cast("double") / length(col("text"))
        val base = t(s, d, "documents").select(col("doc_id"), col("source"),
          size(tk).cast("long").as("ntok"),
          round(alphaRatio - stopRatio, 6).as("score"))
        val withB = base.withColumn("negs", -col("score"))
          .withColumn("bkt", floor(col("negs") * 8).cast("long"))
        val wLoc = Window.partitionBy(col("bkt"))
          .orderBy(col("negs"), col("doc_id"))
        val local = withB.withColumn("cum_local", sum(col("ntok")).over(wLoc))
        val wPrev = Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = withB.groupBy(col("bkt"))
          .agg(sum(col("ntok")).as("btot"))
          .select(col("bkt"),
            coalesce(sum(col("btot")).over(wPrev), lit(0L)).as("off"))
        val total = base.groupBy().agg(sum(col("ntok")).as("tot"))
        local.join(broadcast(offsets), Seq("bkt"))
          .withColumn("cum", col("off") + col("cum_local"))
          .crossJoin(broadcast(total))
          .filter(col("cum") <= expr("tot DIV 4"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_sel"), sum(col("ntok")).as("tok_sel"),
            min(col("score")).as("cut_score"))
          .orderBy(col("source"))
      },
      Some("WITH q AS (SELECT doc_id, source, " +
        "CAST(len(string_split(text,' ')) AS BIGINT) AS ntok, " +
        "round(len(regexp_replace(text,'[^a-z]','','g'))*1.0/len(text) " +
        "- len(list_filter(string_split(text,' '), t -> t IN " +
        "('the','a','of','and','to','in','is','it')))*1.0" +
        "/len(string_split(text,' ')), 6) AS score FROM documents), " +
        "t AS (SELECT sum(ntok) AS tot FROM q), " +
        "c AS (SELECT *, sum(ntok) OVER (ORDER BY score DESC, doc_id " +
        "ROWS UNBOUNDED PRECEDING) AS cum FROM q) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_sel, " +
        "CAST(sum(ntok) AS BIGINT) AS tok_sel, min(score) AS cut_score " +
        "FROM c, t WHERE cum <= tot // 4 " +
        "GROUP BY source ORDER BY source")),

    GraftQuery(
      "q189_cdc_dedup",
      "CDC-driven incremental dedup — q126's ingest gate in its OPERATIONAL form: the " +
        "increment comes from the snapshot log's change feed, not a caller-side split. " +
        "The documents corpus lands as a 2-commit log (90% standing, 10% increment by " +
        "the md5 id split), `readChanges(0, 1)` opens ONLY the delta segment (never " +
        "re-scanning standing history — at 100 TB a day's dedup reads a day's " +
        "segments), and each delta doc classifies against (a) the standing corpus's " +
        "content digests — one digest semi-join, 16-byte keys — and (b) its own batch " +
        "(first-copy election by digest window WITHIN the increment, increment-sized " +
        "partitions). Output per source: delta volume, dups vs standing, intra-batch " +
        "dups, and net-new docs — the ingest report a pipeline owner reads before " +
        "admitting a crawl drop.",
      (s, d) => {
        val dir = buildDocsLog(s, d)
        val delta = graft.ext.SnapshotLog.readChanges(s, dir, 0, 1)
          .select(col("doc_id"), col("source"), md5(col("text")).as("dg"))
        val standing = graft.ext.SnapshotLog.readAsOf(s, dir, 0)
          .select(md5(col("text")).as("dg")).distinct()
          .withColumn("hit", lit(1))
        val wFirst = Window.partitionBy(col("dg")).orderBy(col("doc_id"))
        delta.join(standing, Seq("dg"), "left")
          .withColumn("rn", row_number().over(wFirst))
          .withColumn("cls",
            when(col("hit").isNotNull, "dup_standing")
              .when(col("rn") > 1, "dup_intra")
              .otherwise("net_new"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_delta"),
            sum(when(col("cls") === "dup_standing", 1L).otherwise(0L))
              .as("n_dup_standing"),
            sum(when(col("cls") === "dup_intra", 1L).otherwise(0L))
              .as("n_dup_intra"),
            sum(when(col("cls") === "net_new", 1L).otherwise(0L))
              .as("n_net_new"))
          .orderBy(col("source"))
      },
      Some {
        def digit(i: Int) =
          s"(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),$i,1))-1)"
        "WITH spl AS (SELECT doc_id, source, text, " +
          s"CAST((${digit(1)}*4096 + ${digit(2)}*256 + ${digit(3)}*16 + ${digit(4)}) " +
          "AS BIGINT) % 10 = 0 AS inc FROM documents), " +
          "stand AS (SELECT DISTINCT md5(text) AS dg FROM spl WHERE NOT inc), " +
          "del AS (SELECT doc_id, source, md5(text) AS dg FROM spl WHERE inc), " +
          "mk AS (SELECT del.doc_id, del.source, " +
          "(del.dg IN (SELECT dg FROM stand)) AS hit, " +
          "row_number() OVER (PARTITION BY del.dg ORDER BY del.doc_id) AS rn " +
          "FROM del) " +
          "SELECT source, CAST(count(*) AS BIGINT) AS n_delta, " +
          "CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_standing, " +
          "CAST(sum(CASE WHEN NOT hit AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_intra, " +
          "CAST(sum(CASE WHEN NOT hit AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_net_new " +
          "FROM mk GROUP BY source ORDER BY source"
      }),

    GraftQuery(
      "q190_padding_efficiency",
      "Training-batch shaping audit — the padding-waste comparison that decides how a " +
        "pipeline feeds 512-token sequences: (a) naive one-doc-per-sequence padding, " +
        "(b) length-BUCKETED packing (docs rounded up to 64/128/256/512 buckets, " +
        "512 div bucket docs per sequence — the standard length-grouped batching, " +
        "computable with pure per-bucket integer math, no sequential bin state), and " +
        "(c) q89's concat-and-chunk (zero internal padding, tail-of-corpus only — the " +
        "ceiling, at the cost of docs crossing attention boundaries). Per strategy: " +
        "sequence count, padding tokens, and payload/capacity efficiency in exact ppm " +
        "(decimal accumulator — the q185 overflow rule). Three cheap narrow corpus " +
        "passes, three 1-row aggregates; every number is integer math, so the oracle " +
        "is engine-exact. Payloads truncate at 512 so all three strategies price the " +
        "same token mass.",
      (s, d) => {
        val pay = t(s, d, "documents").select(
          least(size(toks(col("text"))), lit(512)).cast("long").as("p"))
        val naive = pay
          .agg(count(lit(1)).as("n_seqs"),
            sum(lit(512L) - col("p")).as("padding_tokens"),
            sum(col("p")).as("pl"))
          .select(lit("a_naive_pad_each").as("strategy"), col("n_seqs"),
            col("padding_tokens"),
            expr("CAST(CAST(pl AS DECIMAL(38,0)) * 1000000 DIV (n_seqs * 512) " +
              "AS BIGINT)").as("efficiency_ppm"))
        val bucketed = pay
          .withColumn("b", when(col("p") <= 64, 64L).when(col("p") <= 128, 128L)
            .when(col("p") <= 256, 256L).otherwise(512L))
          .groupBy(col("b"))
          .agg(count(lit(1)).as("nb"), sum(col("p")).as("pb"))
          .select(col("pb"), expr("(nb + (512 DIV b) - 1) DIV (512 DIV b)").as("nseq"))
          .agg(sum(col("nseq")).as("n_seqs"),
            sum(col("nseq") * 512 - col("pb")).as("padding_tokens"),
            sum(col("pb")).as("pl"))
          .select(lit("b_length_bucketed").as("strategy"), col("n_seqs"),
            col("padding_tokens"),
            expr("CAST(CAST(pl AS DECIMAL(38,0)) * 1000000 DIV (n_seqs * 512) " +
              "AS BIGINT)").as("efficiency_ppm"))
        val concat = pay.agg(sum(col("p")).as("pl"))
          .select(lit("c_concat_chunk").as("strategy"),
            expr("(pl + 511) DIV 512").as("n_seqs"),
            expr("((pl + 511) DIV 512) * 512 - pl").as("padding_tokens"),
            expr("CAST(CAST(pl AS DECIMAL(38,0)) * 1000000 DIV " +
              "(((pl + 511) DIV 512) * 512) AS BIGINT)").as("efficiency_ppm"))
        naive.unionByName(bucketed).unionByName(concat)
          .orderBy(col("strategy"))
      },
      Some("WITH p AS (SELECT least(len(string_split(text,' ')), 512) AS p " +
        "FROM documents), " +
        "bk AS (SELECT CASE WHEN p <= 64 THEN 64 WHEN p <= 128 THEN 128 " +
        "WHEN p <= 256 THEN 256 ELSE 512 END AS b, count(*) AS nb, sum(p) AS pb " +
        "FROM p GROUP BY 1) " +
        "SELECT 'a_naive_pad_each' AS strategy, CAST(count(*) AS BIGINT) AS n_seqs, " +
        "CAST(sum(512 - p) AS BIGINT) AS padding_tokens, " +
        "CAST(sum(p) * 1000000 // (count(*) * 512) AS BIGINT) AS efficiency_ppm " +
        "FROM p " +
        "UNION ALL SELECT 'b_length_bucketed', " +
        "CAST(sum((nb + (512//b) - 1) // (512//b)) AS BIGINT), " +
        "CAST(sum(((nb + (512//b) - 1) // (512//b)) * 512 - pb) AS BIGINT), " +
        "CAST(sum(pb) * 1000000 // (sum((nb + (512//b) - 1) // (512//b)) * 512) " +
        "AS BIGINT) FROM bk " +
        "UNION ALL SELECT 'c_concat_chunk', " +
        "CAST((sum(p) + 511) // 512 AS BIGINT), " +
        "CAST(((sum(p) + 511) // 512) * 512 - sum(p) AS BIGINT), " +
        "CAST(sum(p) * 1000000 // (((sum(p) + 511) // 512) * 512) AS BIGINT) " +
        "FROM p ORDER BY strategy")),

    GraftQuery(
      "q90_cms_freq",
      "Count-min-sketch point-frequency check (native cms_sketch TypedImperativeAggregate + cms_estimate probe): the 100 TB frequency path keeps a fixed 7x2000 counter grid whose partials merge by elementwise ADDITION — map-side combine ships ~110 KiB per partition, never the keys — versus the exact groupBy that shuffles every distinct token. Output pins the sketch's estimate against the exact count for the corpus's top-20 tokens: CMS only ever over-counts, so est_cnt >= exact_cnt with err <= eps*N (CmsSketchSpec proves the bound and merge-order invariance). No SQL oracle: counter-grid layouts aren't portable across engines (rows-only, like q85's HLL).",
      (s, d) => {
        graft.functions.CmsAgg.ensureRegistered(s)
        graft.functions.CmsEstimate.ensureRegistered(s)
        val tok = t(s, d, "documents")
          .select(explode(toks(col("text"))).as("tok"))
          .select(col("tok"), xxhash64(col("tok")).as("tk"))
        val sketch = tok.agg(expr("cms_sketch(tk)").as("cms"))
        val top = tok.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("tok")).limit(20)
        top.crossJoin(broadcast(sketch))
          .select(col("tok"), col("exact_cnt"),
            expr("cms_estimate(cms, xxhash64(tok))").as("est_cnt"))
          .withColumn("overcount", col("est_cnt") - col("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("tok"))
      },
      None),

    GraftQuery(
      "q91_bottomk_sample",
      "Per-stratum bottom-k sampling: each source keeps its k=3 documents with the smallest md5(doc_id) — a uniform-without-replacement draw that is a pure function of the stable ids, so every engine and rerun (and an incremental backfill) selects the identical subset; unlike the q81 fixed-rate filter this yields an EXACT per-stratum sample size. One shuffle on the stratum key; the per-stratum window never sees more than a stratum (at 100 TB, a pre-filter on an approximate global hash threshold bounds even that).",
      (s, d) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        t(s, d, "documents")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("source"), col("rk"), col("doc_id"), col("n_chars"))
          .orderBy(col("source"), col("rk"))
      },
      Some("WITH r AS (SELECT source, doc_id, n_chars, row_number() OVER " +
        "(PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk " +
        "FROM documents) " +
        "SELECT source, rk, doc_id, n_chars FROM r WHERE rk <= 3 " +
        "ORDER BY source, rk")),

    GraftQuery(
      "q92_dedup_clusters",
      "Near-dup cluster resolution — the survivor-selection step a dedup pipeline runs AFTER candidate pairs are found: connected components over the q41 near-dup pair graph via distributed min-label propagation (each round: one join of edges to labels + a min aggregate; the driver holds only the convergence counter). The near-dup graph's components have tiny diameters (duplicates of a duplicate are duplicates), so rounds ~= 3; at 100 TB the identical join+min building blocks run the alternating large-star/small-star algorithm for worst-case-diameter graphs. Output: every clustered doc with its canonical (min doc_id) cluster id, cluster size, and a keep flag electing one survivor per cluster.",
      (s, d) => {
        val sh = cachedShingles(t(s, d, "documents"))
        val p = lshPairs(s, sh).select(col("da"), col("db"))
        val edges = pin(p.union(p.select(col("db").as("da"), col("da").as("db")))
          .toDF("src", "dst"))
        val labels = connectedLabels(edges)
        val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
        labels.join(sizes, Seq("lbl"))
          .select(col("lbl").as("cluster_id"), col("v").as("doc_id"),
            col("cluster_size"), (col("v") === col("lbl")).as("keep"))
          .orderBy(col("cluster_id"), col("doc_id"))
      },
      Some("WITH " + ccLabelCteSql + " SELECT cluster_id, doc_id, " +
        "CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size, " +
        "doc_id = cluster_id AS keep " +
        "FROM lbl ORDER BY cluster_id, doc_id")),

    GraftQuery(
      "q185_soft_dedup_yield",
      "Soft deduplication accounting — the downweight-instead-of-drop policy (keep every " +
        "near-dup but weight it 1/cluster_size, so each duplicated CONTENT contributes one " +
        "unit of training signal regardless of copy count): per source, the raw token " +
        "mass vs the effective token mass after downweighting — the table that tells a " +
        "mixture owner how much of a source's apparent volume is duplicated content. " +
        "Clusters are the SAME connected components as q92 (shared pinned pair kernel + " +
        "label propagation); weights are integer parts-per-million (1000000 div " +
        "cluster_size), so every aggregate is a sum of exact integers and the oracle " +
        "match is engine-exact by construction — no float-sum-order hazard. One join of " +
        "the corpus to the cluster-size table (dup-density-sized, not corpus-sized), " +
        "then a sources-sized rollup; at 100 TB nothing here exceeds the dedup pass " +
        "it reuses.",
      (s, d) => softDedupYieldOf(s, t(s, d, "documents")),
      Some("WITH " + ccLabelCteSql + ", " +
        "cs AS (SELECT cluster_id, count(*) AS csize FROM lbl GROUP BY cluster_id), " +
        "wt AS (SELECT lbl.doc_id, 1000000 // csize AS w_ppm " +
        "FROM lbl JOIN cs USING (cluster_id)), " +
        "dt AS (SELECT doc_id, source, len(string_split(text,' ')) AS tok_n " +
        "FROM documents) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(CASE WHEN w_ppm IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered, " +
        "CAST(sum(tok_n) AS BIGINT) AS raw_tokens, " +
        "CAST(sum(tok_n * COALESCE(w_ppm, 1000000)) // 1000000 AS BIGINT) AS eff_tokens " +
        "FROM dt LEFT JOIN wt USING (doc_id) " +
        "GROUP BY source ORDER BY source")),

    GraftQuery(
      "q93_pii_redact",
      "PII scrubbing kernel — the mandatory pre-training redaction pass: regexp_replace chains mask email addresses and phone numbers map-side (codegen'd, zero shuffle until the final per-segment rollup). The fixture corpus carries no PII, so the kernel is exercised against contact blobs synthesized IN the plan from customer keys — both engines build the identical string, so the oracle pins the redaction REGEXES exactly (match counts, masked-character totals, and a sample redacted value per segment). At 100 TB this is a pure narrow map over the corpus: no state, no skew sensitivity, and the scan reads only the projected columns.",
      (s, d) => {
        val emailPat = "[a-z0-9_#]+@[a-z]+\\.[a-z]+"
        val phonePat = "555-[0-9]{4}"
        val blob = t(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"),
            concat(col("c_name"), lit(" <"),
              lower(translate(col("c_name"), "#", "_")), lit("@example.com> tel 555-"),
              lpad((col("c_custkey") % 10000).cast("string"), 4, "0")).as("contact"))
        blob
          .withColumn("redacted",
            regexp_replace(regexp_replace(col("contact"), emailPat, "[EMAIL]"),
              phonePat, "[PHONE]"))
          .withColumn("n_emails", regexp_count(col("contact"), lit(emailPat)))
          .withColumn("n_phones", regexp_count(col("contact"), lit(phonePat)))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_contacts"),
            sum(col("n_emails")).as("n_emails"),
            sum(col("n_phones")).as("n_phones"),
            sum(length(col("contact")) - length(col("redacted"))).as("chars_masked"),
            min(col("redacted")).as("sample_redacted"))
          .orderBy(col("c_mktsegment"))
      },
      Some("WITH b AS (SELECT c_custkey, c_mktsegment, c_name || ' <' || " +
        "lower(replace(c_name, '#', '_')) || '@example.com> tel 555-' || " +
        "lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS contact FROM customer), " +
        "r AS (SELECT c_mktsegment, contact, " +
        "regexp_replace(regexp_replace(contact, '[a-z0-9_#]+@[a-z]+\\.[a-z]+', '[EMAIL]', 'g'), " +
        "'555-[0-9]{4}', '[PHONE]', 'g') AS redacted, " +
        "len(regexp_extract_all(contact, '[a-z0-9_#]+@[a-z]+\\.[a-z]+')) AS n_emails, " +
        "len(regexp_extract_all(contact, '555-[0-9]{4}')) AS n_phones FROM b) " +
        "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_contacts, " +
        "CAST(sum(n_emails) AS BIGINT) AS n_emails, " +
        "CAST(sum(n_phones) AS BIGINT) AS n_phones, " +
        "CAST(sum(len(contact) - len(redacted)) AS BIGINT) AS chars_masked, " +
        "min(redacted) AS sample_redacted " +
        "FROM r GROUP BY c_mktsegment ORDER BY c_mktsegment")),

    GraftQuery(
      "q94_weighted_sample",
      "Weighted sampling without replacement (Efraimidis–Spirtsos A-ES): each doc draws u from the md5 of its stable id (32-bit resolution, partition-invariant — the RatingSynth lesson: never a seeded RNG) and is ranked by key = -ln(u)/weight with n_chars as the weight; the global smallest-k keys are the sample. Every engine, rerun, and incremental backfill draws the identical sample. Ranking happens on the 9-decimal-ROUNDED key with a doc_id tiebreak so sub-ulp ln() differences between engines cannot flip the cutoff. At 100 TB the top-k is Spark's TakeOrderedAndProject: per-partition bounded heaps, only k rows per partition reach the driver-side merge — never a global sort.",
      (s, d) => {
        val u32 = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long")
        val u = (u32.cast("double") + lit(0.5)) / lit(4294967296.0)
        t(s, d, "documents")
          .withColumn("samp_key", round(-log(u) / col("n_chars"), 9))
          .orderBy(col("samp_key"), col("doc_id"))
          .limit(20)
          .select(col("doc_id"), col("source"), col("n_chars"), col("samp_key"))
      },
      Some("WITH k AS (SELECT doc_id, source, n_chars, " +
        s"round(-ln((${md5U32Sql("doc_id")} + 0.5) / 4294967296.0) / n_chars, 9) " +
        "AS samp_key FROM documents) " +
        "SELECT doc_id, source, n_chars, samp_key FROM k " +
        "ORDER BY samp_key, doc_id LIMIT 20")),

    GraftQuery(
      "q95_pmi_bigrams",
      "Collocation mining — top-20 bigrams by pointwise mutual information, the classic phrase-detection pass (word2vec preprocessing, tokenizer-vocab curation): PMI = ln(c12·N / (c1·c2)) from three token-key groupBys (pair count, first-slot count, second-slot count) plus the corpus bigram total as a broadcast 1-row aggregate (the q69 pattern — N never hits the driver). A min-count floor of 5 kills the low-frequency PMI explosion. All shuffles are on token/bigram keys — linear at 100 TB; the final top-20 is a bounded-heap TakeOrdered, not a sort.",
      (s, d) => {
        val base = t(s, d, "documents")
          .select(toks(col("text")).as("tk"))
          .filter(size(col("tk")) >= 2)
          .select(explode(shingles(col("tk"), 2)).as("bigram"))
          .select(col("bigram"),
            substring_index(col("bigram"), " ", 1).as("w1"),
            substring_index(col("bigram"), " ", -1).as("w2"))
        val c12 = base.groupBy(col("bigram")).agg(count(lit(1)).as("n_pair"))
          .withColumn("w1", substring_index(col("bigram"), " ", 1))
          .withColumn("w2", substring_index(col("bigram"), " ", -1))
        val c1 = base.groupBy(col("w1")).agg(count(lit(1)).as("n_first"))
        val c2 = base.groupBy(col("w2")).agg(count(lit(1)).as("n_second"))
        val nTot = base.agg(count(lit(1)).cast("double").as("nn"))
        c12.join(c1, Seq("w1")).join(c2, Seq("w2"))
          .crossJoin(broadcast(nTot))
          .filter(col("n_pair") >= 5)
          .withColumn("pmi",
            round(log(col("n_pair") * col("nn") / (col("n_first") * col("n_second"))), 6))
          .select(col("bigram"), col("n_pair"), col("n_first"), col("n_second"), col("pmi"))
          .orderBy(col("pmi").desc, col("bigram"))
          .limit(20)
      },
      Some("WITH tk AS (SELECT string_split(text,' ') AS t FROM documents), " +
        "bg AS (SELECT t[i] || ' ' || t[i+1] AS bigram, t[i] AS w1, t[i+1] AS w2 " +
        "FROM tk, UNNEST(range(1, len(t))) x(i) WHERE len(t) >= 2), " +
        "c12 AS (SELECT bigram, count(*) AS n_pair FROM bg GROUP BY bigram), " +
        "c1 AS (SELECT w1, count(*) AS n_first FROM bg GROUP BY w1), " +
        "c2 AS (SELECT w2, count(*) AS n_second FROM bg GROUP BY w2), " +
        "n AS (SELECT count(*)*1.0 AS nn FROM bg) " +
        "SELECT c.bigram, c.n_pair, c1.n_first, c2.n_second, " +
        "round(ln(c.n_pair * nn / (c1.n_first * c2.n_second)), 6) AS pmi " +
        "FROM c12 c JOIN c1 ON c1.w1 = string_split(c.bigram,' ')[1] " +
        "JOIN c2 ON c2.w2 = string_split(c.bigram,' ')[2], n " +
        "WHERE c.n_pair >= 5 ORDER BY pmi DESC, c.bigram LIMIT 20")),

    GraftQuery(
      "q96_zipf_spectrum",
      "Token frequency-of-frequencies (the Zipf audit a corpus health check runs before vocab/tokenizer training): token counts bucket into powers of two — floor(log2(f)) is exact on integer f, so engines cannot disagree at bucket boundaries — and each bucket reports how many distinct tokens and how many total occurrences it holds. Two hash shuffles (token key, then ~60 bucket keys); map-side combine makes the second negligible. A corpus whose spectrum head is fat (few tokens dominating occurrences) flags template/boilerplate contamination.",
      (s, d) => {
        t(s, d, "documents")
          .select(explode(toks(col("text"))).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("f"))
          .withColumn("bucket", floor(log2(col("f"))).cast("int"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_tokens"), sum(col("f")).as("n_occurrences"))
          .orderBy(col("bucket"))
      },
      Some("WITH f AS (SELECT tok, count(*) AS f FROM " +
        "(SELECT unnest(string_split(text,' ')) AS tok FROM documents) GROUP BY tok) " +
        "SELECT CAST(floor(log2(f)) AS INTEGER) AS bucket, " +
        "CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(sum(f) AS BIGINT) AS n_occurrences " +
        "FROM f GROUP BY bucket ORDER BY bucket")),

    GraftQuery(
      "q97_cdc_chunks",
      "Content-defined chunking (the rolling-hash/gear-hash pattern behind rsync, CDC dedup stores, and long-doc splitting): a token opens a new chunk when its stable hash lands under the cut threshold (md5 bucket < 3, ~1/33 cut rate), so chunk boundaries depend only on CONTENT — an insertion resynchronizes at the next cut point instead of shifting every downstream boundary the way fixed-width q89 chunks do. The running boundary count is a per-doc window (partitioned by doc_id — a task never sees more than one doc's tokens), then per-doc chunk stats. One shuffle on doc_id at 100 TB.",
      (s, d) => {
        val tok = t(s, d, "documents")
          .select(col("doc_id"), posexplode(toks(col("text"))))
          .toDF("doc_id", "pos", "tok")
        val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val chunks = tok
          .withColumn("chunk",
            sum(when(md5Bucket(col("tok")) < 3, 1L).otherwise(0L)).over(w))
          .groupBy(col("doc_id"), col("chunk")).agg(count(lit(1)).as("cnt"))
        chunks.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            max(col("cnt")).as("max_chunk"),
            round(avg(col("cnt")), 4).as("avg_chunk"))
          .orderBy(col("doc_id"))
      },
      Some("WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "tok AS (SELECT doc_id, i, t[i] AS tok FROM tk, UNNEST(range(1, len(t)+1)) x(i)), " +
        "ch AS (SELECT doc_id, sum(CASE WHEN " + md5BucketSql("tok") + " < 3 " +
        "THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY i " +
        "ROWS UNBOUNDED PRECEDING) AS chunk FROM tok), " +
        "cs AS (SELECT doc_id, chunk, count(*) AS cnt FROM ch GROUP BY doc_id, chunk) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks, " +
        "CAST(max(cnt) AS BIGINT) AS max_chunk, round(avg(cnt), 4) AS avg_chunk " +
        "FROM cs GROUP BY doc_id ORDER BY doc_id")),

    GraftQuery(
      "q100_bpe_pairs",
      "BPE vocabulary-learning kernel — one merge iteration of byte-pair encoding (the tokenizer-training inner loop): every adjacent character pair inside every word, counted corpus-wide, top-30 by frequency. The pair extraction is a per-row higher-order transform (sequence + substr — codegen'd, zero shuffle), the count is one hash shuffle on the 2-char pair key with map-side combine (at most ~vocab² ≈ thousands of distinct keys, so the reduce side is tiny no matter the corpus size), and the top-30 is a bounded-heap TakeOrdered. The full trainer that loops this kernel with a broadcast winning pair is q134_bpe_train.",
      (s, d) => {
        val words = t(s, d, "documents")
          .select(explode(toks(col("text"))).as("w"))
          .filter(length(col("w")) >= 2)
        words
          .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
            i => col("w").substr(i, lit(2)))).as("pair"))
          .groupBy(col("pair")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair"))
          .limit(30)
      },
      Some("WITH w AS (SELECT unnest(string_split(text,' ')) AS w FROM documents), " +
        "p AS (SELECT substr(w, i, 2) AS pair FROM w, UNNEST(range(1, length(w))) x(i) " +
        "WHERE length(w) >= 2) " +
        "SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p " +
        "GROUP BY pair ORDER BY n DESC, pair LIMIT 30")),

    GraftQuery(
      "q101_inverted_index",
      "Inverted-index construction — term → document-frequency + sorted posting list, the retrieval-side artifact a dedup/contamination pipeline shares with search: per-doc distinct terms (array_distinct before the explode, so a term repeated in one doc posts once), one hash shuffle on the term key, postings sorted post-agg so accumulation order can't leak into the output (the q57 rule). Emitted as a comma-joined string — the serving-layer shape — with a df ≥ 10 floor and a top-100 cap so the result stays bounded while the build itself is linear: at 100 TB the same plan writes the full index out partitioned by term-hash instead of taking the head.",
      (s, d) => {
        t(s, d, "documents")
          .select(col("doc_id"), toks(col("text")).as("tk"))
          .select(col("doc_id"), explode(array_distinct(col("tk"))).as("tok"))
          .groupBy(col("tok"))
          .agg(count(lit(1)).as("df"),
            array_join(array_sort(collect_list(col("doc_id"))), ",").as("postings"))
          .filter(col("df") >= 10)
          .orderBy(col("df").desc, col("tok"))
          .limit(100)
      },
      Some("WITH p AS (SELECT DISTINCT doc_id, tok FROM " +
        "(SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents)) " +
        "SELECT tok, CAST(count(*) AS BIGINT) AS df, " +
        "array_to_string(list_sort(list(doc_id)), ',') AS postings " +
        "FROM p GROUP BY tok HAVING count(*) >= 10 " +
        "ORDER BY df DESC, tok LIMIT 100")),

    GraftQuery(
      "q141_bm25_topk",
      "BM25 retrieval (Robertson/Okapi, k1=1.2 b=0.75, Lucene idf) — the lexical ranking half of a retrieval/contamination stack, over the q101 inverted-index statistics: query = the corpus's top-3 df terms (derived IN the plan, so the query is deterministic at every SF with no literal tied to one fixture), per-(doc, term) tf from one token explode, per-term idf from the df table joined back under a broadcast, per-doc length norm against the broadcast corpus avgdl, top-20 docs by rounded score. idf and the tf norm each round to 6dp BEFORE the product (the shared determinism rule: ulp differences between Spark's and DuckDB's ln/avg stay far below the rounding granularity), constants are written as identical decimal literals on both engines, and ranking sorts the rounded score with a doc_id tiebreak. Scale: tf/df are the q101 hash shuffles on term keys, the stats sides broadcast (3-row query set, 1-row avgdl), the final top-20 is a bounded TakeOrdered — no corpus-sized sort, no driver loop; the row_number window runs on the 20 surviving rows only.",
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), toks(col("text")).as("tk"))
        val lens = docs.select(col("doc_id"), size(col("tk")).cast("double").as("dl"))
        val stats = lens.agg(count(lit(1)).cast("double").as("n_docs"),
          avg(col("dl")).as("avgdl"))
        val tf = docs.select(col("doc_id"), explode(col("tk")).as("tok"))
          .groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).cast("double").as("tf"))
        val qterms = tf.groupBy(col("tok"))
          .agg(count(lit(1)).cast("double").as("df"))
          .orderBy(col("df").desc, col("tok")).limit(3)
        val scored = tf.join(broadcast(qterms), Seq("tok"))
          .join(lens, Seq("doc_id"))
          .crossJoin(broadcast(stats))
          .withColumn("idf", round(log(lit(1.0) +
            (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 6))
          .withColumn("tfn", round(col("tf") * lit(2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 6))
          .groupBy(col("doc_id"))
          .agg(round(sum(col("idf") * col("tfn")), 6).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id")).limit(20)
        scored.withColumn("rn", row_number().over(
            Window.orderBy(col("bm25").desc, col("doc_id"))))
          .select(col("doc_id"), col("bm25"), col("rn"))
          .orderBy(col("rn"))
      },
      Some("WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
        "lens AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM tk), " +
        "st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lens), " +
        "tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM " +
        "(SELECT doc_id, unnest(tk) AS tok FROM tk) GROUP BY doc_id, tok), " +
        "qt AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok " +
        "ORDER BY count(*) DESC, tok LIMIT 3), " +
        "sc AS (SELECT doc_id, round(sum(" +
        "round(ln(1.0 + (n_docs - df + 0.5)/(df + 0.5)), 6) * " +
        "round(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6)), 6) AS bm25 " +
        "FROM tf JOIN qt USING (tok) JOIN lens USING (doc_id), st GROUP BY doc_id " +
        "ORDER BY bm25 DESC, doc_id LIMIT 20) " +
        "SELECT doc_id, bm25, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rn " +
        "FROM sc ORDER BY rn")),

    GraftQuery(
      "q156_hybrid_rrf",
      "Hybrid retrieval fusion — reciprocal-rank fusion (RRF, Cormack et al. 2009, the k=60 constant every production hybrid search uses) of a LEXICAL ranking and a DENSE ranking for the same query set, the modern two-tower retrieval shape: query docs (doc_id < 5; doc_id = vec_id links the modalities, the q123 convention) rank the corpus (a) lexically by summed Lucene idf over shared distinct tokens (the q141 statistics on set-semantics tokens) and (b) densely by embedding cosine (the q50 kernel), each arm keeping its top-10 (self excluded, rounded scores, doc_id tiebreak); fusion outer-merges the two lists per (query, doc) and scores 1/(60+rank) per arm (0 for an arm that missed the doc — reported as rank 0, so the output also audits ARM DISAGREEMENT, which on this fixture is total: embeddings are independent of text, exactly what q123 exposes). Determinism: idf terms round at 6dp before summing, cosines at 6dp, RRF scores at 6dp from exact integer ranks. Scale: the lexical arm reads the 5 query docs' token arrays, their tokens' df and n_docs to the driver, then scores in one pass over the memoized doc-keyed token table with a bounded heap per query; the dense arm is the q50 kernel: 5 query vectors broadcast over one corpus pass with a bounded heap per query, merged on the driver; fusion merges the two <=10-row-per-query lists on the driver — linear everywhere, the corpus is never pairwise.",
      (s, d) => {
        // lexical arm through the MEMOIZED corpus stats + the shared
        // lexicalTopK/rrfFuse kernels — the same definitions
        // GraftEngine.hybridTopK serves from, so the registered query
        // and the facade can never drift (and the bench row is
        // serving-only once warmLexStats has run)
        val (docToks, _, _) = lexStats(s, d)
        val qs = docToks.filter(col("doc_id") < 5).collect().toSeq
          .map(r => (r.getLong(0), r.getSeq[String](1).toArray))
        val lex = lexicalTopK(s, d, qs, 10)
        val e = Tables.load(s, d, "embeddings")
        val dense = VectorOps.exactTopKOf(e, e.filter(col("vec_id") < 5)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")), 10)
          .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
        rrfFuse(s, lex, dense)
      },
      Some("WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "dt AS (SELECT DISTINCT doc_id, tok FROM tk), " +
        "dfT AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM dt GROUP BY tok), " +
        "n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents), " +
        "qt AS (SELECT doc_id AS q_id, tok FROM dt WHERE doc_id < 5), " +
        "lex AS (SELECT q_id, d.doc_id, round(sum(" +
        "round(ln(1.0 + (n_docs - df + 0.5)/(df + 0.5)), 6)), 6) AS s " +
        "FROM qt JOIN dt d USING (tok) JOIN dfT USING (tok), n " +
        "WHERE d.doc_id <> q_id GROUP BY q_id, d.doc_id), " +
        "lt AS (SELECT q_id, doc_id, lex_rn FROM (SELECT q_id, doc_id, " +
        "CAST(row_number() OVER (PARTITION BY q_id ORDER BY s DESC, doc_id) AS INTEGER) AS lex_rn " +
        "FROM lex) WHERE lex_rn <= 10), " +
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
        "q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 5), " +
        "den AS (SELECT q_id, e.vec_id AS doc_id, " +
        "round(list_inner_product(q_emb, emb)/" +
        "(sqrt(list_inner_product(q_emb, q_emb))*sqrt(list_inner_product(emb, emb))), 6) AS cos_r " +
        "FROM q JOIN e ON e.vec_id <> q.q_id), " +
        "dn AS (SELECT q_id, doc_id, dense_rn FROM (SELECT q_id, doc_id, " +
        "CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, doc_id) AS INTEGER) AS dense_rn " +
        "FROM den) WHERE dense_rn <= 10), " +
        "f AS (SELECT coalesce(lt.q_id, dn.q_id) AS q_id, " +
        "coalesce(lt.doc_id, dn.doc_id) AS doc_id, " +
        // the coalesced outputs get DISTINCT aliases (lex_rn0) so the rrf
        // expression in the same SELECT list unambiguously reads the raw
        // nullable join columns — a missed arm must score 0, never 1/60,
        // regardless of how the engine resolves lateral aliases
        "coalesce(lex_rn, 0) AS lex_rn0, coalesce(dense_rn, 0) AS dense_rn0, " +
        "round(coalesce(1.0/(60 + lex_rn), 0) + coalesce(1.0/(60 + dense_rn), 0), 6) AS rrf " +
        "FROM lt FULL OUTER JOIN dn ON lt.q_id = dn.q_id AND lt.doc_id = dn.doc_id) " +
        "SELECT q_id, doc_id, lex_rn0 AS lex_rn, dense_rn0 AS dense_rn, rrf, " +
        "CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS INTEGER) AS rn " +
        "FROM f ORDER BY q_id, rn")),

    GraftQuery(
      "q142_pair_pagerank",
      "PageRank over the verified near-dup pair graph — dup-cluster centrality, the signal that elects each cluster's CANONICAL document (the copy most connected to the rest, e.g. the hub a crawl re-crawled) rather than q40's arbitrary keep-lowest-id: symmetrize the pinned pair kernel into an edge list, then 8 damped power-iterations r = 0.15 + 0.85*sum(r(u)/deg(u)) with each iteration's rank ROUNDED to 9dp (the q134 round-by-round pinning rule, so Spark's and DuckDB's float summation order can never drift across iterations; the DuckDB twin unrolls the same 8 rounds as CTEs). Per iteration: one join of the edge list against the rank table and one groupBy on the destination key — Pregel's shape in two shuffles, no driver-side rank state — with each generation localCheckpoint'ed (the bpeLoop/connectedLabels posture) so the plan stays constant-size instead of nesting 8 rounds deep. The oracle path runs the pinned fixed 8 rounds; a residual-tolerance early exit exists as the non-oracle serving option (pageRankRanks tol — PageRankSpec pins its agreement with the fixed loop). The graph is dup-density-scale (nodes = docs WITH a near-dup, never the corpus), so at 100 TB the edge list is the small output of the LSH kernel and iterations cost O(edges); rank converges in O(log n) rounds on these tiny components.",
      (s, d) => {
        val p = lshPairs(s, cachedShingles(t(s, d, "documents")))
          .select(col("da"), col("db"))
        val edges = p.unionAll(
          p.select(col("db").as("da"), col("da").as("db")))
        val deg = edges.groupBy(col("da"))
          .agg(count(lit(1)).cast("double").as("deg"))
        val rank = pageRankRanks(edges.join(deg, Seq("da")), deg,
          rounds = 8, tol = None)
        rank.join(deg.select(col("da").as("doc_id"), col("deg")), Seq("doc_id"))
          .select(col("doc_id"), col("deg").cast("long").as("deg"),
            round(col("r"), 6).as("pr"))
          .orderBy(col("pr").desc, col("doc_id"))
      },
      Some {
        val iters = (1 to 8).map { i =>
          s"r$i AS (SELECT e.db AS doc_id, " +
            "round(0.15 + 0.85 * sum(p.r / d.deg), 9) AS r " +
            s"FROM ed e JOIN r${i - 1} p ON e.da = p.doc_id " +
            "JOIN deg d ON e.da = d.da GROUP BY e.db)"
        }.mkString(", ")
        s"WITH $pairsCteSql, " +
          "ed AS (SELECT da, db FROM jp UNION ALL SELECT db AS da, da AS db FROM jp), " +
          "deg AS (SELECT da, CAST(count(*) AS DOUBLE) AS deg FROM ed GROUP BY da), " +
          "r0 AS (SELECT da AS doc_id, 1.0 AS r FROM deg), " +
          iters + " " +
          "SELECT r8.doc_id, CAST(deg.deg AS BIGINT) AS deg, round(r8.r, 6) AS pr " +
          "FROM r8 JOIN deg ON r8.doc_id = deg.da ORDER BY pr DESC, doc_id"
      }),

    GraftQuery(
      "q143_compression_quality",
      "Compression-ratio quality audit — the cheap repetitiveness signal large-corpus curation runs beside the heuristic filters (machine-generated/boilerplate text DEFLATEs far tighter than prose, so compressed/raw size separates them at one CPU pass, no model): per-doc ratio = deflate_size(text)/raw bytes via the native codegen'd `deflate_size` expression (functions/DeflateSize — fixed level, one zlib implementation, so the ratio is deterministic across reruns and partitionings), rolled up per source with the share of docs under the 0.35 highly-repetitive floor and the ratio spread. A pure narrow map over the corpus — the only shuffle is the ~20-key source rollup; at 100 TB this is exactly one streaming pass. Oracle-checked via the round-13 EXPORTED-STATE pattern (DuckDB has no deflate scalar, so the CODEC stays engine-side): q205 dumps the per-doc raw/deflate byte sizes, the DuckDB twin reads that dump (__OUTDIR__ substitution) and independently recomputes the ratios, the rollup, the spread and the 0.35 gate — the ANALYSIS is cross-engine-verified while the codec itself stays pinned by Round10OpsSpec's direct java.util.zip recomputation of every per-doc size.",
      (s, d) => {
        graft.functions.DeflateSize.ensureRegistered(s)
        t(s, d, "documents")
          .withColumn("raw_bytes", octet_length(col("text")))
          .withColumn("ratio",
            round(expr("deflate_size(text)").cast("double")
              / col("raw_bytes"), 6))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            round(avg(col("ratio")), 6).as("avg_ratio"),
            min(col("ratio")).as("min_ratio"),
            max(col("ratio")).as("max_ratio"),
            sum(when(col("ratio") < 0.35, 1L).otherwise(0L)).as("n_repetitive"))
          .orderBy(col("source"))
      },
      Some("WITH dz AS (SELECT source, raw_bytes, deflate_bytes FROM " +
        "read_parquet('__OUTDIR__/q205_deflate_sizes/*.parquet')), " +
        "r AS (SELECT source, round(deflate_bytes*1.0/raw_bytes, 6) AS ratio " +
        "FROM dz) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "round(avg(ratio), 6) AS avg_ratio, " +
        "min(ratio) AS min_ratio, max(ratio) AS max_ratio, " +
        "CAST(sum(CASE WHEN ratio < 0.35 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_repetitive " +
        "FROM r GROUP BY source ORDER BY source")),

    GraftQuery(
      "q205_deflate_sizes",
      "Per-document codec-size EXPORT — (doc_id, source, raw bytes, deflate " +
        "bytes) off the native `deflate_size` expression: the exported-state " +
        "input that lets q143's compression-quality ANALYSIS be " +
        "DuckDB-oracle-checked even though no deflate scalar exists in the " +
        "oracle engine (the q204 pattern: codec engine-side and spec-pinned, " +
        "arithmetic cross-engine-verified). Rows-only by contract — the " +
        "content is the codec output itself, pinned per-doc by " +
        "Round10OpsSpec's direct java.util.zip recomputation. One narrow " +
        "codegen'd pass, zero shuffles.",
      (s, d) => {
        graft.functions.DeflateSize.ensureRegistered(s)
        t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            octet_length(col("text")).as("raw_bytes"),
            expr("deflate_size(text)").cast("long").as("deflate_bytes"))
          .orderBy(col("doc_id"))
      },
      None),

    GraftQuery(
      "q144_gopher_rules",
      "Gopher-style rule battery (the public Rae et al. 2021 repetition/format filters, completing the quality-filter surface beside q46 heuristics / q107 C4 funnel / q130 CCNet buckets / q143 compression): per-document word-count bounds [50, 100000], mean word length in [3, 10], symbol-to-word ratio (# and ... marks) <= 0.1, >= 80% of words containing an alphabetic character, >= 2 distinct stopwords (Gopher's published 8-word list swapped for the engine's q46 stand-in list — the synthetic fixture vocabulary contains only 'the'/'a'/'is' of Gopher's; the rule SHAPE and arity are what's exercised), bullet-prefixed line share <= 0.9, ellipsis-terminated line share <= 0.3, and duplicate-line fraction <= 0.3, plus the duplicate-word fraction as a reported (non-gating) repetition signal; gopher_pass is the conjunction, evaluated on the 6dp-ROUNDED ratios so both engines gate identically at threshold boundaries. Every rule is a per-row codegen'd string/array op — the whole battery is ONE narrow map over the corpus, zero shuffles, zero UDFs; at 100 TB it composes into the same single streaming pass as q107 (QualityFunnelSpec pins the conjunction against an independent recomputation and the composition with the C4 funnel).",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id") +: gopherMetrics(col("text")): _*)
        .withColumn("gopher_pass", gopherPass)
        .orderBy(col("doc_id")),
      Some("WITH s AS (SELECT doc_id, text, string_split(text,' ') AS sp, " +
        "string_split(text, chr(10)) AS ln FROM documents), " +
        "m AS (SELECT doc_id, " +
        "CAST(len(sp) AS INTEGER) AS n_words, " +
        "round(len(replace(text,' ',''))*1.0/len(sp), 6) AS mean_word_len, " +
        "round((len(text)-len(replace(text,'#','')) + len(regexp_extract_all(text,'\\.\\.\\.')))*1.0/len(sp), 6) AS symbol_ratio, " +
        "round(len(list_filter(sp, w -> regexp_matches(w,'[a-z]')))*1.0/len(sp), 6) AS alpha_word_ratio, " +
        "CAST(len(list_filter(list_distinct(sp), t -> t IN ('the','a','of','and','to','in','is','it'))) AS INTEGER) AS stop_hits, " +
        "round(len(list_filter(ln, l -> substr(ltrim(l),1,1) IN ('-','*','•')))*1.0/len(ln), 6) AS bullet_share, " +
        "round(len(list_filter(ln, l -> (rtrim(l) LIKE '%...') OR (rtrim(l) LIKE '%…')))*1.0/len(ln), 6) AS ellipsis_share, " +
        "round((len(ln)-len(list_distinct(ln)))*1.0/len(ln), 6) AS dup_line_frac, " +
        "round((len(sp)-len(list_distinct(sp)))*1.0/len(sp), 6) AS dup_word_frac " +
        "FROM s) " +
        "SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio, " +
        "stop_hits, bullet_share, ellipsis_share, dup_line_frac, dup_word_frac, " +
        "(n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0 " +
        "AND symbol_ratio <= 0.1 AND alpha_word_ratio >= 0.8 AND stop_hits >= 2 " +
        "AND bullet_share <= 0.9 AND ellipsis_share <= 0.3 " +
        "AND dup_line_frac <= 0.3) AS gopher_pass " +
        "FROM m ORDER BY doc_id")),

    GraftQuery(
      "q145_ngram_repetition",
      "Gopher duplicate-n-gram repetition rules — the shuffle-based half of the battery q144's per-row rules can't see (Rae et al. 2021 table A1: a document whose most frequent word 2/3/4-gram accounts for too much of its text is template/boilerplate spam even when every per-row format check passes): per doc and per n in {2,3,4}, top_n_frac = the largest character mass any single n-gram accounts for (occurrences x non-space gram chars) over the doc's non-space chars, gated at Gopher's published <= 0.20 / 0.18 / 0.16. Deterministic by construction — the metric is a pure MAX of integer products (no 'which gram was most frequent' tie-break ever surfaces), divided once and rounded to 6dp, so both engines agree at the thresholds. Plan shape: one explode + count per n on the (doc_id, gram) key — the q101/q95 token-key shuffle posture, never an all-pairs; docs shorter than n words contribute frac 0 via the left join from the corpus spine. At 100 TB each n-pass is candidate-volume-linear in total tokens and the three passes share one tokenized projection.",
      (s, d) => {
        val base = t(s, d, "documents")
          .select(col("doc_id"), toks(col("text")).as("tk"),
            length(translate(col("text"), " ", ""))
              .cast("double").as("chars"))
        def top(n: Int) =
          base.filter(size(col("tk")) >= n)
            .select(col("doc_id"), col("chars"),
              explode(shingles(col("tk"), n)).as("g"))
            .groupBy(col("doc_id"), col("chars"), col("g"))
            .agg(count(lit(1)).as("c"))
            .groupBy(col("doc_id"))
            .agg(round(
              max(col("c") * (length(col("g")) - lit(n - 1))).cast("double")
                / max(col("chars")), 6).as(s"top${n}_frac"))
        base.select(col("doc_id"))
          .join(top(2), Seq("doc_id"), "left")
          .join(top(3), Seq("doc_id"), "left")
          .join(top(4), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("top2_frac"), lit(0.0)).as("top2_frac"),
            coalesce(col("top3_frac"), lit(0.0)).as("top3_frac"),
            coalesce(col("top4_frac"), lit(0.0)).as("top4_frac"))
          .withColumn("rep_pass",
            col("top2_frac") <= 0.20 && col("top3_frac") <= 0.18 &&
              col("top4_frac") <= 0.16)
          .orderBy(col("doc_id"))
      },
      Some("WITH tok AS (SELECT doc_id, string_split(text,' ') AS sp, " +
        "len(replace(text,' ','')) AS chars FROM documents), " +
        "g2 AS (SELECT doc_id, round(max(c*glen)*1.0/max(chars), 6) AS top2_frac FROM " +
        "(SELECT doc_id, chars, g, count(*) AS c, len(replace(g,' ','')) AS glen FROM " +
        "(SELECT doc_id, chars, sp[i] || ' ' || sp[i+1] AS g FROM tok, " +
        "UNNEST(range(1, len(sp))) t(i) WHERE len(sp) >= 2) GROUP BY doc_id, chars, g) GROUP BY doc_id), " +
        "g3 AS (SELECT doc_id, round(max(c*glen)*1.0/max(chars), 6) AS top3_frac FROM " +
        "(SELECT doc_id, chars, g, count(*) AS c, len(replace(g,' ','')) AS glen FROM " +
        "(SELECT doc_id, chars, sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] AS g FROM tok, " +
        "UNNEST(range(1, len(sp)-1)) t(i) WHERE len(sp) >= 3) GROUP BY doc_id, chars, g) GROUP BY doc_id), " +
        "g4 AS (SELECT doc_id, round(max(c*glen)*1.0/max(chars), 6) AS top4_frac FROM " +
        "(SELECT doc_id, chars, g, count(*) AS c, len(replace(g,' ','')) AS glen FROM " +
        "(SELECT doc_id, chars, sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] || ' ' || sp[i+3] AS g FROM tok, " +
        "UNNEST(range(1, len(sp)-2)) t(i) WHERE len(sp) >= 4) GROUP BY doc_id, chars, g) GROUP BY doc_id) " +
        "SELECT t.doc_id, coalesce(top2_frac, 0.0) AS top2_frac, " +
        "coalesce(top3_frac, 0.0) AS top3_frac, coalesce(top4_frac, 0.0) AS top4_frac, " +
        "(coalesce(top2_frac, 0.0) <= 0.20 AND coalesce(top3_frac, 0.0) <= 0.18 " +
        "AND coalesce(top4_frac, 0.0) <= 0.16) AS rep_pass " +
        "FROM tok t LEFT JOIN g2 ON t.doc_id = g2.doc_id " +
        "LEFT JOIN g3 ON t.doc_id = g3.doc_id LEFT JOIN g4 ON t.doc_id = g4.doc_id " +
        "ORDER BY t.doc_id")),

    GraftQuery(
      "q146_pair_triangles",
      "Triangle count + local clustering coefficient over the verified near-dup pair graph — the third graph lens beside q92's components (WHICH docs cluster) and q142's PageRank (which doc is central): triangles measure how CLIQUE-LIKE each dup cluster is. A high-lcc node sits in a mutual-copy clique (one source re-published verbatim — safe to keep one survivor); a high-degree low-lcc node is a hub stitching otherwise-unrelated docs together (a template/boilerplate shell whose 'cluster' is an artifact — the case where min-id survivor election would wrongly collapse distinct content). Enumeration is the standard ordered-triple join on the a<b<c orientation of the pair list: each triangle is produced exactly once as (a,b)(b,c)(a,c), so the count needs no /6 correction and no symmetrized blow-up; lcc = 2*tri/(deg*(deg-1)) on the symmetric degree. The pair graph is dup-density-scale (edges = the LSH kernel's verified output, NOT corpus-scale), and the two joins key on edge endpoints — at 100 TB this is the wedge-check join over a table that fits the q142 budget; nothing touches raw text. All-integer until the final lcc division (rounded 6dp), so both engines agree exactly.",
      (s, d) => {
        val p = lshPairs(s, cachedShingles(t(s, d, "documents")))
          .select(col("da"), col("db"))
        // Ordered-triple enumeration: edges are already oriented da<db,
        // so (a,b)⋈(b,c)⋈(a,c) yields each triangle exactly once.
        val e1 = p.select(col("da").as("a"), col("db").as("b"))
        val e2 = p.select(col("da").as("b2"), col("db").as("c"))
        val e3 = p.select(col("da").as("a3"), col("db").as("c3"))
        val tri = e1.join(e2, col("b") === col("b2"))
          .join(e3, col("a") === col("a3") && col("c") === col("c3"))
          .select(col("a"), col("b"), col("c"))
        val triPerNode = tri.select(col("a").as("v"))
          .unionAll(tri.select(col("b").as("v")))
          .unionAll(tri.select(col("c").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("tri"))
        val deg = p.select(col("da").as("v"))
          .unionAll(p.select(col("db").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        deg.join(triPerNode, Seq("v"), "left")
          .select(col("v").as("doc_id"), col("deg"),
            coalesce(col("tri"), lit(0L)).as("tri"),
            round(when(col("deg") >= 2,
              lit(2.0) * coalesce(col("tri"), lit(0L))
                / (col("deg") * (col("deg") - 1)))
              .otherwise(lit(0.0)), 6).as("lcc"))
          .orderBy(col("doc_id"))
      },
      Some(s"WITH $pairsCteSql, " +
        "ed AS (SELECT da, db FROM jp), " +
        "tr AS (SELECT e1.da AS a, e1.db AS b, e2.db AS c FROM ed e1 " +
        "JOIN ed e2 ON e1.db = e2.da " +
        "JOIN ed e3 ON e3.da = e1.da AND e3.db = e2.db), " +
        "tn AS (SELECT v, count(*) AS tri FROM (SELECT a AS v FROM tr " +
        "UNION ALL SELECT b FROM tr UNION ALL SELECT c FROM tr) GROUP BY v), " +
        "deg AS (SELECT v, count(*) AS deg FROM (SELECT da AS v FROM ed " +
        "UNION ALL SELECT db FROM ed) GROUP BY v) " +
        "SELECT deg.v AS doc_id, CAST(deg.deg AS BIGINT) AS deg, " +
        "CAST(coalesce(tn.tri, 0) AS BIGINT) AS tri, " +
        "round(CASE WHEN deg.deg >= 2 THEN 2.0 * coalesce(tn.tri, 0) " +
        "/ (deg.deg * (deg.deg - 1)) ELSE 0.0 END, 6) AS lcc " +
        "FROM deg LEFT JOIN tn ON deg.v = tn.v ORDER BY doc_id")),

    GraftQuery(
      "q102_ngram_novelty",
      "Per-document n-gram novelty — the fraction of a doc's distinct 3-gram shingles that appear NOWHERE else in the corpus (df = 1), the memorization/boilerplate audit run before sampling training data: low novelty ⇒ the doc is assembled from corpus-common fragments. Reuses the pinned q41/q42 shingle relation (64-bit keys, built once per dir), so the marginal cost is one groupBy on the shingle key for df plus one join back — both shuffles on the same 8-byte key. The ratio divides in double on both engines and rounds to 6dp, far above accumulation noise. At 100 TB this is the same two-pass over the materialized shingle table the dedup stack already requires.",
      (s, d) => {
        val sh = cachedShingles(t(s, d, "documents"))
        val dfreq = sh.groupBy(col("sk")).agg(count(lit(1)).as("df"))
        sh.join(dfreq, Seq("sk"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"),
            round(sum(when(col("df") === 1, 1).otherwise(0)).cast("double")
              / count(lit(1)), 6).as("novelty"))
          .orderBy(col("doc_id"))
      },
      Some("WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s " +
        "FROM tok, UNNEST(range(1, len(toks)-1)) t(i) WHERE len(toks) >= 3), " +
        "df AS (SELECT s, count(*) AS df FROM sh GROUP BY s) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles, " +
        "round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)*1.0/count(*), 6) AS novelty " +
        "FROM sh JOIN df USING (s) GROUP BY doc_id ORDER BY doc_id")),

    GraftQuery(
      "q103_norm_dedup",
      "Canonicalization dedup — exact dedup AFTER text normalization (lowercase, strip non-alphanumerics, collapse runs of spaces, trim): the standard first-rung dedup that catches reformatted copies exact-byte dedup (q40) misses while staying embarrassingly parallel. The normalization chain is pure per-row codegen'd string ops; the group key is the 16-byte md5 of the normalized form, so the shuffle carries digests, not documents (the q40 posture). Survivor = min doc_id per class — deterministic on any cluster layout. Spark's regexp_replace is global by default; the oracle pins the same semantics with DuckDB's 'g' flag.",
      (s, d) => {
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
        t(s, d, "documents")
          .select(col("doc_id"), md5(norm).as("nk"))
          .groupBy(col("nk"))
          .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_docs"))
          .orderBy(col("canonical_id"))
      },
      Some("WITH n AS (SELECT doc_id, md5(trim(regexp_replace(" +
        "regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS nk " +
        "FROM documents) " +
        "SELECT nk, min(doc_id) AS canonical_id, CAST(count(*) AS BIGINT) AS n_docs " +
        "FROM n GROUP BY nk ORDER BY canonical_id")),

    GraftQuery(
      "q107_filter_funnel",
      "The curation filter funnel — the C4/RefinedWeb-style cascade that decides every document's fate with ONE reason: rules fire in a fixed order (too_short → low_alpha → high_stop → non_english → kept) so each doc lands in exactly one verdict bucket, and the output is the funnel report (docs, chars, mean length per verdict) a pipeline operator reads before shipping a corpus. Reuses q46's exact rounded-ratio kernels, so thresholds compare identically in both engines. Pure narrow map until the ~5-row verdict rollup — zero shuffle pressure at 100 TB, and the verdict column is what a real run would PARTITION BY on write so downstream readers prune to 'kept' files only.",
      (s, d) => {
        t(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            size(toks(col("text"))).as("n_tokens"),
            funnelVerdict(col("text"), col("lang")).as("verdict"))
          .groupBy(col("verdict"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            round(avg(col("n_tokens")), 4).as("avg_tokens"))
          .orderBy(col("verdict"))
      },
      Some("WITH q AS (SELECT doc_id, lang, n_chars, " +
        "len(string_split(text,' ')) AS n_tokens, " +
        "round(len(list_filter(string_split(text,' '), t -> t IN " +
        "('the','a','of','and','to','in','is','it')))*1.0" +
        "/len(string_split(text,' ')), 6) AS stop_ratio, " +
        "round(len(regexp_replace(text,'[^a-z]','','g'))*1.0/len(text), 6) AS alpha_ratio " +
        "FROM documents), " +
        "v AS (SELECT n_chars, n_tokens, CASE " +
        "WHEN n_tokens < 15 THEN 'too_short' " +
        "WHEN alpha_ratio < 0.5 THEN 'low_alpha' " +
        "WHEN stop_ratio > 0.4 THEN 'high_stop' " +
        "WHEN lang <> 'en' THEN 'non_english' " +
        "ELSE 'kept' END AS verdict FROM q) " +
        "SELECT verdict, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
        "round(avg(n_tokens), 4) AS avg_tokens " +
        "FROM v GROUP BY verdict ORDER BY verdict")),

    GraftQuery(
      "q108_dsir_weights",
      "DSIR-style domain importance weights (data-selection-by-importance-resampling, the targeted-sampling pass behind domain-matched pretraining mixes): per-document mean log-likelihood RATIO between a target-domain unigram LM and the all-corpus LM, both add-one smoothed and trained IN the plan — two token-key groupBys plus broadcast 1-row totals (the q88 posture, twice). Target domain = the deterministic doc_id%10=0 slice. Docs scoring high look like the target and get upsampled. One exploded-token pass scores everything; the count tables co-partition with the scoring join on the token key; at 100 TB the target table (a curated seed set) broadcasts.",
      (s, d) => {
        val docs = t(s, d, "documents")
        val toksOf = docs.select(col("doc_id"), toks(col("text")).as("tk"))
          .select(col("doc_id"), explode(col("tk")).as("tok"))
        val cAll = toksOf.groupBy(col("tok")).agg(count(lit(1)).as("c_all"))
        val cTgt = toksOf.filter(col("doc_id") % 10 === 0)
          .groupBy(col("tok")).agg(count(lit(1)).as("c_tgt"))
        val totals = toksOf.agg(
          count(lit(1)).cast("double").as("n_all"),
          sum(when(col("doc_id") % 10 === 0, 1).otherwise(0)).cast("double").as("n_tgt"),
          countDistinct(col("tok")).cast("double").as("v"))
        toksOf
          .join(cAll, Seq("tok"))
          .join(cTgt, Seq("tok"), "left")
          .crossJoin(broadcast(totals))
          .withColumn("llr",
            log((coalesce(col("c_tgt"), lit(0L)) + 1) / (col("n_tgt") + col("v")))
              - log((col("c_all") + 1) / (col("n_all") + col("v"))))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"), round(avg(col("llr")), 6).as("dsir_w"))
          .orderBy(col("doc_id"))
      },
      Some("WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents), " +
        "ca AS (SELECT tok, count(*) AS c_all FROM tok GROUP BY tok), " +
        "ct AS (SELECT tok, count(*) AS c_tgt FROM tok WHERE doc_id % 10 = 0 GROUP BY tok), " +
        "tt AS (SELECT count(*)*1.0 AS n_all, " +
        "sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END)*1.0 AS n_tgt, " +
        "count(DISTINCT tok)*1.0 AS v FROM tok) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "round(avg(ln((coalesce(c_tgt, 0) + 1) / (n_tgt + v)) " +
        "- ln((c_all + 1) / (n_all + v))), 6) AS dsir_w " +
        "FROM tok JOIN ca USING (tok) LEFT JOIN ct USING (tok), tt " +
        "GROUP BY doc_id ORDER BY doc_id")),

    GraftQuery(
      "q110_dedup_survivors",
      "Quality-aware survivor election — the step real dedup pipelines run instead of q92's min-id keep flag: within each near-dup cluster (same connected components over the q41 pair graph) elect the LONGEST document (n_chars, doc_id tiebreak) as the canonical copy, since near-dup truncations should lose to the fullest version. One row_number window per cluster — partitioned by cluster id, so no global sort — plus the cluster rollup. At 100 TB the cluster ids come from the same label propagation and the election shuffles (cluster_id, doc_id, quality) triples only.",
      (s, d) => {
        val sh = cachedShingles(t(s, d, "documents"))
        val p = lshPairs(s, sh).select(col("da"), col("db"))
        val edges = pin(p.union(p.select(col("db").as("da"), col("da").as("db")))
          .toDF("src", "dst"))
        val labels = connectedLabels(edges)
        val withQ = labels
          .join(t(s, d, "documents").select(col("doc_id"), col("n_chars")),
            col("v") === col("doc_id"))
          .select(col("lbl").as("cluster_id"), col("doc_id"), col("n_chars"))
        withQ
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("cluster_id"))
              .orderBy(col("n_chars").desc, col("doc_id"))))
          .groupBy(col("cluster_id"))
          .agg(max(when(col("rn") === 1, col("doc_id"))).as("survivor_id"),
            count(lit(1)).as("cluster_size"),
            max(col("n_chars")).as("max_chars"))
          .orderBy(col("cluster_id"))
      },
      Some("WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s " +
        "FROM tok, UNNEST(range(1, len(toks)-1)) t(i) WHERE len(toks) >= 3), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY da, db), " +
        "pr AS (SELECT da, db FROM inter " +
        "JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id " +
        s"WHERE round(c*1.0/(sa.n + sb.n - c), 6) >= $JaccardThreshold), " +
        "edges AS (SELECT da AS a, db AS b FROM pr UNION SELECT db, da FROM pr), " +
        "nodes AS (SELECT DISTINCT a AS v FROM edges), " +
        "r AS (WITH RECURSIVE rr(a, b) AS (SELECT a, b FROM edges " +
        "UNION SELECT rr.a, e.b FROM rr JOIN edges e ON rr.b = e.a) " +
        "SELECT * FROM rr), " +
        "lbl AS (SELECT v AS doc_id, least(v, min(b)) AS cluster_id " +
        "FROM nodes LEFT JOIN r ON r.a = v GROUP BY v), " +
        "j AS (SELECT l.cluster_id, l.doc_id, d.n_chars, " +
        "row_number() OVER (PARTITION BY l.cluster_id " +
        "ORDER BY d.n_chars DESC, l.doc_id) AS rn " +
        "FROM lbl l JOIN documents d USING (doc_id)) " +
        "SELECT cluster_id, max(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id, " +
        "CAST(count(*) AS BIGINT) AS cluster_size, " +
        "CAST(max(n_chars) AS BIGINT) AS max_chars " +
        "FROM j GROUP BY cluster_id ORDER BY cluster_id")),

    GraftQuery(
      "q111_lang_confusion",
      "Language-ID confusion matrix — the evaluation rollup a curation team runs over q47's classifier against the corpus's declared labels: (declared, predicted) cell counts plus each cell's share of its declared-language row (double division, 6dp). The marker-vote argmax is per-row codegen'd; the matrix is one hash agg on at most |langs|² tiny keys, and the row totals come from a window over those same few rows — nothing heavier than the scan itself at 100 TB. Off-diagonal mass tells you where the classifier (or the metadata) lies.",
      (s, d) => {
        val tk = toks(col("text"))
        def score(ms: Seq[String]) = size(filter(tk, x => x.isin(ms: _*)))
        val pred =
          when(score(Seq("the", "and", "of", "is"))
            >= greatest(score(Seq("el", "la", "de", "que")),
              score(Seq("le", "et", "les", "des")),
              score(Seq("der", "und", "die", "nicht"))), "en")
            .when(score(Seq("el", "la", "de", "que"))
              >= greatest(score(Seq("le", "et", "les", "des")),
                score(Seq("der", "und", "die", "nicht"))), "es")
            .when(score(Seq("le", "et", "les", "des"))
              >= score(Seq("der", "und", "die", "nicht")), "fr")
            .otherwise("de")
        val cells = t(s, d, "documents")
          .select(col("lang"), pred.as("pred"))
          .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
        cells
          .withColumn("row_total", sum(col("n")).over(
            Window.partitionBy(col("lang"))))
          .select(col("lang"), col("pred"), col("n"),
            round(col("n").cast("double") / col("row_total"), 6).as("share"))
          .orderBy(col("lang"), col("pred"))
      },
      Some("WITH sc AS (SELECT lang, " +
        "len(list_filter(string_split(text,' '), t -> t IN ('the','and','of','is'))) AS s_en, " +
        "len(list_filter(string_split(text,' '), t -> t IN ('el','la','de','que'))) AS s_es, " +
        "len(list_filter(string_split(text,' '), t -> t IN ('le','et','les','des'))) AS s_fr, " +
        "len(list_filter(string_split(text,' '), t -> t IN ('der','und','die','nicht'))) AS s_de " +
        "FROM documents), " +
        "p AS (SELECT lang, CASE WHEN s_en >= greatest(s_es, s_fr, s_de) THEN 'en' " +
        "WHEN s_es >= greatest(s_fr, s_de) THEN 'es' " +
        "WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END AS pred FROM sc), " +
        "c AS (SELECT lang, pred, count(*) AS n FROM p GROUP BY lang, pred) " +
        "SELECT lang, pred, CAST(n AS BIGINT) AS n, " +
        "round(n*1.0/sum(n) OVER (PARTITION BY lang), 6) AS share " +
        "FROM c ORDER BY lang, pred")),

    GraftQuery(
      "q112_dup_rate_by_source",
      "Near-duplication rate per source — the provenance audit that decides which feeds get demoted in the corpus mix: every doc in any q41 near-dup cluster counts as duplicated, rolled up against each source's total. The cluster membership comes from the SAME label propagation as q92/q110 (shared helper, shared pinned shingle relation), so the marginal cost over them is two joins on doc_id/source keys. Sources with no clustered docs still report (left join, zero-coalesced) — silence and zero are different answers in a provenance audit.",
      (s, d) => {
        val docs = t(s, d, "documents")
        val sh = cachedShingles(docs)
        val p = lshPairs(s, sh).select(col("da"), col("db"))
        val edges = pin(p.union(p.select(col("db").as("da"), col("da").as("db")))
          .toDF("src", "dst"))
        val clustered = connectedLabels(edges).select(col("v").as("doc_id"))
        val perSource = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        val dupPerSource = clustered
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .groupBy(col("source")).agg(count(lit(1)).as("n_dup"))
        perSource.join(dupPerSource, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_dup"), lit(0L)).as("n_dup"),
            round(coalesce(col("n_dup"), lit(0L)).cast("double")
              / col("n_docs"), 6).as("dup_rate"))
          .orderBy(col("source"))
      },
      Some("WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s " +
        "FROM tok, UNNEST(range(1, len(toks)-1)) t(i) WHERE len(toks) >= 3), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY da, db), " +
        "pr AS (SELECT da, db FROM inter " +
        "JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id " +
        s"WHERE round(c*1.0/(sa.n + sb.n - c), 6) >= $JaccardThreshold), " +
        "cl AS (SELECT DISTINCT da AS doc_id FROM pr UNION SELECT DISTINCT db FROM pr), " +
        "d AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source), " +
        "c2 AS (SELECT d2.source, count(*) AS n_dup FROM cl " +
        "JOIN documents d2 USING (doc_id) GROUP BY d2.source) " +
        "SELECT d.source, CAST(n_docs AS BIGINT) AS n_docs, " +
        "CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup, " +
        "round(coalesce(n_dup, 0)*1.0/n_docs, 6) AS dup_rate " +
        "FROM d LEFT JOIN c2 USING (source) ORDER BY d.source")),

    GraftQuery(
      "q113_temperature_mix",
      "Temperature-scaled source sampling weights (alpha=0.5, the mT5/XLM-R multilingual recipe): each source's draw probability is n^alpha normalized over all sources, flattening the natural size distribution so small sources aren't drowned. `boost` is the resulting up/downsampling factor vs natural frequency — the number a data loader multiplies per-source epochs by. One tiny per-source count aggregate plus a broadcast 1-row total; the corpus itself is scanned once and shuffles only (source) keys, so the plan is identical at 100 TB.",
      (s, d) => {
        val counts = t(s, d, "documents")
          .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        val tots = counts.agg(
          sum(sqrt(col("n_docs").cast("double"))).as("sum_w"),
          sum(col("n_docs")).as("n_total"))
        counts.crossJoin(broadcast(tots))
          .select(col("source"), col("n_docs"),
            round(sqrt(col("n_docs").cast("double")) / col("sum_w"), 6)
              .as("weight"),
            round(sqrt(col("n_docs").cast("double")) / col("sum_w")
              * col("n_total").cast("double") / col("n_docs"), 6).as("boost"))
          .orderBy(col("source"))
      },
      Some("WITH c AS (SELECT source, count(*) AS n_docs FROM documents " +
        "GROUP BY source), " +
        "t AS (SELECT sum(sqrt(CAST(n_docs AS DOUBLE))) AS sum_w, " +
        "sum(n_docs) AS n_total FROM c) " +
        "SELECT source, CAST(n_docs AS BIGINT) AS n_docs, " +
        "round(sqrt(CAST(n_docs AS DOUBLE))/sum_w, 6) AS weight, " +
        "round(sqrt(CAST(n_docs AS DOUBLE))/sum_w " +
        "* CAST(n_total AS DOUBLE)/n_docs, 6) AS boost " +
        "FROM c, t ORDER BY source")),

    GraftQuery(
      "q114_split_leakage",
      "Cross-split near-dup leakage audit — the integrity check that catches test-set contamination BEFORE training: every q41 near-dup pair is labeled with its endpoints' q82 train/val/test assignment (same md5-bucket `splitFor`, shared definition) and rolled up per unordered split pair. Any mass off the diagonal (train,test)/(train,val) is leaked evaluation data. Rides the SAME pinned shingle relation as q41/q92/q112, so the marginal cost is two joins of a tiny pair set against (doc_id, split) — nothing rescans the corpus.",
      (s, d) => {
        val docs = t(s, d, "documents")
        val splits = docs.select(col("doc_id"),
          splitFor(col("doc_id")).as("split"))
        val pairs = lshPairs(s, cachedShingles(docs))
          .select(col("da"), col("db"))
        pairs
          .join(splits.select(col("doc_id").as("da"), col("split").as("sa")),
            Seq("da"))
          .join(splits.select(col("doc_id").as("db"), col("split").as("sb")),
            Seq("db"))
          .select(least(col("sa"), col("sb")).as("split_a"),
            greatest(col("sa"), col("sb")).as("split_b"))
          .groupBy(col("split_a"), col("split_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("split_a"), col("split_b"))
      },
      Some("WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks " +
        "FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s " +
        "FROM tok, UNNEST(range(1, len(toks)-1)) t(i) WHERE len(toks) >= 3), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY da, db), " +
        "pr AS (SELECT da, db FROM inter " +
        "JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id " +
        s"WHERE round(c*1.0/(sa.n + sb.n - c), 6) >= $JaccardThreshold), " +
        "sp AS (SELECT doc_id, CASE WHEN " + md5BucketSql("doc_id") +
        " < 90 THEN 'train' WHEN " + md5BucketSql("doc_id") +
        " < 95 THEN 'val' ELSE 'test' END AS split FROM documents) " +
        "SELECT least(a.split, b.split) AS split_a, " +
        "greatest(a.split, b.split) AS split_b, " +
        "CAST(count(*) AS BIGINT) AS n_pairs " +
        "FROM pr JOIN sp a ON pr.da = a.doc_id JOIN sp b ON pr.db = b.doc_id " +
        "GROUP BY split_a, split_b ORDER BY split_a, split_b")),

    GraftQuery(
      "q115_length_histogram",
      "Token-length histogram with cumulative token share — the batch-shape planning table a packing/batching stage reads to pick sequence lengths: docs bucketed by 16-token-wide length bins (pure integer arithmetic, engine-exact boundaries), each bin reporting doc count, token mass, and the running share of all corpus tokens at or below it. The corpus aggregates in one hash groupBy on the bin key; the prefix sum and grand total are ONE window pass over the few-dozen bin rows — O(bins), never the data, the RangeRank offsets posture.",
      (s, d) => {
        val hist = t(s, d, "documents")
          .select(size(toks(col("text"))).cast("long").as("tok_count"))
          .select((col("tok_count") - col("tok_count") % 16).as("bucket_lo"),
            col("tok_count"))
          .groupBy(col("bucket_lo"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("tok_count")).as("bucket_tokens"))
        // both sums window over the ~dozens of bin rows, not the data
        val w = Window.orderBy(col("bucket_lo"))
        hist
          .withColumn("cum_tokens", sum(col("bucket_tokens")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("total_tokens", sum(col("bucket_tokens")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .select(col("bucket_lo"), col("n_docs"), col("bucket_tokens"),
            round(col("cum_tokens").cast("double") / col("total_tokens"), 6)
              .as("cum_token_share"))
          .orderBy(col("bucket_lo"))
      },
      Some("WITH tc AS (SELECT len(string_split(text,' ')) AS tok_count " +
        "FROM documents), " +
        "h AS (SELECT tok_count - (tok_count % 16) AS bucket_lo, " +
        "count(*) AS n_docs, sum(tok_count) AS bucket_tokens " +
        "FROM tc GROUP BY bucket_lo) " +
        "SELECT CAST(bucket_lo AS BIGINT) AS bucket_lo, " +
        "CAST(n_docs AS BIGINT) AS n_docs, " +
        "CAST(bucket_tokens AS BIGINT) AS bucket_tokens, " +
        "round(CAST(sum(bucket_tokens) OVER (ORDER BY bucket_lo " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) " +
        "/ sum(bucket_tokens) OVER (), 6) AS cum_token_share " +
        "FROM h ORDER BY bucket_lo")),

    GraftQuery(
      "q77_seq_packing",
      "Sequence-packing accounting — concat-and-chunk, the GPT-style batch prep that concatenates each source's docs in doc_id order and slices the stream into fixed 512-token training sequences: per source, the doc and token mass, how many sequences the stream yields, how many docs straddle a chunk boundary (and so get split across training examples — the attention-contamination number an EOD-masking decision needs), and the fill rate of the final partial chunk. Every doc's absolute stream offset is an EXACT global prefix sum, but it is never computed as a per-source data window (at corpus scale one dominant source would sort billions of rows in one window task — the q130 lesson): docs bucket into 128-doc-id cells, the cumsum windows run per (source, cell), and per-cell offsets come from ONE window over the tiny (source, cell) totals table — O(cells), never the data. All integer arithmetic except the final rounded fill rate, so both engines agree exactly.",
      (s, d) => {
        val L = 512
        val base = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            size(toks(col("text"))).cast("long").as("n_tok"))
          .withColumn("cell", expr("doc_id div 128"))
        val local = base.withColumn("lcum", sum(col("n_tok")).over(
          Window.partitionBy(col("source"), col("cell")).orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        // offsets window over the tiny (source, cell) totals, not the data
        val offs = base.groupBy(col("source"), col("cell"))
          .agg(sum(col("n_tok")).as("cell_tok"))
          .withColumn("off", coalesce(sum(col("cell_tok")).over(
            Window.partitionBy(col("source")).orderBy(col("cell"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("source"), col("cell"), col("off"))
        local.join(offs, Seq("source", "cell"))
          .withColumn("en", col("off") + col("lcum"))
          .withColumn("st", col("en") - col("n_tok"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tokens"),
            sum(when(expr(s"st div $L") =!= expr(s"(en - 1) div $L"), 1L)
              .otherwise(0L)).as("n_boundary_docs"))
          .withColumn("n_chunks", expr(s"(n_tokens + ${L - 1}) div $L"))
          .withColumn("tail_fill",
            round((col("n_tokens") - (col("n_chunks") - lit(1L)) * L)
              .cast("double") / L, 6))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("n_chunks"), col("n_boundary_docs"), col("tail_fill"))
          .orderBy(col("source"))
      },
      Some("WITH n AS (SELECT doc_id, source, " +
        "len(string_split(text,' ')) AS n_tok FROM documents), " +
        "c AS (SELECT source, n_tok, sum(n_tok) OVER (PARTITION BY source " +
        "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS cum FROM n), " +
        "d AS (SELECT source, n_tok, cum - n_tok AS st, cum - 1 AS en FROM c), " +
        "a AS (SELECT source, count(*) AS n_docs, sum(n_tok) AS n_tokens, " +
        "sum(CASE WHEN st // 512 <> en // 512 THEN 1 ELSE 0 END) " +
        "AS n_boundary_docs FROM d GROUP BY source) " +
        "SELECT source, CAST(n_docs AS BIGINT) AS n_docs, " +
        "CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "CAST((n_tokens + 511) // 512 AS BIGINT) AS n_chunks, " +
        "CAST(n_boundary_docs AS BIGINT) AS n_boundary_docs, " +
        "round((n_tokens - ((n_tokens + 511) // 512 - 1) * 512) / 512.0, 6) " +
        "AS tail_fill FROM a ORDER BY source")),

    GraftQuery(
      "q116_net_token_yield",
      "End-to-end net training-token yield per source — the single accounting table a pipeline owner reads after curation: raw docs, docs surviving the q107 funnel, docs ALSO surviving near-dup resolution (only each q110 cluster's elected survivor counts), and the net token mass that actually reaches training. Composes three already-priced stages over shared state: the funnel verdict is a per-row map on the corpus scan, the cluster losers come from the SAME pinned shingle relation and label propagation as q92/q110/q112, and the final rollup shuffles (source) keys only. Yield = what you ship, not what you crawled.",
      (s, d) => {
        val docs = t(s, d, "documents")
        val sh = cachedShingles(docs)
        val p = lshPairs(s, sh).select(col("da"), col("db"))
        val edges = pin(p.union(p.select(col("db").as("da"), col("da").as("db")))
          .toDF("src", "dst"))
        // non-survivors: every cluster member except the elected
        // (n_chars desc, doc_id) winner — the q110 election, reused
        val losers = connectedLabels(edges)
          .join(docs.select(col("doc_id"), col("n_chars")),
            col("v") === col("doc_id"))
          .select(col("lbl"), col("doc_id"), col("n_chars"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("lbl"))
              .orderBy(col("n_chars").desc, col("doc_id"))))
          .filter(col("rn") > 1)
          .select(col("doc_id"), lit(1).as("is_loser"))
        docs
          .select(col("doc_id"), col("source"),
            funnelVerdict(col("text"), col("lang")).as("verdict"),
            size(toks(col("text"))).cast("long").as("tok_count"))
          .join(losers, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_raw"),
            sum(when(col("verdict") === "kept", 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("verdict") === "kept" && col("is_loser").isNull, 1L)
              .otherwise(0L)).as("n_net"),
            sum(when(col("verdict") === "kept" && col("is_loser").isNull,
              col("tok_count")).otherwise(0L)).as("net_tokens"))
          .orderBy(col("source"))
      },
      Some("WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s " +
        "FROM tok, UNNEST(range(1, len(toks)-1)) t(i) WHERE len(toks) >= 3), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY da, db), " +
        "pr AS (SELECT da, db FROM inter " +
        "JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id " +
        s"WHERE round(c*1.0/(sa.n + sb.n - c), 6) >= $JaccardThreshold), " +
        "edges AS (SELECT da AS a, db AS b FROM pr UNION SELECT db, da FROM pr), " +
        "nodes AS (SELECT DISTINCT a AS v FROM edges), " +
        "r AS (WITH RECURSIVE rr(a, b) AS (SELECT a, b FROM edges " +
        "UNION SELECT rr.a, e.b FROM rr JOIN edges e ON rr.b = e.a) " +
        "SELECT * FROM rr), " +
        "lbl AS (SELECT v AS doc_id, least(v, min(b)) AS cluster_id " +
        "FROM nodes LEFT JOIN r ON r.a = v GROUP BY v), " +
        "losers AS (SELECT doc_id FROM (SELECT l.doc_id, " +
        "row_number() OVER (PARTITION BY l.cluster_id " +
        "ORDER BY d.n_chars DESC, l.doc_id) AS rn " +
        "FROM lbl l JOIN documents d USING (doc_id)) WHERE rn > 1), " +
        "v AS (SELECT doc_id, source, len(string_split(text,' ')) AS tok_count, CASE " +
        "WHEN len(string_split(text,' ')) < 15 THEN 'too_short' " +
        "WHEN round(len(regexp_replace(text,'[^a-z]','','g'))*1.0/len(text), 6) < 0.5 THEN 'low_alpha' " +
        "WHEN round(len(list_filter(string_split(text,' '), t -> t IN " +
        "('the','a','of','and','to','in','is','it')))*1.0" +
        "/len(string_split(text,' ')), 6) > 0.4 THEN 'high_stop' " +
        "WHEN lang <> 'en' THEN 'non_english' " +
        "ELSE 'kept' END AS verdict FROM documents) " +
        "SELECT v.source, CAST(count(*) AS BIGINT) AS n_raw, " +
        "CAST(sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "CAST(sum(CASE WHEN verdict = 'kept' AND lo.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_net, " +
        "CAST(sum(CASE WHEN verdict = 'kept' AND lo.doc_id IS NULL THEN tok_count ELSE 0 END) AS BIGINT) AS net_tokens " +
        "FROM v LEFT JOIN losers lo USING (doc_id) " +
        "GROUP BY v.source ORDER BY v.source")),

    GraftQuery(
      "q117_token_entropy",
      "Per-document unigram token Shannon entropy (bits) — the lexical-diversity quality gate that catches looping/templated text a stopword ratio misses (low entropy = few distinct tokens dominate). H = log2(n) - Σc·log2(c)/n over the doc's token frequencies, so the plan is one (doc,token) count shuffle and one doc rollup — linear, no joins. The 6dp round sits far above double accumulation noise for per-doc sums of a few hundred terms.",
      (s, d) => {
        val f = t(s, d, "documents")
          .select(col("doc_id"), col("source"), explode(toks(col("text"))).as("tok"))
          .groupBy(col("doc_id"), col("source"), col("tok"))
          .agg(count(lit(1)).as("c"))
        f.groupBy(col("doc_id"), col("source"))
          .agg(sum(col("c")).as("n_tokens"),
            round(log2(sum(col("c")).cast("double")) -
              sum(col("c").cast("double") * log2(col("c").cast("double")))
                / sum(col("c")).cast("double"), 6).as("entropy_bits"))
          .orderBy(col("doc_id"))
      },
      Some("WITH f AS (SELECT doc_id, source, tok, count(*) AS c FROM " +
        "(SELECT doc_id, source, unnest(string_split(text,' ')) AS tok FROM documents) " +
        "GROUP BY doc_id, source, tok) " +
        "SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS n_tokens, " +
        "round(log2(sum(c)) - sum(c*log2(c))/sum(c), 6) AS entropy_bits " +
        "FROM f GROUP BY doc_id, source ORDER BY doc_id")),

    GraftQuery(
      "q118_boilerplate_share",
      "Per-source boilerplate token share (the C4 line-dedup signal at passage granularity): a q87-style 8-word passage occurring in >=3 DISTINCT docs is boilerplate (nav bars, license blurbs, templates), and each source is charged the token mass its boilerplate passages carry. Where q87 reports per-doc dup ratios, this is the per-SOURCE curation decision table: which crawl sources are template farms. Same linear two-shuffle shape as q87 (passage key, then source) — no self-join.",
      (s, d) => {
        val p = t(s, d, "documents")
          .select(col("doc_id"), col("source"), toks(col("text")).as("tk"))
          .filter(size(col("tk")) >= 8)
          .select(col("doc_id"), col("source"), explode(transform(
            sequence(lit(0), expr("int(size(tk) div 8)") - 1),
            i => concat_ws(" ", slice(col("tk"), i * 8 + 1, lit(8))))).as("pg"))
          .select(col("doc_id"), col("source"), xxhash64(col("pg")).as("pk"))
        val nd = p.groupBy(col("pk")).agg(countDistinct(col("doc_id")).as("nd"))
        p.join(nd, Seq("pk"))
          .groupBy(col("source"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            (count(lit(1)) * 8).as("passage_tokens"),
            (sum(when(col("nd") >= 3, 1L).otherwise(0L)) * 8).as("bp_tokens"),
            countDistinct(when(col("nd") >= 3, col("doc_id"))).as("n_docs_hit"))
          .withColumn("bp_share",
            round(col("bp_tokens").cast("double") / col("passage_tokens"), 6))
          .orderBy(col("source"))
      },
      Some("WITH tk AS (SELECT doc_id, source, string_split(text,' ') AS tk FROM documents), " +
        "p AS (SELECT doc_id, source, array_to_string(tk[(i*8+1):(i*8+8)], ' ') AS pg " +
        "FROM tk, UNNEST(range(0, len(tk)//8)) x(i) WHERE len(tk) >= 8), " +
        "nd AS (SELECT pg, count(DISTINCT doc_id) AS nd FROM p GROUP BY pg) " +
        "SELECT source, CAST(count(DISTINCT p.doc_id) AS BIGINT) AS n_docs, " +
        "CAST(count(*)*8 AS BIGINT) AS passage_tokens, " +
        "CAST(sum(CASE WHEN nd.nd >= 3 THEN 1 ELSE 0 END)*8 AS BIGINT) AS bp_tokens, " +
        "CAST(count(DISTINCT CASE WHEN nd.nd >= 3 THEN p.doc_id END) AS BIGINT) AS n_docs_hit, " +
        "round(sum(CASE WHEN nd.nd >= 3 THEN 1 ELSE 0 END)*8.0/(count(*)*8), 6) AS bp_share " +
        "FROM p JOIN nd USING (pg) GROUP BY source ORDER BY source")),

    GraftQuery(
      "q119_shard_manifest",
      "Output-shard manifest — the layout-planning table a 100 TB writer consults before committing a partitioning: docs hash deterministically (md5, the q68 rule — reproducible across engines and reruns) into 16 shards, and each shard reports doc count, token mass, byte mass, and its skew vs the mean shard. Skew near 1.0 everywhere proves the hash key balances; a hot shard here means repartitioning before the write, not after it fails. The mean is a broadcast 1-row aggregate inside the plan (the q69 pattern) — no window over the data, no collect.",
      (s, d) => {
        val per = t(s, d, "documents")
          .select((conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
              .cast("long") % 16).cast("int").as("shard"),
            size(toks(col("text"))).cast("long").as("tok_count"),
            col("n_chars"))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("tok_count")).as("tokens"),
            sum(col("n_chars")).as("bytes"))
        val mean = per.agg(avg(col("tokens").cast("double")).as("avg_tokens"))
        per.crossJoin(broadcast(mean))
          .select(col("shard"), col("n_docs"), col("tokens"), col("bytes"),
            round(col("tokens").cast("double") / col("avg_tokens"), 6).as("skew"))
          .orderBy(col("shard"))
      },
      Some("WITH s AS (SELECT (instr('0123456789abcdef', " +
        "substr(md5(CAST(doc_id AS VARCHAR)),6,1))-1) AS shard, " +
        "len(string_split(text,' ')) AS tok_count, n_chars FROM documents), " +
        "per AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(tok_count) AS BIGINT) AS tokens, CAST(sum(n_chars) AS BIGINT) AS bytes " +
        "FROM s GROUP BY shard), " +
        "m AS (SELECT avg(tokens) AS avg_tokens FROM per) " +
        "SELECT CAST(shard AS INTEGER) AS shard, n_docs, tokens, bytes, " +
        "round(tokens/avg_tokens, 6) AS skew FROM per, m ORDER BY shard")),

    GraftQuery(
      "q120_source_containment",
      "Cross-source shingle containment — the mirror/scrape detector: for each ordered source pair (a,b), the fraction of a's distinct 3-gram shingles that also occur in b. High containment with asymmetric sizes means a is substantially a subset of b (a mirror, a re-crawl, a laundered copy) even when doc-level dedup finds nothing. Reuses the pinned q41/q42 shingle relation; the intersection join fans out per shingle key by the number of sources sharing it (bounded by source count, never corpus size), then aggregates to a source-pair matrix — O(sources²) output rows, tiny at any corpus scale.",
      (s, d) => {
        val docs = t(s, d, "documents")
        val srcSh = cachedShingles(docs)
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .select(col("source"), col("sk")).distinct()
        val sizes = srcSh.groupBy(col("source")).agg(count(lit(1)).as("n"))
        srcSh.select(col("source").as("sa"), col("sk"))
          .join(srcSh.select(col("source").as("sb"), col("sk")), Seq("sk"))
          .filter(col("sa") =!= col("sb"))
          .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_shared"))
          .join(sizes.select(col("source").as("sa"), col("n").as("na")), Seq("sa"))
          .select(col("sa"), col("sb"), col("n_shared"),
            round(col("n_shared").cast("double") / col("na"), 6).as("containment"))
          .orderBy(col("sa"), col("sb"))
      },
      Some("WITH tk AS (SELECT doc_id, source, string_split(text,' ') AS toks FROM documents), " +
        "sh AS (SELECT DISTINCT source, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s " +
        "FROM tk, UNNEST(range(1, len(toks)-1)) t(i) WHERE len(toks) >= 3), " +
        "sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source), " +
        "inter AS (SELECT a.source AS sa, b.source AS sb, count(*) AS c " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.source <> b.source GROUP BY sa, sb) " +
        "SELECT sa, sb, CAST(c AS BIGINT) AS n_shared, round(c*1.0/n, 6) AS containment " +
        "FROM inter JOIN sizes ON sizes.source = inter.sa ORDER BY sa, sb")),

    GraftQuery(
      "q121_length_mad",
      "Per-source robust length statistics — median and median-absolute-deviation of token counts, the drift monitor a pipeline re-fits per crawl batch (mean/stddev are blown up by the exact outlier docs a curation pass cares about; median/MAD are not). The statistic is the rank-selected LOWER median (row_number = (cnt+1) div 2 over (value, doc_id)) — engines disagree on interpolated even-count medians (surfaced at sf0.1's even per-source counts), while rank selection is pure integer arithmetic, deterministic everywhere. Windows partition by source, so ranking never single-partitions the corpus.",
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            size(toks(col("text"))).cast("long").as("n"))
        val wN = Window.partitionBy(col("source")).orderBy(col("n"), col("doc_id"))
        val med = docs
          .withColumn("rn", row_number().over(wN))
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("source"))))
          .filter(col("rn") === expr("(cnt + 1) div 2"))
          .select(col("source"), col("n").as("med"), col("cnt"))
        val wA = Window.partitionBy(col("source")).orderBy(col("ad"), col("doc_id"))
        docs.join(broadcast(med), Seq("source"))
          .select(col("source"), col("doc_id"), col("med"), col("cnt"),
            abs(col("n") - col("med")).as("ad"))
          .withColumn("rn", row_number().over(wA))
          .filter(col("rn") === expr("(cnt + 1) div 2"))
          .select(col("source"), col("cnt").as("n_docs"),
            col("med").as("median_tokens"), col("ad").as("mad_tokens"))
          .orderBy(col("source"))
      },
      Some("WITH n AS (SELECT doc_id, source, len(string_split(text,' ')) AS n FROM documents), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY n, doc_id) AS rn, " +
        "count(*) OVER (PARTITION BY source) AS cnt FROM n), " +
        "m AS (SELECT source, n AS med, cnt FROM r WHERE rn = (cnt+1)//2), " +
        "a AS (SELECT n.source, n.doc_id, m.med, m.cnt, abs(n.n - m.med) AS ad " +
        "FROM n JOIN m ON n.source = m.source), " +
        "ra AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY ad, doc_id) AS rn FROM a) " +
        "SELECT source, CAST(cnt AS BIGINT) AS n_docs, CAST(med AS BIGINT) AS median_tokens, " +
        "CAST(ad AS BIGINT) AS mad_tokens FROM ra WHERE rn = (cnt+1)//2 ORDER BY source")),

    GraftQuery(
      "q122_head_dedup",
      "Head-prefix duplicate families (the RefinedWeb head-dedup pass): docs sharing an identical first-16-token prefix are one family — the same page re-crawled with a different tail, a templated article farm — which whole-text and passage dedup both under-count. Families hash on the 64-bit prefix key (8-byte shuffle, the shingleSet rationale), families of one drop out early, and each surviving family elects its keeper by (n_chars desc, doc_id) — the q110 quality-aware election. The per-family window runs over family members only, never the corpus.",
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("n_chars"), toks(col("text")).as("tk"))
          .filter(size(col("tk")) >= 16)
          .select(col("doc_id"), col("n_chars"),
            xxhash64(concat_ws(" ", slice(col("tk"), 1, 16))).as("hk"))
        val fam = docs.groupBy(col("hk")).agg(count(lit(1)).as("fam_size"))
          .filter(col("fam_size") > 1)
        docs.join(fam, Seq("hk"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("hk"))
              .orderBy(col("n_chars").desc, col("doc_id"))))
          .select(col("doc_id"), col("fam_size"), (col("rn") === 1).as("survivor"))
          .orderBy(col("doc_id"))
      },
      Some("WITH tk AS (SELECT doc_id, n_chars, string_split(text,' ') AS t FROM documents), " +
        "h AS (SELECT doc_id, n_chars, array_to_string(t[1:16], ' ') AS head " +
        "FROM tk WHERE len(t) >= 16), " +
        "fam AS (SELECT head, count(*) AS fam_size FROM h GROUP BY head HAVING count(*) > 1) " +
        "SELECT doc_id, fam_size, " +
        "row_number() OVER (PARTITION BY head ORDER BY n_chars DESC, doc_id) = 1 AS survivor " +
        "FROM h JOIN fam USING (head) ORDER BY doc_id"))
  ,

    GraftQuery(
      "q123_lexical_semantic_pairs",
      "Cross-modal dedup audit — every lexical near-dup pair (the q42 LSH-verified set, ≡ the exact answer) enriched with the embedding cosine of the SAME two documents (doc_id ≡ vec_id links the modalities). Disagreement is the actionable signal both directions: high Jaccard + low cosine means the embedding model misses paraphrase-level duplication (as in this fixture, whose embeddings are independent of text — exactly what the audit exists to expose); low cosine on known dups calibrates any SemDeDup threshold before it is trusted. The pair set scales with DUP DENSITY, not corpus size, so the two id-key joins carry NO forced broadcast hint: AQE broadcasts them while small and falls back to a shuffled hash join — still linear — when a dup-heavy corpus pushes the pair set past the broadcast ceiling (the 10x stress grew it 45x; a forced hint would fail outright there instead of degrading). Cosines fold in array order via the shared double-precision kernel.",
      (s, d) => {
        val p = lshPairs(s, cachedShingles(t(s, d, "documents")))
        val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val withA = e.select(col("vec_id").as("da"), col("embedding").as("ea"))
          .join(p, Seq("da"))
        e.select(col("vec_id").as("db"), col("embedding").as("eb"))
          .join(withA, Seq("db"))
          .select(col("da"), col("db"), col("jaccard"),
            round(cosine(col("ea"), col("eb")), 6).as("cos_r"))
          .orderBy(col("da"), col("db"))
      },
      Some("WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s " +
        "FROM tok, UNNEST(range(1, len(toks)-1)) t(i) WHERE len(toks) >= 3), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY da, db), " +
        "pr AS (SELECT da, db, round(c*1.0/(sa.n + sb.n - c), 6) AS jaccard " +
        "FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id " +
        s"WHERE round(c*1.0/(sa.n + sb.n - c), 6) >= $JaccardThreshold), " +
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings) " +
        "SELECT da, db, jaccard, round(list_inner_product(ea.emb, eb.emb)/" +
        "(sqrt(list_inner_product(ea.emb, ea.emb))*sqrt(list_inner_product(eb.emb, eb.emb))), 6) AS cos_r " +
        "FROM pr JOIN e ea ON ea.vec_id = pr.da JOIN e eb ON eb.vec_id = pr.db " +
        "ORDER BY da, db")),

    GraftQuery(
      "q125_dup_provenance",
      "Near-dup provenance — the q41/q42 near-dup pair set rolled up to UNORDERED source pairs (least/greatest normalization), the table that tells a crawl operator WHERE duplication comes from: a hot same-source cell means a template farm inside one crawl, a hot cross-source cell means mirrored sites or a laundered re-crawl, and the two demand different fixes (q118's boilerplate strip vs q120's source-level triage). Two id-key joins map pair ids to sources with NO forced broadcast hint (the pair set grows with dup density — AQE broadcasts while small, shuffles linearly past the ceiling); the rollup shuffles O(sources²) keys.",
      (s, d) => {
        val docs = t(s, d, "documents")
        val p = lshPairs(s, cachedShingles(docs))
        val src = docs.select(col("doc_id"), col("source"))
        val withA = src.select(col("doc_id").as("da"), col("source").as("src_a"))
          .join(p, Seq("da"))
        src.select(col("doc_id").as("db"), col("source").as("src_b"))
          .join(withA, Seq("db"))
          .select(least(col("src_a"), col("src_b")).as("sa"),
            greatest(col("src_a"), col("src_b")).as("sb"),
            col("da"))
          .groupBy(col("sa"), col("sb"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("sa"), col("sb"))
      },
      Some("WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s " +
        "FROM tok, UNNEST(range(1, len(toks)-1)) t(i) WHERE len(toks) >= 3), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY da, db), " +
        "pr AS (SELECT da, db FROM inter " +
        "JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id " +
        s"WHERE round(c*1.0/(sa.n + sb.n - c), 6) >= $JaccardThreshold) " +
        "SELECT least(x.source, y.source) AS sa, greatest(x.source, y.source) AS sb, " +
        "CAST(count(*) AS BIGINT) AS n_pairs " +
        "FROM pr JOIN documents x ON x.doc_id = pr.da JOIN documents y ON y.doc_id = pr.db " +
        "GROUP BY 1, 2 ORDER BY sa, sb")),

    GraftQuery(
      "q126_incremental_dedup",
      "Incremental-ingest dedup gate — the nightly operator a live pipeline runs on each new crawl increment (here: doc_id % 10 == 9) against the standing corpus: exact duplicates by normalized digest (the q40 kernel, a digest-key join — never text), near-duplicates by the q42 LSH pair kernel restricted to batch↔corpus pairs, verdict = exact_dup > near_dup > new. Both probes are linear: the digest join shuffles (digest, id), and the near-dup partners come from the SAME banded candidate generation every other dedup analysis rides — the increment never all-pairs-joins the corpus. At 100 TB the corpus digests and band buckets are standing materializations and the increment streams against them.",
      (s, d) => {
        val base = t(s, d, "documents")
        val docs = base
          .withColumn("h", md5(lower(trim(col("text")))))
          .withColumn("is_batch", col("doc_id") % 10 === 9)
        val batch = docs.filter(col("is_batch"))
        val corpusDigests = docs.filter(!col("is_batch"))
          .groupBy(col("h")).agg(count(lit(1)).as("n_exact"))
        // shingle/pair relations build from the PLAIN table — the
        // h/is_batch projections above would fork the canonicalized
        // plan and give this query a private cache entry instead of
        // the session-shared shingle+pair relations
        val p = lshPairs(s, cachedShingles(base)).select(col("da"), col("db"))
        val partners = p.union(p.select(col("db"), col("da")))
          .toDF("bid", "pid")
          .filter(col("bid") % 10 === 9 && col("pid") % 10 =!= 9)
          .groupBy(col("bid")).agg(count(lit(1)).as("n_near"))
        batch.select(col("doc_id"), col("h"))
          .join(corpusDigests, Seq("h"), "left")
          .join(partners, col("doc_id") === col("bid"), "left")
          .select(col("doc_id"),
            coalesce(col("n_exact"), lit(0L)).as("n_exact"),
            coalesce(col("n_near"), lit(0L)).as("n_near"))
          .withColumn("verdict",
            when(col("n_exact") > 0, "exact_dup")
              .when(col("n_near") > 0, "near_dup")
              .otherwise("new"))
          .orderBy(col("doc_id"))
      },
      Some("WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s " +
        "FROM tok, UNNEST(range(1, len(toks)-1)) t(i) WHERE len(toks) >= 3), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY da, db), " +
        "pr AS (SELECT da, db FROM inter " +
        "JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id " +
        s"WHERE round(c*1.0/(sa.n + sb.n - c), 6) >= $JaccardThreshold), " +
        "docs AS (SELECT doc_id, md5(lower(trim(text))) AS h, doc_id % 10 = 9 AS is_batch FROM documents), " +
        "cd AS (SELECT h, count(*) AS n_exact FROM docs WHERE NOT is_batch GROUP BY h), " +
        "pn AS (SELECT bid, count(*) AS n_near FROM (" +
        "SELECT da AS bid, db AS pid FROM pr UNION ALL SELECT db, da FROM pr) " +
        "WHERE bid % 10 = 9 AND pid % 10 <> 9 GROUP BY bid) " +
        "SELECT d.doc_id, CAST(coalesce(cd.n_exact, 0) AS BIGINT) AS n_exact, " +
        "CAST(coalesce(pn.n_near, 0) AS BIGINT) AS n_near, " +
        "CASE WHEN coalesce(cd.n_exact, 0) > 0 THEN 'exact_dup' " +
        "WHEN coalesce(pn.n_near, 0) > 0 THEN 'near_dup' ELSE 'new' END AS verdict " +
        "FROM docs d LEFT JOIN cd ON d.h = cd.h LEFT JOIN pn ON d.doc_id = pn.bid " +
        "WHERE d.is_batch ORDER BY d.doc_id")),

    GraftQuery(
      "q127_threshold_sweep",
      "Dedup-threshold calibration curve — pair and doc counts at Jaccard cutoffs 0.5…0.9, the table an operator reads before committing a threshold (too low merges distinct docs into one survivor cluster, too high ships duplicates to training). One pass over the q42-verified pair set crossed with 5 threshold literals; counts only, so the whole sweep costs one pair-set scan regardless of corpus size. Thresholds compare against the 6dp-ROUNDED jaccard (the standing rule), so both engines agree at exact cutpoints.",
      (s, d) => {
        val p = lshPairs(s, cachedShingles(t(s, d, "documents")))
        val ts = array((5 to 9).map(i => lit(i / 10.0)): _*)
        val hit = p.select(col("da"), col("db"), col("jaccard"),
            explode(ts).as("t"))
          .filter(col("jaccard") >= col("t"))
        val nPairs = hit.groupBy(col("t")).agg(count(lit(1)).as("n_pairs"))
        val nDocs = hit.select(col("t"), explode(array(col("da"), col("db"))).as("doc"))
          .groupBy(col("t")).agg(countDistinct(col("doc")).as("n_docs"))
        nPairs.join(nDocs, Seq("t"))
          .select(col("t"), col("n_pairs"), col("n_docs"))
          .orderBy(col("t"))
      },
      Some("WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s " +
        "FROM tok, UNNEST(range(1, len(toks)-1)) t(i) WHERE len(toks) >= 3), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c " +
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY da, db), " +
        "pr AS (SELECT da, db, round(c*1.0/(sa.n + sb.n - c), 6) AS jaccard " +
        "FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id " +
        s"WHERE round(c*1.0/(sa.n + sb.n - c), 6) >= $JaccardThreshold), " +
        "th AS (SELECT i/10.0 AS t FROM UNNEST(range(5, 10)) x(i)), " +
        "hit AS (SELECT da, db, t FROM pr, th WHERE jaccard >= t), " +
        "np AS (SELECT t, count(*) AS n_pairs FROM hit GROUP BY t), " +
        "nd AS (SELECT t, count(DISTINCT doc) AS n_docs " +
        "FROM (SELECT t, UNNEST([da, db]) AS doc FROM hit) GROUP BY t) " +
        "SELECT np.t AS t, CAST(n_pairs AS BIGINT) AS n_pairs, " +
        "CAST(n_docs AS BIGINT) AS n_docs " +
        "FROM np JOIN nd ON np.t = nd.t ORDER BY np.t")),

    GraftQuery(
      "q128_source_kl",
      "Per-source KL divergence from the corpus token distribution — the drift number behind mixture re-weighting decisions (a source whose unigram LM diverges is over/under-represented relative to the blend it feeds): KL(P_src ‖ P_corpus) over add-one-smoothed unigram LMs, both trained IN the plan (the q88/q108 posture). The summation grid is vocab × sources — built as a BROADCAST nested-loop of the tiny per-source totals against the vocab-keyed count table (never a cartesian of data), left-joined with per-(source,token) counts so absent tokens contribute their smoothed mass. Shuffles are token-key groupBys; the rollup is |sources| keys.",
      (s, d) => {
        val tk = t(s, d, "documents")
          .select(col("source"), explode(toks(col("text"))).as("tok"))
        val cAll = tk.groupBy(col("tok")).agg(count(lit(1)).as("c_all"))
        val cSrc = tk.groupBy(col("source"), col("tok"))
          .agg(count(lit(1)).as("c_src"))
        val nSrc = tk.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
        val tot = tk.agg(count(lit(1)).cast("double").as("n_all"),
          countDistinct(col("tok")).cast("double").as("v"))
        cAll.crossJoin(broadcast(nSrc))
          .join(cSrc, Seq("source", "tok"), "left")
          .crossJoin(broadcast(tot))
          .withColumn("p",
            (coalesce(col("c_src"), lit(0L)) + 1) / (col("n_src") + col("v")))
          .withColumn("q", (col("c_all") + 1) / (col("n_all") + col("v")))
          .groupBy(col("source"))
          .agg(max(col("n_src")).as("n_tokens"),
            round(sum(col("p") * log(col("p") / col("q"))), 6).as("kl_nats"))
          .orderBy(col("source"))
      },
      Some("WITH tk AS (SELECT source, unnest(string_split(text,' ')) AS tok FROM documents), " +
        "ca AS (SELECT tok, count(*) AS c_all FROM tk GROUP BY tok), " +
        "cs AS (SELECT source, tok, count(*) AS c_src FROM tk GROUP BY source, tok), " +
        "ns AS (SELECT source, count(*) AS n_src FROM tk GROUP BY source), " +
        "tt AS (SELECT count(*)*1.0 AS n_all, count(DISTINCT tok)*1.0 AS v FROM tk), " +
        "g AS (SELECT ns.source, ca.tok, coalesce(cs.c_src, 0) AS c_src, " +
        "ca.c_all, ns.n_src, tt.n_all, tt.v " +
        "FROM ca CROSS JOIN ns CROSS JOIN tt " +
        "LEFT JOIN cs ON cs.source = ns.source AND cs.tok = ca.tok) " +
        "SELECT source, CAST(max(n_src) AS BIGINT) AS n_tokens, " +
        "round(sum(((c_src+1)/(n_src+v)) * " +
        "ln(((c_src+1)/(n_src+v)) / ((c_all+1)/(n_all+v)))), 6) AS kl_nats " +
        "FROM g GROUP BY source ORDER BY source")),

    GraftQuery(
      "q129_dup_depth",
      "Duplication-depth spectrum — for each document, the LONGEST sliding n-gram level (n ∈ 4/8/16/32) at which it still shares a phrase with another document; 0 = fully original. This is the variable-length complement to fixed-size passage dedup: depth 4 is common phrasing, depth 32 is wholesale copying, and the histogram of depths tells a curation pass where to set its passage length. All four levels build in ONE tokenize+shingle pass: each doc emits (lvl, gramhash) structs for every level at once, and the shared-gram mark is a grouped collect_set over (lvl, gk) — the exploded frame is consumed exactly ONCE (the first registration built each level's shingle frame twice, executing the explode 8× per run — the round-9 bench regression), the set aggregation merges map-side (a window count here would buffer every row of a hot boilerplate gram on one task with no partial aggregation), and only the shared grams survive to the final explode + doc_id rollup. array_distinct per (doc, lvl) makes each set's size the exact sharing-doc count; a gram shared by every doc still costs one id-array, not a buffered row partition.",
      (s, d) => {
        val base = t(s, d, "documents").select(col("doc_id"), toks(col("text")).as("tk"))
        val perLevel = Seq(4, 8, 16, 32).map { n =>
          when(size(col("tk")) >= n,
            transform(array_distinct(shingles(col("tk"), n)),
              g => struct(lit(n).as("lvl"), xxhash64(g).as("gk"))))
            .otherwise(array().cast("array<struct<lvl:int,gk:bigint>>"))
        }
        val sh = base
          .select(col("doc_id"), explode(concat(perLevel: _*)).as("s"))
          .select(col("doc_id"), col("s.lvl").as("lvl"), col("s.gk").as("gk"))
        // Shared-gram mark via grouped doc-id sets, NOT a (lvl, gk)
        // window: an unordered window buffers every row of a hot gram
        // on one task with no partial aggregation, while collect_set
        // merges map-side and holds one compact id set per gram key —
        // and only the SHARED grams (a vanishing fraction of the
        // corpus) survive to the explode. Per-doc array_distinct above
        // makes set size == sharing-doc count exactly.
        val marked = sh
          .groupBy(col("lvl"), col("gk"))
          .agg(collect_set(col("doc_id")).as("ds"))
          .filter(size(col("ds")) > 1)
          .select(explode(col("ds")).as("doc_id"), col("lvl"))
          .groupBy(col("doc_id")).agg(max(col("lvl")).as("m"))
        base.select(col("doc_id"))
          .join(marked, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("m"), lit(0)).as("max_dup_n"))
          .orderBy(col("doc_id"))
      },
      Some("WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        Seq(4, 8, 16, 32).map { n =>
          s"sh$n AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+${n - 1}], ' ') AS g " +
            s"FROM tk, UNNEST(range(1, len(t)-${n - 2})) x(i) WHERE len(t) >= $n), " +
            s"l$n AS (SELECT DISTINCT a.doc_id, $n AS lvl " +
            s"FROM sh$n a JOIN sh$n b ON a.g = b.g AND a.doc_id <> b.doc_id)"
        }.mkString(", ") + ", " +
        "m AS (SELECT doc_id, max(lvl) AS m FROM " +
        "(SELECT * FROM l4 UNION ALL SELECT * FROM l8 " +
        "UNION ALL SELECT * FROM l16 UNION ALL SELECT * FROM l32) GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(coalesce(m.m, 0) AS INTEGER) AS max_dup_n " +
        "FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id ORDER BY d.doc_id")),

    GraftQuery(
      "q130_ccnet_buckets",
      "CCNet-style per-language quality calibration — the canonical curation step downstream of the bigram LM (q88): each document's lm_score is percentile-ranked WITHIN its language and cut at 1/3 and 2/3 into head/middle/tail (head = the most fluent third of that language, the slice CCNet keeps; a global cut would just rank languages against each other). Reuses q88's in-plan scoring verbatim plus one doc_id-key lang join. The rank is EXACT but never plans a per-language window over the data — at corpus scale one dominant language (half the web is English) would sort billions of rows in a single window task — instead the grouped RangeRank two-pass runs: rank within (lang, score-range bucket) cells, then add per-cell offsets from the tiny (lang, bucket) count table; percent_rank reconstructs as (rn-1)/(n-1), identical to the window definition because the (lm_score, doc_id) order is total and equal scores always share a bucket. The cuts compare against the 6dp-ROUNDED rank, so both engines bucket identically.",
      (s, d) => {
        val scored = bigramLmScores(s, d)
          .join(t(s, d, "documents").select(col("doc_id"), col("lang")),
            Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("lm_score"))
        // ~32 buckets per unit of lm_score: bucket count only dials
        // task size (a billion-doc language splits across cells), never
        // values — floor is monotone in the leading sort key
        val ranked = graft.ext.RangeRank.withGroupedRowNumber(
          scored, Seq("lang"), floor(col("lm_score") * 32),
          Seq(col("lm_score"), col("doc_id")), rnName = "rn", nName = "n")
        ranked
          .withColumn("pr", round(
            when(col("n") === 1, lit(0.0))
              .otherwise((col("rn") - 1).cast("double") / (col("n") - 1)), 6))
          .withColumn("bucket",
            when(col("pr") >= 0.666667, "head")
              .when(col("pr") >= 0.333333, "middle")
              .otherwise("tail"))
          .select(col("doc_id"), col("lang"), col("lm_score"), col("pr"),
            col("bucket"))
          .orderBy(col("doc_id"))
      },
      Some("WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg, t[i] AS w1 " +
        "FROM tk, UNNEST(range(1, len(t))) x(i) WHERE len(t) >= 2), " +
        "c12 AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY bg), " +
        "c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1), " +
        "v AS (SELECT count(DISTINCT tok)*1.0 AS v FROM " +
        "(SELECT unnest(string_split(text,' ')) AS tok FROM documents)), " +
        "sc AS (SELECT doc_id, round(avg(ln((c12 + 1) / (c1 + v))), 6) AS lm_score " +
        "FROM bg JOIN c12 USING (bg) JOIN c1 USING (w1), v GROUP BY doc_id), " +
        "j AS (SELECT sc.doc_id, d.lang, sc.lm_score, " +
        "round(percent_rank() OVER (PARTITION BY d.lang " +
        "ORDER BY sc.lm_score, sc.doc_id), 6) AS pr " +
        "FROM sc JOIN documents d ON sc.doc_id = d.doc_id) " +
        "SELECT doc_id, lang, lm_score, pr, " +
        "CASE WHEN pr >= 0.666667 THEN 'head' " +
        "WHEN pr >= 0.333333 THEN 'middle' ELSE 'tail' END AS bucket " +
        "FROM j ORDER BY doc_id")),

    GraftQuery(
      "q131_vocab_oov",
      "Tokenizer-coverage audit: out-of-vocabulary token mass per source against the top-1024 corpus vocabulary — the number that says whether a fixed tokenizer vocab (or stopword table, or hash-feature space) trained on the blend actually covers each source, before a low-coverage source silently explodes into UNK/byte fallbacks. The vocab is built IN the plan by global count with a (count desc, token) total order so both engines pick the identical 1024 (orderBy+limit plans TakeOrderedAndProject — per-partition top-k then a k-row merge, never a global sort); it then broadcasts into a map-side left join against the streaming token scan. One token-key shuffle for the counts, one source-key rollup; linear end to end.",
      (s, d) => {
        val tk = t(s, d, "documents")
          .select(col("source"), explode(toks(col("text"))).as("tok"))
        val vocab = tk.groupBy(col("tok")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tok")).limit(1024)
          .select(col("tok"), lit(1).as("inv"))
        tk.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_rate", round(col("n_oov") / col("n_tokens"), 6))
          .orderBy(col("source"))
      },
      Some("WITH tk AS (SELECT source, unnest(string_split(text,' ')) AS tok " +
        "FROM documents), " +
        "v AS (SELECT tok, 1 AS inv FROM (SELECT tok, count(*) AS c FROM tk " +
        "GROUP BY tok ORDER BY c DESC, tok LIMIT 1024)) " +
        "SELECT tk.source, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CASE WHEN v.inv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
        "round(sum(CASE WHEN v.inv IS NULL THEN 1 ELSE 0 END)*1.0/count(*), 6) " +
        "AS oov_rate " +
        "FROM tk LEFT JOIN v ON tk.tok = v.tok " +
        "GROUP BY tk.source ORDER BY tk.source")),

    GraftQuery(
      "q134_bpe_train",
      "Full BPE trainer — the loop q100's kernel promised: 10 merge rounds, each taking the corpus-wide most-frequent adjacent symbol pair (count desc, lexical tiebreak — a total order, so both engines pick the identical winner) and rewriting every word by greedy leftmost non-overlapping merge of that pair. The corpus is touched ONCE (word count); every round after that runs on the distinct-word table weighted by frequency — the standard Sennrich et al. 2016 working set, vocab-sized (~1e5-1e6 rows at any corpus size), so a round is one micro-shuffle on pair keys plus a broadcast of the single winning pair into a codegen'd higher-order fold (string-accumulator aggregate — merges are sequential within a word, but words are independent rows). localCheckpoint truncates lineage per round (the connectedLabels posture; a cluster deployment would checkpoint the vocab table to parquet), keeping the 10-round plan linear instead of 2^10. Frequencies sum as BIGINT — exact at any parallelism. Output: the learned merge list, the artifact a tokenizer ships.",
      (s, d) => bpeTrain(s, d, rounds = 10),
      Some(bpeTrainSql(10))),

    GraftQuery(
      "q136_bpe_encode",
      "Tokenizer SERVING path — encode the corpus with q134's trained merges and account the result per source: word/char/BPE-token mass plus tokens-per-char and tokens-per-word (the fertility numbers that decide whether a tokenizer suits a corpus, and the token-budget table a training run is planned against). The trained vocabulary (original word → its merged symbol string) joins under a COUNT-GATED broadcast: the word table is already checkpointed, so one O(vocab) count decides — hinted map-side join while it clearly fits (every test SF), shuffle join on the word key when a web-scale corpus pushes the distinct-word table past the ceiling (typos/URLs/numbers make it corpus-dependent, not vocab-bounded — an unconditional hint fails outright at 100 TB, the q123 lesson, while an unconditional non-hint pays the probe-side token shuffle before AQE can downgrade). Shares bpeLoop with q134 (identical 10-round training, same localCheckpoint lineage posture); the DuckDB twin reuses the identical generated CTE chain with an encode tail, so trainer and encoder can never drift.",
      (s, d) =>
        bpeEncodeWith(bpeLoop(s, d, rounds = 10)._2, t(s, d, "documents")),
      Some(bpeEncodeSql(10))),

    GraftQuery(
      "q135_exact_substring",
      "Variable-length EXACT substring dedup (the suffix-array dedup of Lee et al. 2022, 'Deduplicating Training Data Makes Language Models Better', re-expressed as distributed anchor-and-extend): for every doc pair, the length in tokens of their longest shared verbatim span, plus how many distinct long spans they share — the dedup modality that catches partial plagiarism/quotation that whole-doc MinHash (q42) and fixed-k n-grams (q129) only bracket. Every 8-token anchor posts (doc, position); matching anchors across docs land on a diagonal (pa-pb), and a shared span of exactly T tokens is T-7 consecutive anchors on ONE diagonal — so gaps-and-islands over (pair, diagonal) reconstructs every maximal span EXACTLY (span = run+7), no pairwise extension step needed. Linear, never all-pairs: anchors are one row per token; an occurrence cap (df<=50, the Lee et al. boilerplate guard, identical in the oracle) bounds join fan-out on corpus-common anchors; the island window partitions by (pair, diagonal) — thousands of tiny sorts, nothing corpus-wide. Spans shorter than 16 tokens are below the reporting floor by design; anchors join on xxhash64 keys (8-byte shuffle width, collision odds ~n²/2^64 — the q41 argument).",
      (s, d) => {
        substringRuns(t(s, d, "documents"))
          .groupBy(col("da"), col("db"))
          .agg(max(col("span")).as("max_shared_tokens"),
            count(lit(1)).as("n_spans"))
          .orderBy(col("da"), col("db"))
      },
      Some("WITH tok AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "anch AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS a " +
        "FROM tok, UNNEST(range(1, len(t)-6)) x(i) WHERE len(t) >= 8), " +
        "keep AS (SELECT a FROM (SELECT a, count(*) AS df FROM anch GROUP BY a) " +
        "WHERE df <= 50), " +
        "aa AS (SELECT doc_id, pos, a FROM anch WHERE a IN (SELECT a FROM keep)), " +
        "cand AS (SELECT x.doc_id AS da, x.pos AS pa, y.doc_id AS db, y.pos AS pb " +
        "FROM aa x JOIN aa y ON x.a = y.a AND x.doc_id < y.doc_id), " +
        "isl AS (SELECT da, db, pa - pb AS diag, pa, " +
        "pa - row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) AS grp " +
        "FROM cand), " +
        "runs AS (SELECT da, db, count(*) + 7 AS span FROM isl " +
        "GROUP BY da, db, diag, grp) " +
        "SELECT da, db, CAST(max(span) AS BIGINT) AS max_shared_tokens, " +
        "CAST(count(*) AS BIGINT) AS n_spans " +
        "FROM runs WHERE span >= 16 GROUP BY da, db ORDER BY da, db")),

    GraftQuery(
      "q137_substring_yield",
      "Exact-substring REMOVAL accounting — what Lee et al. dedup would actually do to the corpus: under keep-the-earliest-copy, every doc loses the token positions covered by qualifying shared spans (>=16 tokens) against ANY earlier doc, and this query reports the per-source yield — docs affected, tokens removed, removal rate — the numbers that decide whether span-level dedup is worth running on a crawl before training. Reuses q135's maximal runs verbatim (shared substringRuns helper, so detector and accountant can never drift); each run covers positions pb0..pb0+span-1 in the LATER doc, overlapping runs from different earlier docs union by position-distinct, and the removed-position count joins back to per-doc token totals. Cost beyond q135: one bounded position explode (covered tokens only — at most the corpus token count), a (doc, pos) distinct, and two rollups. Same linearity: nothing all-pairs, windows stay per-(pair,diagonal).",
      (s, d) => {
        val docs = t(s, d, "documents")
        val removedPos = substringRuns(docs)
          .select(col("db").as("doc_id"),
            explode(sequence(col("pb0"), col("pb0") + col("span") - 1))
              .as("pos"))
          .distinct()
        val removed = removedPos.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_removed"))
        docs
          .select(col("doc_id"), col("source"),
            size(toks(col("text"))).cast("long").as("n_tok"))
          .join(removed, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_removed").isNotNull, 1L).otherwise(0L))
              .as("n_docs_affected"),
            sum(col("n_tok")).as("n_tokens"),
            sum(coalesce(col("n_removed"), lit(0L))).as("n_tokens_removed"))
          .withColumn("removal_rate",
            round(col("n_tokens_removed") / col("n_tokens"), 6))
          .orderBy(col("source"))
      },
      Some("WITH tok AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "anch AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS a " +
        "FROM tok, UNNEST(range(1, len(t)-6)) x(i) WHERE len(t) >= 8), " +
        "keep AS (SELECT a FROM (SELECT a, count(*) AS df FROM anch GROUP BY a) " +
        "WHERE df <= 50), " +
        "aa AS (SELECT doc_id, pos, a FROM anch WHERE a IN (SELECT a FROM keep)), " +
        "cand AS (SELECT x.doc_id AS da, x.pos AS pa, y.doc_id AS db, y.pos AS pb " +
        "FROM aa x JOIN aa y ON x.a = y.a AND x.doc_id < y.doc_id), " +
        "isl AS (SELECT da, db, pa - pb AS diag, pa, " +
        "pa - row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) AS grp " +
        "FROM cand), " +
        "runs AS (SELECT da, db, min(pa) - diag AS pb0, count(*) + 7 AS span " +
        "FROM isl GROUP BY da, db, diag, grp), " +
        "rp AS (SELECT DISTINCT db AS doc_id, pb0 + u.i AS pos FROM runs, " +
        "UNNEST(range(0, span)) u(i) WHERE span >= 16), " +
        "rm AS (SELECT doc_id, count(*) AS n_removed FROM rp GROUP BY doc_id), " +
        "n AS (SELECT doc_id, source, len(string_split(text,' ')) AS n_tok FROM documents) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(CASE WHEN rm.n_removed IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_affected, " +
        "CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
        "CAST(sum(coalesce(rm.n_removed, 0)) AS BIGINT) AS n_tokens_removed, " +
        "round(sum(coalesce(rm.n_removed, 0))*1.0/sum(n_tok), 6) AS removal_rate " +
        "FROM n LEFT JOIN rm ON n.doc_id = rm.doc_id " +
        "GROUP BY source ORDER BY source")),

    GraftQuery(
      "q162_snapshot_diff",
      "Corpus snapshot diff — the versioning pass a continuously-recrawled training corpus runs before every publish: two snapshots compare by content DIGEST on the snapshot key (a deterministic snapshot B derives in-plan from the fixture: every 7th doc dropped, another 7th edited, another 7th re-keyed as an addition), and a single digest-level full-outer hash join classifies every key as added / removed / changed — the md5 computes scan-side, so the join exchanges 16-byte digests, never document text. At 100 TB both snapshots live doc_id-bucketed on disk (the ShingleStore layout), making this diff a zero-shuffle sort-merge over co-located buckets; the changed/removed keys are exactly the invalidation list every derived artifact (shingle tables, ANN indexes, BM25 stats) consumes to update incrementally instead of rebuilding.",
      (s, d) => {
        val docs = t(s, d, "documents")
        val snapB = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(7L)) === 5,
              concat(col("text"), lit(" edited"))).otherwise(col("text"))
              .as("text"))
          .unionByName(docs.filter(pmod(col("doc_id"), lit(7L)) === 1)
            .select((col("doc_id") + 10000000L).as("doc_id"),
              concat(col("text"), lit(" new")).as("text")))
        snapshotDiff(docs, snapB, "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("WITH a AS (SELECT doc_id, md5(text) AS ha FROM documents), " +
        "b AS (SELECT doc_id, md5(CASE WHEN doc_id % 7 = 5 " +
        "THEN text || ' edited' ELSE text END) AS hb " +
        "FROM documents WHERE doc_id % 7 <> 3 " +
        "UNION ALL SELECT doc_id + 10000000, md5(text || ' new') " +
        "FROM documents WHERE doc_id % 7 = 1) " +
        "SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, " +
        "CASE WHEN b.hb IS NULL THEN 'removed' " +
        "WHEN a.ha IS NULL THEN 'added' " +
        "WHEN a.ha <> b.hb THEN 'changed' ELSE 'unchanged' END AS status " +
        "FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id " +
        "WHERE (CASE WHEN b.hb IS NULL THEN 'removed' " +
        "WHEN a.ha IS NULL THEN 'added' " +
        "WHEN a.ha <> b.hb THEN 'changed' ELSE 'unchanged' END) <> 'unchanged' " +
        "ORDER BY doc_id")),

    GraftQuery(
      "q164_setsim_prefix",
      "Exact set-similarity join by PREFIX FILTERING (Bayardo/Ma/Srikant 2007 'Scaling Up All Pairs Similarity Search' / Chaudhuri 2006 SSJoin) — the third arm of the near-dup triangle beside q41 (all-pairs exact, the oracle baseline) and q42 (MinHash-LSH, probabilistically lossless): order every doc's shingle set by ascending global document frequency (rarest first, ties by key), keep only the first floor(n/2)+1 shingles as the doc's PREFIX, and generate candidates from prefix-key collisions alone — by the prefix pigeonhole, two sets with Jaccard >= 0.5 MUST collide on some prefix shingle (if all o common shingles hid in A's suffix of ceil(n/2)-1 slots, o < ceil(n/2) would contradict o >= J*|union| >= n/2; the 6dp-rounded gate weakens J's floor by 5e-7, negligible below a million shingles per doc). Candidates then verify with the exact rounded-Jaccard tail q41 uses, so the output is IDENTICAL to q41/q42 (shared oracle) while being deterministically lossless — no banding probability — and candidate-volume-scaled: the df ordering makes prefixes collide on RARE shingles, so boilerplate n-grams never drive the join. One df rollup + per-doc windows (tiny frames) + a prefix-key shuffle; the 100 TB posture for exact-guarantee dedup compliance audits where q42's 2e-6 miss probability is not a contract.",
      (s, d) => {
        val sh = cachedShingles(t(s, d, "documents"))
        // Doc -> sorted shingle-set array, built ONCE and pinned: it
        // feeds the df rollup's complement (sizes) and BOTH sides of
        // the candidate verify. Verifying against per-doc ARRAYS
        // instead of re-joining exploded shingle rows is the load-
        // bearing choice: the prefix screen at t=0.5 admits ~80
        // candidates per doc on this corpus, and the row-form verify
        // (cand x shingles x shingles -> groupBy) materialized 21M
        // rows / 3.4 s where the array form does two doc_id hash
        // joins (corpus-side AQE-broadcast at small SF, co-located
        // sort-merge against the doc_id-bucketed store at 100 TB) and
        // one codegen'd sorted-array intersection per candidate.
        val docArr = docShingleArrays(sh)
        val dfreq = sh.groupBy(col("sk")).agg(count(lit(1)).as("df"))
        // pinned: the prefix table feeds BOTH sides of the candidate
        // self-join — unpinned, the df-rollup + window subtree would
        // plan (and execute) twice
        val pref = pin(sh.join(dfreq, Seq("sk"))
          .withColumn("pos", row_number().over(
            Window.partitionBy(col("doc_id"))
              .orderBy(col("df"), col("sk"))))
          .join(docArr.select(col("doc_id"), col("n")), Seq("doc_id"))
          .filter(col("pos") <= expr("n div 2 + 1"))
          .select(col("doc_id"), col("sk")))
        val cand = pref.select(col("doc_id").as("da"), col("sk"))
          .join(pref.select(col("doc_id").as("db"), col("sk")), Seq("sk"))
          .filter(col("da") < col("db"))
          .select(col("da"), col("db")).distinct()
        cand
          .join(docArr.select(col("doc_id").as("da"), col("arr").as("aa"),
            col("n").as("na")), Seq("da"))
          .join(docArr.select(col("doc_id").as("db"), col("arr").as("ab"),
            col("n").as("nb")), Seq("db"))
          // size-ratio prune BEFORE the intersection: round(J,6) >= 0.5
          // forces 3c >= (1 - 1e-6)(na+nb) with c <= min(na,nb), so
          // max(n) <= 2*min(n) + 2 (the +2 absorbs the 6dp rounding
          // slack for any doc under a million shingles) — exactness-
          // preserving, and it drops the intersection work for
          // length-mismatched candidate pairs entirely
          .filter(col("na") <= col("nb") * 2 + 2 &&
            col("nb") <= col("na") * 2 + 2)
          .withColumn("c", size(array_intersect(col("aa"), col("ab"))))
          .withColumn("jaccard",
            round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 6))
          .filter(col("jaccard") >= JaccardThreshold)
          .select(col("da"), col("db"), col("jaccard"))
          .orderBy(col("da"), col("db"))
      },
      Some(jaccardOracle)),

    GraftQuery(
      "q165_fuzzy_tail_dedup",
      "Blocked EDIT-DISTANCE near-dup verify — the classic record-linkage posture (Levenshtein on a bounded field inside equality blocks) that catches what both exact dedup and set-based Jaccard frame differently: documents sharing an exact (lang, 8-char head) block — the fixture's near-dup families share heads by construction, the common one-picture-many-page-edits crawl reality — compare their TAILS (last 40 chars, where the perturbations live) by exact Levenshtein distance, keeping pairs within edit distance 16. Blocking makes it scale: candidates are per-block pairs (block sizes are family-sized, never corpus-sized), and the DP edit distance runs on 40-char strings only — O(1600) per candidate, bounded by construction, the reason the field is windowed rather than whole-doc. The distance is an integer, so both engines gate identically; the standard blocking tradeoff (a pair whose heads differ is never compared) is the documented contract, not a bug — q41/q42 cover head-divergent similarity by token sets.",
      (s, d) => {
        val dd = t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            substring(col("text"), 1, 8).as("hd"),
            expr("right(text, 40)").as("tl"))
        val a = dd.select(col("lang"), col("hd"),
          col("doc_id").as("da"), col("tl").as("ta"))
        val b = dd.select(col("lang"), col("hd"),
          col("doc_id").as("db"), col("tl").as("tb"))
        a.join(b, Seq("lang", "hd")).filter(col("da") < col("db"))
          .withColumn("edit_dist", levenshtein(col("ta"), col("tb")))
          .filter(col("edit_dist") <= 16)
          .select(col("da"), col("db"), col("edit_dist"))
          .orderBy(col("da"), col("db"))
      },
      Some("WITH d AS (SELECT doc_id, lang, substr(text,1,8) AS hd, " +
        "right(text,40) AS tl FROM documents) " +
        "SELECT a.doc_id AS da, b.doc_id AS db, " +
        "CAST(levenshtein(a.tl, b.tl) AS INT) AS edit_dist " +
        "FROM d a JOIN d b ON a.lang = b.lang AND a.hd = b.hd " +
        "AND a.doc_id < b.doc_id " +
        "WHERE levenshtein(a.tl, b.tl) <= 16 ORDER BY da, db")),

    GraftQuery(
      "q169_containment_dedup",
      "ASYMMETRIC containment dedup (Broder's containment, C(A,B) = |A∩B|/|A|) — the sub-document detector resemblance-based dedup is structurally blind to: a small doc pasted inside a much larger one has low Jaccard (the union is dominated by the container) but containment ~1, exactly the quote-farm / scraped-aggregator shape. Emits (contained, container) pairs with C >= 0.8 and |A| < |B| over the shared shingle kernel; the gate is EXACT integer arithmetic (5c >= 4|A|) on both engines — round(...,6) is display-only, so no rounding slack exists for a screen to have to clear. Like q41 this registers the EXACT all-pairs form as the oracle baseline; the scale path is the same screen-then-price pairing the substring family uses — q39's winnowing containment ESTIMATE (df-capped fingerprints) nominates candidates and this exact kernel prices them, so the corpus-wide cost stays candidate-linear while the semantics stay exact.",
      (s, d) => {
        val sh = cachedShingles(t(s, d, "documents"))
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val inter = sh.select(col("doc_id").as("da"), col("sk"))
          .join(sh.select(col("doc_id").as("db"), col("sk")), Seq("sk"))
          .filter(col("da") =!= col("db"))
          .groupBy(col("da"), col("db")).agg(count(lit(1)).as("c"))
        inter
          .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
          .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
          // exact integer gate (c/na >= 0.8 <=> 5c >= 4na); round(...,6)
          // is display-only — see containmentOracle's gate note
          .filter(col("c") * 5 >= col("na") * 4 && col("na") < col("nb"))
          .withColumn("containment", round(col("c").cast("double") / col("na"), 6))
          .select(col("da"), col("db"), col("na"), col("nb"), col("containment"))
          .orderBy(col("da"), col("db"))
      },
      Some(containmentOracle)),

    GraftQuery(
      "q179_containment_screened",
      "The COMPOSED containment scale path q169's docstring promises — screen-then-price, registered and oracle-checked (the q139-for-q133 move): three nomination routes union before pricing — q39's winnowing fingerprints (shared df-capped fingerprint → candidate; ~2/(w+1) the posting density of every-position anchors, cheap and sufficient for run-structured near-dups), the short-doc exact slice, and the containment PREFIX FILTER (PPJoin's principle adapted to containment: a pair sharing no shingle among the contained side's n/5+2 globally-RAREST shingles has C <= 0.8 - 1.2/n, provably under the exact integer 5c >= 4n gate at every n) — and q169's exact array-intersection kernel PRICES only the union, per-pair cost identical to q169, corpus cost candidate-linear instead of all-pairs. The prefix route makes the screen's recall EXACT BY CONSTRUCTION, not by fixture: the former blind spot — pairs overlapping only in scattered sub-7-token fragments, extreme case 3-gram confetti with C = 1.0 and zero shared fingerprints — is nominated by its rare shingles (Round17OpsSpec pins the adversary: winnowing alone misses it, the composed screen prices it at 1.0). The oracle is BYTE-IDENTICAL to q169's (same SQL constant), so a hash-green row is additionally the fixture proof the screen lost no pair; Round14OpsSpec pins q179 ≡ q169 frame equality. The verify side reuses q164's array-form lesson: candidates join the pinned per-doc sorted shingle arrays (doc_id hash joins, AQE-broadcast at small SF, co-located sort-merge against the doc_id-bucketed store at scale) and one codegen'd sorted intersection prices each pair.",
      (s, d) => screenedContainmentPairs(t(s, d, "documents")),
      Some(containmentOracle)),

    GraftQuery(
      "q172_unimax_mix",
      "UniMax mixture allocation (Chung 2023) — the epoch-capped alternative to q113's temperature sampling: spread a total token budget (here half the corpus) as UNIFORMLY as possible across sources, but never ask any source for more than N=4 epochs of its own data. Exact waterfill in one pass over the k-row source table: sources sorted by capacity ascending, the binding prefix takes its full cap, everyone else the water level theta = (budget - sum of binding caps) / (remaining sources) — found with a window over k rows plus two broadcast 1-row aggregates, never a second corpus scan; the only corpus-sized work is the per-source token count (map-side combined). All inputs to theta are exact integers, so the level is the same IEEE double on both engines. Output per source: tokens, cap, allocation, realized epochs.",
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(col("source"), size(split(col("text"), " ")).cast("long").as("tk"))
          .groupBy(col("source")).agg(sum(col("tk")).as("tokens"))
        unimaxAllocate(toks, epochCap = 4,
          budgetFromTotal = tot => floor(tot / 2).cast("long"))
          .orderBy(col("source"))
      },
      Some("WITH toks AS (SELECT source, " +
        "CAST(sum(len(string_split(text,' '))) AS BIGINT) AS tokens " +
        "FROM documents GROUP BY source), " +
        "caps AS (SELECT source, tokens, tokens*4 AS cap FROM toks), " +
        "tot AS (SELECT CAST(floor(sum(tokens)/2) AS BIGINT) AS budget, " +
        "count(*) AS k FROM caps), " +
        "th AS (SELECT c.*, t.budget, t.k, " +
        "row_number() OVER (ORDER BY cap, source) AS rn, " +
        "coalesce(sum(cap) OVER (ORDER BY cap, source " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev " +
        "FROM caps c, tot t), " +
        "th2 AS (SELECT *, (budget - cum_prev)*1.0/(k - rn + 1) AS theta FROM th), " +
        "star AS (SELECT min(rn) AS rn_star FROM th2 WHERE theta <= cap), " +
        "tstar AS (SELECT s.rn_star, t.theta AS theta_star " +
        "FROM th2 t, star s WHERE t.rn = s.rn_star) " +
        "SELECT source, tokens, cap, " +
        "round(CASE WHEN rn < rn_star THEN cap*1.0 ELSE theta_star END, 4) AS alloc, " +
        "round(round(CASE WHEN rn < rn_star THEN cap*1.0 ELSE theta_star END, 4) / tokens, 6) AS epochs " +
        "FROM th2, tstar ORDER BY source")),

    GraftQuery(
      "q178_pareto_frontier",
      "Pareto-frontier (skyline) selection over two curation objectives — token count and lexical diversity (distinct-token ratio): a doc survives iff nothing dominates it (>= on both axes, > on at least one). The naive skyline is an all-pairs dominance join; this is the RangeRank decomposition applied to a running max: bucket the sort axis (floor(tok/64) — bucket b+1's every token count strictly exceeds bucket b's), (1) per-(bucket, tok) group max of diversity, (2) within-bucket strict-greater running max via a ROWS window over the DISTINCT-tok groups (rows, not range — frame semantics identical on every engine), (3) cross-bucket prefix max over the TINY bucket table, broadcast back. survive = div == own-tok group max AND div > max(all strictly-greater-tok divs). One corpus pass + (bucket, tok)-key aggregates; no window ever holds raw data corpus-wide — the q83/RangeRank posture for global order statistics.",
      (s, d) => {
        val m = t(s, d, "documents").select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tok"),
          round(size(array_distinct(split(col("text"), " "))).cast("double") /
            size(split(col("text"), " ")), 6).as("div"))
          .withColumn("bucket", floor(col("tok") / 64))
        val g = m.groupBy(col("bucket"), col("tok"))
          .agg(max(col("div")).as("gmax"))
        val wg = Window.partitionBy(col("bucket")).orderBy(col("tok").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val g2 = g.withColumn("inmax", max(col("gmax")).over(wg))
        val bmax = g.groupBy(col("bucket")).agg(max(col("gmax")).as("bdivmax"))
        val wb = Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val pre = bmax.withColumn("pmax", max(col("bdivmax")).over(wb))
          .select(col("bucket"), col("pmax"))
        val stats = g2.join(broadcast(pre), Seq("bucket"))
          .select(col("bucket"), col("tok"), col("gmax"),
            greatest(coalesce(col("inmax"), lit(-1.0)),
              coalesce(col("pmax"), lit(-1.0))).as("rmax"))
        m.join(broadcast(stats), Seq("bucket", "tok"))
          .filter(col("div") === col("gmax") && col("div") > col("rmax"))
          .select(col("doc_id"), col("tok"), col("div"))
          .orderBy(col("doc_id"))
      },
      Some("WITH m AS (SELECT doc_id, len(string_split(text,' ')) AS tok, " +
        "round(len(list_distinct(string_split(text,' ')))*1.0/" +
        "len(string_split(text,' ')), 6) AS div, " +
        "CAST(floor(len(string_split(text,' '))/64) AS BIGINT) AS bucket " +
        "FROM documents), " +
        "g AS (SELECT bucket, tok, max(div) AS gmax FROM m GROUP BY bucket, tok), " +
        "g2 AS (SELECT *, max(gmax) OVER (PARTITION BY bucket ORDER BY tok DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS inmax FROM g), " +
        "bmax AS (SELECT bucket, max(gmax) AS bdivmax FROM g GROUP BY bucket), " +
        "pre AS (SELECT bucket, max(bdivmax) OVER (ORDER BY bucket DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM bmax), " +
        "st AS (SELECT g2.bucket, g2.tok, g2.gmax, " +
        "greatest(coalesce(inmax, -1.0), coalesce(pmax, -1.0)) AS rmax " +
        "FROM g2 JOIN pre ON g2.bucket = pre.bucket) " +
        "SELECT m.doc_id, m.tok, m.div FROM m " +
        "JOIN st ON m.bucket = st.bucket AND m.tok = st.tok " +
        "WHERE m.div = st.gmax AND m.div > st.rmax ORDER BY m.doc_id"))
  ,

    GraftQuery(
      "q195_eval_decontaminate",
      "SUBSTRING-granularity eval decontamination — the span-level arm q86's " +
        "whole-doc bloom gate cannot express: q86 answers 'does a train doc share " +
        "ANY 3-gram with the eval set' (one bit per doc), while training-set hygiene " +
        "(GPT-3 appendix C, PaLM, Llama) needs the CONTAMINATED SPANS so only the " +
        "leaked tokens are surgically removed, not whole documents. Composes q135's " +
        "anchor-and-extend kernel CROSS-SET: every 8-token anchor in an eval doc " +
        "(doc_id % 20 = 0, q86's split) joins matching anchors in train docs; " +
        "consecutive matches on one (train, eval, diagonal) are maximal verbatim " +
        "spans (span = run + 7, EXACT — the q135 reconstruction), and spans >= 16 " +
        "tokens mark their train-side positions contaminated. Overlapping spans " +
        "from different eval docs union position-distinct (the q137 accounting), " +
        "so per-source tokens_contaminated is what a scrubber would actually cut. " +
        "Scale posture: anchors are one row per token; the df <= 50 cap (on TRAIN " +
        "anchors — boilerplate guard; the eval side is benchmark-sized and never " +
        "capped, a missed contamination there is the failure mode) bounds the join " +
        "fan-out; the eval side is a sliver of the corpus, so the anchor join is " +
        "eval-linear, cheaper than q135's self-join; islands window over (pair, " +
        "diagonal) — thousands of tiny sorts, nothing corpus-wide. Spans under 16 " +
        "tokens are below the floor by design: sub-7-token scatter shares no " +
        "anchor (Round17OpsSpec pins both the verbatim-hit and scatter-miss " +
        "contracts).",
      (s, d) => {
        val docs = t(s, d, "documents")
        val contaminated = crossRuns(docs, col("doc_id") % 20 === 0)
          .select(col("dt").as("doc_id"),
            explode(sequence(col("pt0"), col("pt0") + col("span") - 1))
              .as("pos"))
          .distinct()
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contam"))
        docs.filter(col("doc_id") % 20 =!= 0)
          .select(col("doc_id"), col("source"),
            size(toks(col("text"))).cast("long").as("n_tok"))
          .join(contaminated, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_contam").isNotNull, 1L).otherwise(0L))
              .as("n_docs_contaminated"),
            sum(col("n_tok")).as("n_tokens"),
            sum(coalesce(col("n_contam"), lit(0L)))
              .as("n_tokens_contaminated"))
          .withColumn("contamination_rate",
            round(col("n_tokens_contaminated") / col("n_tokens"), 6))
          .orderBy(col("source"))
      },
      Some("WITH tok AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "anch AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS a " +
        "FROM tok, UNNEST(range(1, len(t)-6)) x(i) WHERE len(t) >= 8), " +
        "ta AS (SELECT doc_id, pos, a FROM anch WHERE doc_id % 20 <> 0), " +
        "ea AS (SELECT doc_id, pos, a FROM anch WHERE doc_id % 20 = 0), " +
        "keep AS (SELECT a FROM (SELECT a, count(*) AS df FROM ta GROUP BY a) " +
        "WHERE df <= 50), " +
        "taf AS (SELECT doc_id, pos, a FROM ta WHERE a IN (SELECT a FROM keep)), " +
        "cand AS (SELECT tt.doc_id AS dt, tt.pos AS pt, e.doc_id AS de, e.pos AS pe " +
        "FROM taf tt JOIN ea e ON tt.a = e.a), " +
        "isl AS (SELECT dt, de, pt - pe AS diag, pt, " +
        "pt - row_number() OVER (PARTITION BY dt, de, pt - pe ORDER BY pt) AS grp " +
        "FROM cand), " +
        "runs AS (SELECT dt, min(pt) AS pt0, count(*) + 7 AS span FROM isl " +
        "GROUP BY dt, de, diag, grp), " +
        "pos AS (SELECT DISTINCT dt AS doc_id, pt0 + i AS pos FROM runs, " +
        "UNNEST(range(0, span)) x(i) WHERE span >= 16), " +
        "rem AS (SELECT doc_id, count(*) AS n_rem FROM pos GROUP BY doc_id) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(CASE WHEN r.n_rem IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_docs_contaminated, " +
        "CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens, " +
        "CAST(sum(coalesce(r.n_rem, 0)) AS BIGINT) AS n_tokens_contaminated, " +
        "round(sum(coalesce(r.n_rem, 0))*1.0/" +
        "sum(len(string_split(text,' '))), 6) AS contamination_rate " +
        "FROM documents d LEFT JOIN rem r ON d.doc_id = r.doc_id " +
        "WHERE d.doc_id % 20 <> 0 GROUP BY source ORDER BY source")),

    GraftQuery(
      "q196_html_extract",
      "HTML/markup extraction — the step every web-crawl pipeline runs BEFORE any " +
        "q107-style quality funnel (trafilatura/jusText's job, expressed in native " +
        "codegen'd string ops, zero UDFs): each fixture doc is deterministically " +
        "wrapped in-plan into an HTML page (head/title from its first 3 tokens, a " +
        "nav menu, two <p> body paragraphs splitting the text at ceil(n/2), a " +
        "copyright footer — the boilerplate shapes real crawls carry), then " +
        "EXTRACTED back by a fixed regexp_replace cascade: drop <head>/<nav>/" +
        "<footer> blocks (boilerplate removal), strip remaining tags to spaces, " +
        "collapse whitespace. The wrap-then-extract round trip makes the extractor " +
        "AUDITABLE: n_roundtrip counts docs whose extraction equals the original " +
        "text byte-for-byte (the fixture is single-spaced, so a perfect extractor " +
        "round-trips 100% — any loss is an extractor bug the hash catches " +
        "cross-engine), and markup_share prices how much of the page was " +
        "boilerplate+markup. COMPOSED into the q107 funnel: the verdict column runs " +
        "funnelVerdict on the EXTRACTED text, so the output is the funnel report a " +
        "crawl pipeline would actually ship (Round17OpsSpec pins funnel-on-" +
        "extracted ≡ q107's funnel-on-original). Pure narrow map until the ~5-row " +
        "verdict rollup — zero shuffles at 100 TB; on a real crawl the wrap stage " +
        "is replaced by the raw HTML column and the same cascade runs unchanged.",
      (s, d) => {
        val base = t(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("text"),
            toks(col("text")).as("tk"))
          .withColumn("n", size(col("tk")))
          .withColumn("half",
            floor((col("n") + 1) / 2).cast("int"))
        val wrapped = base.withColumn("html", concat(
          lit("<html><head><title>"),
          concat_ws(" ", slice(col("tk"), 1, 3)),
          lit("</title></head><body><nav>home | about | contact</nav><p>"),
          concat_ws(" ", slice(col("tk"), lit(1), col("half"))),
          lit("</p><p>"),
          concat_ws(" ",
            slice(col("tk"), col("half") + 1, col("n") - col("half"))),
          lit("</p><footer>copyright 2026 example</footer></body></html>")))
        wrapped.withColumn("ext", extractHtmlText(col("html")))
          .select(
            funnelVerdict(col("ext"), col("lang")).as("verdict"),
            length(col("ext")).cast("long").as("e_chars"),
            length(col("html")).cast("long").as("h_chars"),
            size(toks(col("ext"))).as("n_tokens"),
            when(col("ext") === col("text"), 1L).otherwise(0L).as("rt"))
          .groupBy(col("verdict"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("e_chars")).as("extracted_chars"),
            round(avg(col("n_tokens")), 4).as("avg_tokens"),
            sum(col("rt")).as("n_roundtrip"),
            round(lit(1) - sum(col("e_chars")) / sum(col("h_chars")), 6)
              .as("markup_share"))
          .orderBy(col("verdict"))
      },
      Some("WITH t0 AS (SELECT doc_id, lang, text, string_split(text,' ') AS tk " +
        "FROM documents), " +
        "w AS (SELECT *, len(tk) AS n, (len(tk)+1)//2 AS half FROM t0), " +
        "h AS (SELECT doc_id, lang, text, " +
        "'<html><head><title>' || array_to_string(tk[1:3],' ') || " +
        "'</title></head><body><nav>home | about | contact</nav><p>' || " +
        "array_to_string(tk[1:half],' ') || '</p><p>' || " +
        "array_to_string(tk[half+1:n],' ') || " +
        "'</p><footer>copyright 2026 example</footer></body></html>' AS html " +
        "FROM w), " +
        "e AS (SELECT doc_id, lang, text, html, " +
        "trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
        "regexp_replace(html, '<head>.*?</head>', ' ', 'g'), " +
        "'<nav>.*?</nav>', ' ', 'g'), '<footer>.*?</footer>', ' ', 'g'), " +
        "'<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')) AS ext FROM h), " +
        "q AS (SELECT *, len(string_split(ext,' ')) AS n_tokens, " +
        "round(len(list_filter(string_split(ext,' '), t -> t IN " +
        "('the','a','of','and','to','in','is','it')))*1.0" +
        "/len(string_split(ext,' ')), 6) AS stop_ratio, " +
        "round(len(regexp_replace(ext,'[^a-z]','','g'))*1.0/len(ext), 6) " +
        "AS alpha_ratio FROM e), " +
        "v AS (SELECT CASE WHEN n_tokens < 15 THEN 'too_short' " +
        "WHEN alpha_ratio < 0.5 THEN 'low_alpha' " +
        "WHEN stop_ratio > 0.4 THEN 'high_stop' " +
        "WHEN lang <> 'en' THEN 'non_english' ELSE 'kept' END AS verdict, " +
        "len(ext) AS e_chars, len(html) AS h_chars, n_tokens, " +
        "CASE WHEN ext = text THEN 1 ELSE 0 END AS rt FROM q) " +
        "SELECT verdict, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(e_chars) AS BIGINT) AS extracted_chars, " +
        "round(avg(n_tokens), 4) AS avg_tokens, " +
        "CAST(sum(rt) AS BIGINT) AS n_roundtrip, " +
        "round(1 - sum(e_chars)*1.0/sum(h_chars), 6) AS markup_share " +
        "FROM v GROUP BY verdict ORDER BY verdict")),

    GraftQuery(
      "q197_doremi_weights",
      "DoReMi-style loss-aware mixture reweighting (Xie et al. 2023, 'DoReMi: " +
        "Optimizing Data Mixtures Speeds Up Language Model Pretraining') — the " +
        "step that completes the q172/q111/q113 mixing surface: instead of sizing " +
        "sources by token mass (q172) or a fixed temperature (q113), upweight the " +
        "sources a proxy model finds HARD. The proxy loss is q88's in-plan bigram " +
        "LM (shared bigramLmScores kernel, so the score can never drift from " +
        "q130's calibration): per-source NLL = -mean per-doc lm_score, reference = " +
        "the corpus-wide mean, excess = max(0, source - reference) — positive " +
        "exactly where the source underperforms the blend, DoReMi's excess-loss " +
        "signal. The REWEIGHT is one multiplicative-weights step in EXACT integer " +
        "math (the linearized-exp update, eta = 1): excess quantizes to integer " +
        "micro-nats off the 6dp-rounded NLLs, each source's token mass multiplies " +
        "by (1e6 + excess_micro) as BIGINT x BIGINT — no exp() whose libm ulps " +
        "could diverge cross-engine — and the single closing division normalizes " +
        "to 6dp weights beside the token-share baseline. Cost: the corpus is " +
        "touched once by the LM scoring (two token-key groupBys + broadcast " +
        "1-row totals, the q88 posture) and once by the token count; everything " +
        "after is k-row source-table algebra with two broadcast 1-row joins. " +
        "Round17OpsSpec re-derives the update from the query's own NLL outputs.",
      (s, d) => {
        val sc = bigramLmScores(s, d)
        val docs = t(s, d, "documents")
        val srcNll = sc
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .groupBy(col("source"))
          .agg(round(-avg(col("lm_score")), 6).as("nll"))
        val corpusNll = sc.agg(round(-avg(col("lm_score")), 6).as("nll_c"))
        val tk = docs
          .select(col("source"), size(toks(col("text"))).cast("long").as("ntk"))
          .groupBy(col("source")).agg(sum(col("ntk")).as("n_tokens"))
        doremiReweight(srcNll.join(tk, Seq("source"))
          .crossJoin(broadcast(corpusNll)))
      },
      Some("WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg, t[i] AS w1 " +
        "FROM tk, UNNEST(range(1, len(t))) x(i) WHERE len(t) >= 2), " +
        "c12 AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY bg), " +
        "c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1), " +
        "v AS (SELECT count(DISTINCT tok)*1.0 AS v FROM " +
        "(SELECT unnest(string_split(text,' ')) AS tok FROM documents)), " +
        "sc AS (SELECT doc_id, round(avg(ln((c12 + 1) / (c1 + v))), 6) AS lm_score " +
        "FROM bg JOIN c12 USING (bg) JOIN c1 USING (w1), v GROUP BY doc_id), " +
        "srcn AS (SELECT d.source, round(-avg(sc.lm_score), 6) AS nll " +
        "FROM sc JOIN documents d USING (doc_id) GROUP BY d.source), " +
        "corp AS (SELECT round(-avg(lm_score), 6) AS nll_c FROM sc), " +
        "toksrc AS (SELECT source, " +
        "CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens " +
        "FROM documents GROUP BY source), " +
        "e AS (SELECT s.source, t.n_tokens, s.nll, " +
        "greatest(CAST(0 AS BIGINT), " +
        "CAST(round((s.nll - c.nll_c)*1000000) AS BIGINT)) AS excess_micro " +
        "FROM srcn s JOIN toksrc t USING (source), corp c), " +
        "w AS (SELECT *, n_tokens * (1000000 + excess_micro) AS w_raw FROM e), " +
        "n AS (SELECT sum(w_raw) AS z, sum(n_tokens) AS ztok FROM w) " +
        "SELECT source, n_tokens, nll, excess_micro, " +
        "round(n_tokens*1.0/ztok, 6) AS weight_base, " +
        "round(w_raw*1.0/z, 6) AS weight_doremi " +
        "FROM w, n ORDER BY source")),

    GraftQuery(
      "q198_unigram_lm_train",
      "Unigram-LM tokenizer trainer (Kudo 2018, the SentencePiece algorithm) — the " +
        "EM-trained alternative beside q134's merge-driven BPE: seed every 1..4-char " +
        "substring of the frequency-weighted distinct-word table (all single chars + " +
        "top-512 multi-char pieces), then 3 Viterbi-EM rounds — E: per-word optimal " +
        "segmentation under current piece costs, run as ONE codegen'd higher-order " +
        "fold with the <=~600-piece table broadcast as a map literal (the DP never " +
        "joins, never leaves the row); M: piece usage re-counts, unused pieces prune " +
        "out, costs requantize to integer micro-nats so every DP comparison is " +
        "BIGINT, not float. The corpus is touched ONCE (the word count); each round " +
        "is a narrow pass over the vocab-sized word table plus a k-row driver " +
        "collect — the q134 working-set economy, so the trainer's cost is " +
        "corpus-size-independent after the first scan. Output: the learned piece " +
        "inventory (piece, usage, cost) — the artifact a tokenizer ships. Rows-only " +
        "by contract (the q60/q61 rule): the EM fixpoint depends on ln-quantization " +
        "ulps no second engine reproduces bit-for-bit; Round17OpsSpec pins hard-EM " +
        "LIKELIHOOD MONOTONICITY across rounds, segmentation round-trip (every " +
        "word's Viterbi pieces re-concatenate to the word), char-fallback totality, " +
        "and rerun determinism.",
      (s, d) => {
        import s.implicits._
        val (pieces, _, _) = unigramLoop(s, d, rounds = 3)
        pieces.toDF("piece", "n_uses", "cost_micronats")
          .orderBy(col("cost_micronats"), col("piece"))
      },
      None),

    GraftQuery(
      "q199_unigram_encode",
      "Unigram-tokenizer SERVING path — the q136-for-q134 move applied to q198's " +
        "trained model: the final Viterbi segmentation (memoized trainer state, so " +
        "trainer and encoder can never drift and the encode row never re-pays the " +
        "EM loop — the q133/q139 accounting: q198's row prices training, this row " +
        "serves) maps every distinct word to its piece count, and the corpus " +
        "streams ONCE against that word table under a count-gated broadcast (the " +
        "q136 lesson verbatim: hinted map-side join while the distinct-word table " +
        "clearly fits, shuffle join on the word key when a web-scale corpus pushes " +
        "it past the ceiling). Output per source: word/char/unigram-token mass and " +
        "the fertility ratios (tokens per char, tokens per word) — the numbers " +
        "that decide between the BPE (q136) and unigram (this) tokenizer for a " +
        "corpus, now comparable side by side from the same engine. Words beyond " +
        "q198's 20-char training cap are excluded symmetrically. Oracle-checked " +
        "via the EXPORTED-STATE pattern (round-13): the EM fixpoint itself stays " +
        "rows-only (ln-quantization ulps are not cross-engine reproducible — the " +
        "q198 contract), but the ENCODE is a deterministic join+sum over the " +
        "trained segmentation, so the DuckDB twin reads q204's dumped " +
        "segmentation frame (Verify substitutes the dump dir for __OUTDIR__) and " +
        "independently recomputes the corpus tokenization, the word join, the " +
        "mass sums and the fertility ratios — the serving arithmetic is " +
        "cross-engine-verified even though the trained state is taken as given.",
      (s, d) => {
        val (_, _, seg) = unigramLoop(s, d, rounds = 3)
        unigramEncodeWith(seg.select(col("w"), size(col("ps")).as("n_sym")),
          t(s, d, "documents"))
      },
      // the oracle joins documents against q204's DUMPED segmentation
      // (w, n_sym): the trained state is an input, the encode
      // join/sums/ratios are recomputed independently. Inner join ≡
      // the Spark side's length filter: every 1..20-char corpus word
      // is in the trained table by construction.
      Some("WITH wp AS (SELECT w, n_sym FROM " +
        "read_parquet('__OUTDIR__/q204_unigram_segmentation/*.parquet')), " +
        "dw AS (SELECT source, unnest(string_split(text,' ')) AS w " +
        "FROM documents), " +
        "f AS (SELECT source, dw.w, n_sym FROM dw JOIN wp ON dw.w = wp.w) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_words, " +
        "CAST(sum(length(w)) AS BIGINT) AS n_chars, " +
        "CAST(sum(n_sym) AS BIGINT) AS n_unigram_tokens, " +
        "round(sum(n_sym)*1.0/sum(length(w)), 6) AS tokens_per_char, " +
        "round(sum(n_sym)*1.0/count(*), 6) AS tokens_per_word " +
        "FROM f GROUP BY source ORDER BY source")),

    GraftQuery(
      "q204_unigram_segmentation",
      "Trained-tokenizer STATE EXPORT — the unigram model's final Viterbi " +
        "segmentation as a table (word, corpus frequency, piece count): the " +
        "artifact a tokenizer-serving job persists and loads (saveTokenizer/" +
        "loadTokenizer wire it through FormatIo), and the fixture-side input " +
        "that makes q199's encode oracle possible — DuckDB joins documents " +
        "against THIS query's dump to re-derive q199 independently (the " +
        "round-13 exported-state oracle pattern, the q136 join+sum shape). " +
        "Rows-only by contract: the content IS the EM fixpoint q198 documents " +
        "as not cross-engine reproducible; Round17OpsSpec pins round-trip, " +
        "monotonicity and rerun determinism, and q199's oracle-green row is " +
        "the cross-engine check of everything computable FROM it. Vocab-sized " +
        "output (distinct corpus words), corpus-size-independent after the one " +
        "training scan.",
      (s, d) => {
        val (_, _, seg) = unigramLoop(s, d, rounds = 3)
        seg.select(col("w"), col("freq"), size(col("ps")).as("n_sym"))
          .orderBy(col("w"))
      },
      None),

    GraftQuery(
      "q211_wordpiece_train",
      "WordPiece trainer (Schuster & Nakajima 2012 — the BERT tokenizer), " +
        "completing the tokenizer family beside merge-count BPE (q134) and EM " +
        "unigram (q198): 10 merge rounds over the frequency-weighted " +
        "distinct-word table where each round's winner maximizes LIKELIHOOD " +
        "GAIN — score = freq(pair) / (freq(lhs) · freq(rhs)) — rather than " +
        "BPE's raw pair count, with non-initial symbols carrying the `##` " +
        "continuation marker. Per round: one symbol-frequency aggregate (the " +
        "score's denominator), one adjacent-pair aggregate (both on " +
        "vocab-sized keys with map-side combine), a 1-row winner broadcast " +
        "into the shared merge fold (mergeFoldWith — the q134 rewrite engine " +
        "with WordPiece's merged-symbol spelling), localCheckpoint lineage " +
        "pinning. Output: the scored merge list, the shippable artifact. " +
        "Rows-only by contract (the q198 stance: double-precision score " +
        "ratios are not cross-engine reproducible bit-for-bit); Round19OpsSpec " +
        "pins the training invariants and a hand-computed micro-fixture, and " +
        "q212's oracle-green encode row cross-checks everything computable " +
        "FROM the trained state. At 100 TB every round runs on the " +
        "distinct-word table — corpus-size-independent after one scan.",
      (s, d) => wordpieceLoop(s, d, rounds = 10)._1
        .select(col("merge_round"), col("lhs"), col("rhs"), col("merged"),
          col("n"), col("score"))
        .orderBy(col("merge_round")),
      None),

    GraftQuery(
      "q212_wordpiece_encode",
      "WordPiece SERVING path — greedy LONGEST-MATCH-FIRST against the " +
        "trained vocabulary (NOT the trained segmentation: the standard " +
        "WordPiece contract, and the property that distinguishes it from " +
        "q136/q199's serve-the-training-table kernels), run as pure " +
        "declarative columns: bounded (start, len ≤ vocab-max) candidate spans over " +
        "every distinct word, one broadcast membership join against the " +
        "vocabulary, and a per-word aggregate fold that repeatedly takes the " +
        "longest token at the cursor — no UDF, vocab-sized work. The corpus " +
        "then streams once against the resulting word→pieces table under the " +
        "count-gated broadcast (the q136 lesson), yielding per-source " +
        "word/char/token mass and fertility — directly comparable with BPE " +
        "(q136) and unigram (q199) from the same engine, the side-by-side " +
        "the round-13 verdict asked for. Oracle-checked via the " +
        "EXPORTED-STATE pattern: the DuckDB twin reads q214's dumped greedy " +
        "segmentation and independently recomputes the corpus join, the mass " +
        "sums and the ratios.",
      (s, d) => wordpieceEncodeWith(
        wordpieceLoop(s, d, rounds = 10)._2, t(s, d, "documents")),
      Some("WITH wp AS (SELECT w, n_sym FROM " +
        "read_parquet('__OUTDIR__/q214_wordpiece_segmentation/*.parquet')), " +
        "dw AS (SELECT source, unnest(string_split(text,' ')) AS w " +
        "FROM documents), " +
        "f AS (SELECT source, dw.w, n_sym FROM dw JOIN wp ON dw.w = wp.w) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_words, " +
        "CAST(sum(length(w)) AS BIGINT) AS n_chars, " +
        "CAST(sum(n_sym) AS BIGINT) AS n_wp_tokens, " +
        "round(sum(n_sym)*1.0/sum(length(w)), 6) AS tokens_per_char, " +
        "round(sum(n_sym)*1.0/count(*), 6) AS tokens_per_word " +
        "FROM f GROUP BY source ORDER BY source")),

    GraftQuery(
      "q214_wordpiece_segmentation",
      "WordPiece STATE EXPORT (the q204 pattern applied to the third " +
        "tokenizer): every distinct corpus word with its frequency and its " +
        "greedy longest-match piece count under q211's trained vocabulary — " +
        "the serving artifact saveWordpieceTokenizer persists, and the " +
        "fixture-side input that makes q212's encode oracle possible (DuckDB " +
        "joins documents against THIS dump to re-derive q212 independently). " +
        "Rows-only by contract: the content IS the trained state; " +
        "Round19OpsSpec pins the greedy matcher against hand-computed words " +
        "and the UNK/continuation invariants, and q212's oracle-green row is " +
        "the cross-engine check of everything computable from it. Vocab-sized " +
        "output, corpus-size-independent after the one training scan.",
      (s, d) => wordpieceLoop(s, d, rounds = 10)._2
        .select(col("w"), col("freq"), col("n_sym"))
        .orderBy(col("w")),
      None)
  )

  /** q135/q137's maximal shared spans: (da, db, diag, pb0, span) —
    * one row per maximal run of consecutive matching 8-token anchors
    * on one (pair, diagonal), with span ≥ 16 tokens (span = run + 7;
    * a shared span of exactly T tokens is T−7 consecutive anchors, so
    * the reconstruction is EXACT). pb0 is the span's first token
    * position in the LATER doc (db). Anchors join on xxhash64 keys; a
    * df ≤ 50 occurrence cap bounds fan-out on corpus-common anchors
    * (both the Lee et al. boilerplate guard and the oracle's rule).
    * Pinned (the lshPairs treatment): the detector (q135) and the
    * removal accountant (q137) both consume it per session, and the
    * qualifying-runs output is tiny next to the anchor self-join that
    * produces it.
    */
  private def substringRuns(docs: DataFrame): DataFrame =
    pin(substringRunsRaw(docs))

  /** q195's CROSS-SET maximal shared spans: (dt, de, diag, pt0, span)
    * — q135's anchor-and-extend kernel with the self-join replaced by
    * an eval-against-train join (`evalPred` selects the eval side).
    * pt0 is the span's first token position in the TRAIN doc, where a
    * scrubber would cut. The df cap applies to TRAIN anchors only: the
    * eval side is benchmark-sized, and capping it could silently drop
    * a real contamination — the exact failure decontamination exists
    * to prevent. Same span = run + 7 exactness, same >= 16 floor, same
    * per-(pair, diagonal) windows as substringRunsRaw.
    */
  private[graft] def crossRuns(docs: DataFrame, evalPred: Column): DataFrame = {
    val anch = docs
      .select(col("doc_id"), toks(col("text")).as("tk"), evalPred.as("ev"))
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"), col("ev"),
        posexplode(shingles(col("tk"), 8)).as(Seq("p0", "a")))
      .select(col("doc_id"), col("ev"), (col("p0") + 1).as("pos"),
        xxhash64(col("a")).as("ak"))
    val trainAnch = anch.filter(!col("ev"))
    val evalAnch = anch.filter(col("ev"))
    val keep = trainAnch.groupBy(col("ak")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select(col("ak"))
    val isl = trainAnch.join(keep, Seq("ak"))
      .select(col("ak"), col("doc_id").as("dt"), col("pos").as("pt"))
      .join(evalAnch.select(col("ak"), col("doc_id").as("de"),
        col("pos").as("pe")), Seq("ak"))
      .withColumn("diag", col("pt") - col("pe"))
      .withColumn("grp", col("pt") - row_number().over(
        Window.partitionBy(col("dt"), col("de"), col("diag"))
          .orderBy(col("pt"))))
    isl
      .groupBy(col("dt"), col("de"), col("diag"), col("grp"))
      .agg(min(col("pt")).as("pt0"), (count(lit(1)) + 7).as("span"))
      .filter(col("span") >= 16)
      .select(col("dt"), col("de"), col("diag"), col("pt0"), col("span"))
  }

  private[graft] def substringRunsRaw(docs: DataFrame): DataFrame = {
    val anch = docs
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"),
        posexplode(shingles(col("tk"), 8)).as(Seq("p0", "a")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"),
        xxhash64(col("a")).as("ak"))
    val keep = anch.groupBy(col("ak")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select(col("ak"))
    val aa = anch.join(keep, Seq("ak"))
    val isl = aa
      .select(col("ak"), col("doc_id").as("da"), col("pos").as("pa"))
      .join(aa.select(col("ak"), col("doc_id").as("db"), col("pos").as("pb")),
        Seq("ak"))
      .filter(col("da") < col("db"))
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(
        Window.partitionBy(col("da"), col("db"), col("diag"))
          .orderBy(col("pa"))))
    isl
      .groupBy(col("da"), col("db"), col("diag"), col("grp"))
      .agg(min(col("pa")).as("pa0"), (count(lit(1)) + 7).as("span"))
      .filter(col("span") >= 16)
      .select(col("da"), col("db"), col("diag"),
        (col("pa0") - col("diag")).as("pb0"), col("span"))
  }

  /** q88's in-plan add-one-smoothed bigram-LM doc scoring
    * (doc_id, n_bigrams, lm_score) — shared by q88 and the CCNet-style
    * bucketing (q130) so the score and its calibration can never
    * drift. Docs with fewer than 2 tokens have no bigrams and are
    * absent from the output, matching the SQL twin's inner joins.
    */
  private def bigramLmScores(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val base = docs.select(col("doc_id"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(shingles(col("tk"), 2)).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val c12 = base.groupBy(col("bg")).agg(count(lit(1)).as("c12"))
    val c1 = base.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = docs.select(explode(toks(col("text"))).as("tok"))
      .agg(countDistinct(col("tok")).cast("double").as("v"))
    base.join(c12, Seq("bg")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c12") + 1) / (col("c1") + col("v")))), 6)
          .as("lm_score"))
  }

  /** q196's HTML extraction cascade over ANY html-string column — the
    * operator a real crawl pipeline points at its raw-HTML column
    * (q196 wraps the fixture deterministically only to make the
    * cascade's round trip auditable): drop <head>/<nav>/<footer>
    * boilerplate blocks, strip remaining tags to spaces, collapse
    * whitespace. All native codegen'd regexp_replace — no UDF, a
    * per-row narrow map at any scale.
    */
  def extractHtmlText(html: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(html,
        "<head>.*?</head>", " "),
        "<nav>.*?</nav>", " "),
        "<footer>.*?</footer>", " "),
        "<[^>]*>", " "),
        "\\s+", " "))

  /** q197's loss-aware multiplicative-weights update over a per-source
    * stats frame (source, n_tokens, nll, nll_c) — shared by the
    * registered query and the `GraftEngine.lossAwareMix` facade (the
    * funnelVerdict rule). Exact integer math: excess loss quantizes to
    * micro-nats, token mass multiplies by (1e6 + excess) as
    * BIGINT × BIGINT, one closing division normalizes to 6dp.
    */
  private[graft] def doremiReweight(srcStats: DataFrame): DataFrame = {
    val e = srcStats
      .withColumn("excess_micro", greatest(lit(0L),
        round((col("nll") - col("nll_c")) * 1000000, 0).cast("long")))
      .withColumn("w_raw",
        col("n_tokens") * (lit(1000000L) + col("excess_micro")))
    val z = e.agg(sum(col("w_raw")).as("z"), sum(col("n_tokens")).as("ztok"))
    e.crossJoin(broadcast(z))
      .select(col("source"), col("n_tokens"), col("nll"),
        col("excess_micro"),
        round(col("n_tokens") / col("ztok"), 6).as("weight_base"),
        round(col("w_raw") / col("z"), 6).as("weight_doremi"))
      .orderBy(col("source"))
  }

  /** q198's unigram-LM (SentencePiece/Kudo 2018) Viterbi-EM trainer.
    * Working set after ONE corpus scan: the frequency-weighted
    * distinct-word table (the Sennrich/q134 argument — vocab-sized at
    * any corpus size). Each EM round is then:
    *
    *  - E-step: per-word Viterbi segmentation under the current piece
    *    costs as ONE codegen'd higher-order fold (no joins): the piece
    *    table (≤ ~600 entries) broadcasts as a map LITERAL, and
    *    `aggregate` runs the classic DP — dp[j] = min over piece
    *    lengths l ∈ 1..4 of dp[j−l] + cost(substr(j−l+1, l)), ties
    *    prefer the longest piece — carrying (dp, backpointer) arrays
    *    as the accumulator; a second fold walks the backpointers out
    *    into the piece list. Cost per word is O(len·4); the corpus is
    *    never touched.
    *  - M-step: piece usage = one vocab-sized explode + groupBy; new
    *    cost = −ln(usage / N) quantized to integer MICRO-NATS (all DP
    *    arithmetic stays BIGINT — one ln per piece per round, never a
    *    float comparison inside the DP). Unused pieces prune out
    *    (hard-EM's natural pruning); single chars persist with a
    *    usage floor of 1 so every word stays segmentable — the
    *    SentencePiece base-character fallback.
    *
    * Hard-EM monotonicity (each round's Viterbi total can only improve
    * or hold, up to micro-nat quantization) is pinned by
    * Round17OpsSpec, along with segmentation round-trip (pieces
    * re-concatenate to the word) and rerun determinism. Words longer
    * than 20 chars are excluded from training (documented cap — the
    * DP depth bound; the fixture's max is far below it). Per round the
    * driver holds only the ≤ ~600-row piece table — the k-row
    * centroid-collect posture, never corpus data.
    */
  /** Memoized trained-unigram state per (session, dir, rounds) — the
    * bpeMemo pattern: the per-round driver collects defeat plan-level
    * dedup, so without this q199's encode would re-run q198's full EM
    * training in its own row. Cleared by releaseCaches(); q198 sorts
    * before q199, so within one bench sweep the trainer query prices
    * training and the encode row serves (the q133/q139 accounting).
    */
  // The memoized tuple carries the localCheckpoint'ed words frame as its
  // 4th element SOLELY so release can unpersist the checkpoint blocks:
  // clear() dropped the segmentation DataFrame but left the blocks to
  // GC/ContextCleaner (the round-12 advice finding) — releaseCaches now
  // drains and unpersists explicitly, the release discipline the other
  // resource-holding memos follow.
  private val unigramMemo = new graft.KeyedMemo[(SparkSession, String, Int),
    (Seq[(String, Long, Long)], Seq[Long], DataFrame, DataFrame)]

  private[graft] def unigramLoop(s: SparkSession, d: String, rounds: Int)
      : (Seq[(String, Long, Long)], Seq[Long], DataFrame) = {
    val (pieces, losses, seg, _) =
      unigramMemo.getOrBuild((s, d, rounds))(unigramLoopRaw(s, d, rounds))
    (pieces, losses, seg)
  }

  private def unigramLoopRaw(s: SparkSession, d: String, rounds: Int,
      seedMulti: Int = 512)
      : (Seq[(String, Long, Long)], Seq[Long], DataFrame, DataFrame) = {
    val words = t(s, d, "documents")
      .select(explode(toks(col("text"))).as("w"))
      .filter(length(col("w")).between(1, 20))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    // seed: every substring of length 1..4, frequency-weighted; all
    // single chars + the top `seedMulti` multi-char pieces
    val sub = words
      .select(col("w"), col("freq"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("freq"), col("i"),
        explode(sequence(lit(1),
          least(lit(4), length(col("w")) - col("i") + 1))).as("l"))
      .select(col("freq"), expr("substring(w, i, l)").as("p"))
    val counts0 = sub.groupBy(col("p")).agg(sum(col("freq")).as("c"))
    val chars0 = counts0.filter(length(col("p")) === 1)
    val multi0 = counts0.filter(length(col("p")) > 1)
      .orderBy(col("c").desc, col("p")).limit(seedMulti)
    var vocab: Seq[(String, Long)] = chars0.unionByName(multi0)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    def costsOf(v: Seq[(String, Long)]): Map[String, Long] = {
      val n = v.map(_._2).sum.toDouble
      v.map { case (p, c) => p -> math.round(-math.log(c / n) * 1e6) }.toMap
    }
    // Viterbi forward fold: candidates for a piece of length l ending
    // at j; least() skips the NULLs of absent pieces / short prefixes,
    // the backpointer CASE prefers the LONGEST piece on cost ties
    val cand = (1 to 4).map(l =>
      s"(CASE WHEN j >= $l THEN element_at(acc.dp, j - $l + 1) + " +
        s"element_at(vm, substring(w, j - $l + 1, $l)) END)")
    val lst = s"least(${cand.mkString(", ")})"
    val bk = s"(CASE WHEN ${cand(3)} = $lst THEN 4 " +
      s"WHEN ${cand(2)} = $lst THEN 3 " +
      s"WHEN ${cand(1)} = $lst THEN 2 ELSE 1 END)"
    val forwardSql =
      s"""aggregate(
         |  sequence(1, length(w)),
         |  named_struct('dp', array(CAST(0 AS BIGINT)), 'bk', array(0)),
         |  (acc, j) -> named_struct(
         |    'dp', concat(acc.dp,
         |      array(coalesce($lst, CAST(1000000000000000 AS BIGINT)))),
         |    'bk', concat(acc.bk, array($bk))))""".stripMargin
    val backSql =
      """aggregate(
        |  sequence(1, length(w)),
        |  named_struct('pos', length(w),
        |    'ps', CAST(array() AS array<string>)),
        |  (acc, x) -> CASE WHEN acc.pos <= 0 THEN acc
        |    ELSE named_struct(
        |      'pos', acc.pos - element_at(fw.bk, acc.pos + 1),
        |      'ps', array_append(acc.ps,
        |        substring(w, acc.pos - element_at(fw.bk, acc.pos + 1) + 1,
        |          element_at(fw.bk, acc.pos + 1)))) END
        |).ps""".stripMargin
    def segmentUnder(vm: Map[String, Long]): DataFrame =
      words
        .withColumn("vm", typedLit(vm))
        .withColumn("fw", expr(forwardSql))
        .withColumn("ps", expr(backSql))
        .withColumn("wcost", expr("element_at(fw.dp, length(w) + 1)"))
        .select(col("w"), col("freq"), col("ps"), col("wcost"))
    val losses = scala.collection.mutable.Buffer[Long]()
    var usageOut: Seq[(String, Long)] = vocab
    (1 to rounds).foreach { _ =>
      val seg = segmentUnder(costsOf(vocab))
      // loss + usage in ONE Viterbi pass (guide §1.2: don't run the
      // same work twice): the round loss rides the usage collect as an
      // observed metric (CollectMetrics planted below the explode, so
      // it sums over every seg row) instead of its own action — the
      // separate agg re-ran the identical DP fold over the whole word
      // table a second time per EM round. Same expression, same rows,
      // so the recorded loss is value-identical; a missed listener
      // event falls back to the former two-pass shape.
      val (usageRows, obsLoss) = Observed("em_loss", seg,
          sum(col("freq") * col("wcost"))) { o =>
        o.select(col("freq"), explode(col("ps")).as("p"))
          .groupBy(col("p")).agg(sum(col("freq")).as("c"))
          .collect()
      }
      val roundLoss = obsLoss.flatMap(r => Option(r.getAs[java.lang.Long](0)))
        .map(_.longValue)
        .getOrElse(seg.agg(sum(col("freq") * col("wcost"))).first().getLong(0))
      losses += roundLoss
      val usage =
        usageRows.map(r => (r.getString(0), r.getLong(1))).toMap
      val charFloor = vocab.collect {
        case (p, _) if p.length == 1 => p -> math.max(usage.getOrElse(p, 0L), 1L)
      }
      val used = usage.filter { case (p, _) => p.length > 1 }.toSeq
      usageOut = (charFloor ++ used).sortBy(_._1)
      vocab = usageOut
    }
    val costs = costsOf(vocab)
    val out = usageOut.map { case (p, c) => (p, c, costs(p)) }
      .sortBy { case (p, _, cost) => (cost, p) }
    (out, losses.toSeq, segmentUnder(costs), words)
  }

  /** q199's serving body factored as ONE kernel (the funnelVerdict
    * sharing rule) so the in-session path and the reloaded-state path
    * (`loadUnigramSegmentation`) cannot drift: the (w, n_sym)
    * word→piece-count table joins the corpus tokens under a
    * count-gated broadcast (the q136 lesson — hinted map-side join
    * while the distinct-word table clearly fits, shuffle join on the
    * word key when a web-scale corpus pushes it past the ceiling),
    * rolled up per source with the fertility ratios.
    */
  private[graft] def unigramEncodeWith(wordPieces: DataFrame,
      docs: DataFrame): DataFrame = {
    val vjoin =
      if (wordPieces.count() <= 2000000L) broadcast(wordPieces)
      else wordPieces
    docs
      .select(col("source"), explode(toks(col("text"))).as("w"))
      .filter(length(col("w")).between(1, 20))
      .join(vjoin, Seq("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(col("n_sym").cast("long")).as("n_unigram_tokens"))
      .withColumn("tokens_per_char",
        round(col("n_unigram_tokens") / col("n_chars"), 6))
      .withColumn("tokens_per_word",
        round(col("n_unigram_tokens") / col("n_words"), 6))
      .orderBy(col("source"))
  }

  /** == Tokenizer state export/import (round-13 verdict item 8) ==
    * Trainer state was session-memoized only — real pipelines persist
    * the trained tables once and SERVE them from a different job (the
    * memo scaladocs' "persist to parquet and serve" posture, now an
    * API). State rides FormatIo (explicit schemas, lossless array
    * encodings), so the artifacts are portable text/columnar files,
    * not JVM serializations. Round18OpsSpec pins
    * encode-after-reload ≡ encode-in-session for both tokenizers.
    */
  private val unigramSegSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("w",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("freq",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ps",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)),
    org.apache.spark.sql.types.StructField("n_sym",
      org.apache.spark.sql.types.IntegerType)))

  private val bpeVocabSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("w",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("toks",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("freq",
      org.apache.spark.sql.types.LongType)))

  /** Persist the trained unigram tokenizer: the piece inventory (the
    * shippable artifact q198 reports) plus the full word segmentation
    * (the serving table q199/q204 read).
    */
  def saveUnigramTokenizer(s: SparkSession, d: String, rounds: Int,
      path: String, format: String = "orc"): Unit = {
    import s.implicits._
    val (pieces, _, seg) = unigramLoop(s, d, rounds)
    graft.ingest.FormatIo.write(
      pieces.toDF("piece", "n_uses", "cost_micronats"),
      s"$path/pieces", format)
    graft.ingest.FormatIo.write(
      seg.select(col("w"), col("freq"), col("ps"),
        size(col("ps")).as("n_sym")),
      s"$path/segmentation", format)
  }

  /** Reload a saved unigram segmentation for serving in a session that
    * never trained: feed it to `unigramEncodeWith` (via
    * GraftEngine.encodeWithTokenizer) for the exact q199 semantics.
    */
  def loadUnigramSegmentation(s: SparkSession, path: String,
      format: String = "orc"): DataFrame =
    graft.ingest.FormatIo.read(s, s"$path/segmentation", format,
      unigramSegSchema)

  /** Persist the trained BPE tokenizer: the ordered merge list (the
    * shippable artifact) plus the word→symbols vocabulary (the
    * serving table q136's encode joins).
    */
  def saveBpeTokenizer(s: SparkSession, d: String, rounds: Int,
      path: String, format: String = "orc"): Unit = {
    val (merges, vocab) = bpeLoop(s, d, rounds)
    graft.ingest.FormatIo.write(merges, s"$path/merges", format)
    graft.ingest.FormatIo.write(vocab, s"$path/vocab", format)
  }

  def loadBpeVocab(s: SparkSession, path: String,
      format: String = "orc"): DataFrame =
    graft.ingest.FormatIo.read(s, s"$path/vocab", format, bpeVocabSchema)

  /** q136's serving body factored as ONE kernel for the in-session and
    * reloaded-vocab paths (same sharing rule as `unigramEncodeWith`).
    * `vocab` carries (w, toks) — symbols space-delimited, as trained.
    */
  private[graft] def bpeEncodeWith(vocab: DataFrame,
      docs: DataFrame): DataFrame = {
    val wp = vocab.select(col("w"), size(split(col("toks"), " ")).as("n_sym"))
    val vjoin = if (wp.count() <= 2000000L) broadcast(wp) else wp
    docs
      .select(col("source"), explode(toks(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .join(vjoin, Seq("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(col("n_sym").cast("long")).as("n_bpe_tokens"))
      .withColumn("tokens_per_char",
        round(col("n_bpe_tokens") / col("n_chars"), 6))
      .withColumn("tokens_per_word",
        round(col("n_bpe_tokens") / col("n_words"), 6))
      .orderBy(col("source"))
  }

  /** == WordPiece (round-14, completing the tokenizer family) ==
    * The third trainer beside merge-count BPE (q134) and EM unigram
    * (q198): WordPiece (Schuster & Nakajima 2012; the BERT tokenizer)
    * merges like BPE but picks each round's pair by LIKELIHOOD GAIN —
    * score = freq(pair) / (freq(lhs) · freq(rhs)) — and spells
    * non-initial symbols with the `##` continuation marker. SERVING is
    * not the trained segmentation but greedy LONGEST-MATCH-FIRST
    * against the final vocabulary, which this engine runs as pure
    * declarative columns: bounded candidate-span generation (every
    * (start, len ≤ rounds+1) substring of every DISTINCT word — the
    * vocab-sized working set, never the corpus), one broadcast join
    * against the symbol table to mark which spans are tokens, and a
    * per-word `aggregate` fold over positions that repeatedly takes
    * the longest token at the cursor (array_max over the word's own
    * hit list — ≤ len·(rounds+1) entries, codegen-friendly, no UDF).
    * A position with no matching token makes the whole word [UNK]
    * (1 token), the standard WordPiece contract — unreachable for
    * corpus words since every single character enters the vocabulary
    * at initialization. At 100 TB all trainer/matcher work is on the
    * distinct-word table (the q134 argument); the corpus is touched
    * once to build it and once per encode rollup.
    */
  private val wordpieceMemo =
    new graft.KeyedMemo[(SparkSession, String, Int), (DataFrame, DataFrame)]

  private[graft] def wordpieceLoop(s: SparkSession, d: String,
      rounds: Int): (DataFrame, DataFrame) =
    wordpieceMemo.getOrBuild((s, d, rounds))(wordpieceLoopRaw(s, d, rounds))

  /** Trainer + greedy matcher; returns (merge list, per-word greedy
    * segmentation (w, freq, n_sym)). Same localCheckpoint lineage
    * discipline as bpeLoopRaw.
    */
  private def wordpieceLoopRaw(s: SparkSession, d: String,
      rounds: Int): (DataFrame, DataFrame) = {
    var words = t(s, d, "documents")
      .select(explode(toks(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"),
        concat_ws(" ", transform(sequence(lit(1), length(col("w"))),
          i => when(i === 1, col("w").substr(i, lit(1)))
            .otherwise(concat(lit("##"), col("w").substr(i, lit(1))))))
          .as("toks"),
        col("freq"))
      .localCheckpoint()
    // lazy, not checkpointed: consumed exactly once (the vocab union
    // below), over the already-checkpointed initial words frame — an
    // eager checkpoint here was one more action for the same work
    val initSyms = words
      .select(explode(split(col("toks"), " ")).as("sym")).distinct()
    val bests = (1 to rounds).map { r =>
      // corpus-weighted symbol frequencies — the score's denominator
      val symFreq = words
        .select(explode(split(col("toks"), " ")).as("sym"), col("freq"))
        .groupBy(col("sym")).agg(sum(col("freq")).as("nsym"))
      val pairs = words
        .select(split(col("toks"), " ").as("c"), col("freq"))
        .filter(size(col("c")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("c")) - 1),
          i => struct(element_at(col("c"), i).as("lhs"),
            element_at(col("c"), i + 1).as("rhs")))).as("p"),
          col("freq"))
        .select(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"), col("freq"))
      // likelihood-gain score; (lhs, rhs) breaks exact-score ties so
      // reruns pick one winner deterministically
      val best = pairs.groupBy(col("lhs"), col("rhs"))
        .agg(sum(col("freq")).as("n"))
        .join(symFreq.select(col("sym").as("lhs"), col("nsym").as("nl")),
          Seq("lhs"))
        .join(symFreq.select(col("sym").as("rhs"), col("nsym").as("nr")),
          Seq("rhs"))
        // double BEFORE multiplying: nl·nr as long×long overflows at
        // corpus scale (two ~3e9-frequency symbols exceed 2^63 — an
        // ArithmeticException under ANSI mode, silent wrap without)
        .withColumn("score",
          col("n") / (col("nl").cast("double") * col("nr").cast("double")))
        .orderBy(col("score").desc, col("lhs"), col("rhs"))
        .limit(1)
      val merged = concat(col("lhs"), regexp_replace(col("rhs"), "^##", ""))
      // ONE action per EM round, not two (guide §2.4 — the unigram /
      // searchGrid co-grouping applied here, round-17 verdict item 3):
      // `best` stays a LAZY broadcast subtree of the rewrite job, so
      // the winner selection and the merge fold execute in the same
      // job chain, and the checkpointed frame CARRIES the winner's
      // (lhs, rhs, n, score) columns — the merge list is extracted
      // from the checkpoint below without re-running the aggregate.
      // The rewrite projects the fold IN PLACE of `toks` (storing both
      // the pre- and post-merge symbol strings doubled the checkpoint
      // bytes and measurably slowed the next round's scans — §2.3
      // project early). Expression-identical to the former
      // best-checkpoint-then-fold shape (same aggregate, same
      // deterministic tiebreak, same fold), so merges and segmentation
      // are bit-for-bit unchanged (Round18OptSpec pins this against an
      // independent reference EM).
      val stepped = words.crossJoin(broadcast(best))
        .select(col("w"),
          mergeFoldWith(col("toks"), col("lhs"), col("rhs"), merged)
            .as("toks"),
          col("freq"), col("lhs"), col("rhs"), col("n"), col("score"))
        .localCheckpoint()
      words = stepped.select(col("w"), col("toks"), col("freq"))
      stepped.limit(1)
        .select(lit(r).as("merge_round"), col("lhs"), col("rhs"),
          concat(col("lhs"), regexp_replace(col("rhs"), "^##", ""))
            .as("merged"),
          col("n"), round(col("score"), 9).as("score"))
    }
    val merges = bests.reduce(_.unionAll(_)).orderBy(col("merge_round"))
      .localCheckpoint()
    // every merge's token enters the vocab even if later merges absorb
    // it — the standard WordPiece vocabulary (longest-match needs the
    // intermediate tokens)
    val vocab = initSyms
      .union(merges.select(col("merged").as("sym"))).distinct()
      .localCheckpoint()
    // the matcher's span cap is the vocab's TRUE max consumed length
    // (raw chars, ## marker excluded): merge lengths can DOUBLE per
    // round (l and r both multi-char), so a rounds+1 cap silently
    // stopped proposing long tokens and the "longest-match" contract
    // broke exactly where merging had succeeded most
    val maxConsumed = vocab.agg(max(length(col("sym")) -
      when(col("sym").startsWith("##"), lit(2)).otherwise(lit(0))))
      .head().getInt(0)
    val seg = wordpieceGreedy(words.select(col("w"), col("freq")), vocab,
      maxLen = maxConsumed).localCheckpoint()
    (merges, seg)
  }

  /** Greedy longest-match-first over the distinct-word table: returns
    * (w, freq, n_sym). See the family scaladoc above for the shape.
    */
  private[graft] def wordpieceGreedy(words: DataFrame, syms: DataFrame,
      maxLen: Int): DataFrame = {
    val cands = words.select(col("w"),
        explode(flatten(transform(sequence(lit(1), length(col("w"))),
          st => transform(
            sequence(lit(1), least(lit(maxLen), length(col("w")) - st + 1)),
            ln => struct(st.as("st"), ln.as("ln")))))).as("c"))
      .select(col("w"), col("c.st").as("st"), col("c.ln").as("ln"))
      .withColumn("tok",
        when(col("st") === 1, col("w").substr(col("st"), col("ln")))
          .otherwise(concat(lit("##"),
            col("w").substr(col("st"), col("ln")))))
    val hits = cands
      .join(broadcast(syms.select(col("sym").as("tok"))), Seq("tok"))
      .groupBy(col("w"))
      .agg(collect_list(struct(col("st"), col("ln"))).as("hits"))
    words.join(hits, Seq("w"), "left")
      .withColumn("enc", aggregate(
        sequence(lit(1), length(col("w"))),
        struct(lit(1).as("pos"), lit(0).as("n"), lit(false).as("unk")),
        (acc, p) => {
          val best = array_max(transform(
            filter(col("hits"), h => h.getField("st") === p),
            h => h.getField("ln")))
          when(acc.getField("unk") || p =!= acc.getField("pos"), acc)
            .when(best.isNull, struct(acc.getField("pos").as("pos"),
              acc.getField("n").as("n"), lit(true).as("unk")))
            .otherwise(struct((acc.getField("pos") + best).as("pos"),
              (acc.getField("n") + 1).as("n"), lit(false).as("unk")))
        }))
      .select(col("w"), col("freq"),
        when(col("hits").isNull || col("enc").getField("unk"), lit(1))
          .otherwise(col("enc").getField("n")).cast("int").as("n_sym"))
  }

  /** q212's serving rollup — the q136/q199 kernel with WordPiece's
    * greedy piece counts (count-gated broadcast, same join economics).
    */
  private[graft] def wordpieceEncodeWith(seg: DataFrame,
      docs: DataFrame): DataFrame = {
    val wp = seg.select(col("w"), col("n_sym"))
    val vjoin = if (wp.count() <= 2000000L) broadcast(wp) else wp
    docs
      .select(col("source"), explode(toks(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .join(vjoin, Seq("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(col("n_sym").cast("long")).as("n_wp_tokens"))
      .withColumn("tokens_per_char",
        round(col("n_wp_tokens") / col("n_chars"), 6))
      .withColumn("tokens_per_word",
        round(col("n_wp_tokens") / col("n_words"), 6))
      .orderBy(col("source"))
  }

  private val wordpieceSegSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("w",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("freq",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_sym",
      org.apache.spark.sql.types.IntegerType)))

  /** Persist the trained WordPiece tokenizer: the scored merge list
    * (the shippable artifact) plus the greedy word segmentation (the
    * serving table q212's encode joins) — the saveBpeTokenizer shape.
    */
  def saveWordpieceTokenizer(s: SparkSession, d: String, rounds: Int,
      path: String, format: String = "orc"): Unit = {
    val (merges, seg) = wordpieceLoop(s, d, rounds)
    graft.ingest.FormatIo.write(merges, s"$path/merges", format)
    graft.ingest.FormatIo.write(seg, s"$path/segmentation", format)
  }

  def loadWordpieceSegmentation(s: SparkSession, path: String,
      format: String = "orc"): DataFrame =
    graft.ingest.FormatIo.read(s, s"$path/segmentation", format,
      wordpieceSegSchema)

  /** Greedy leftmost non-overlapping merge of symbol pair (l, r) over a
    * space-delimited symbol string — one BPE rewrite. A string-typed
    * left fold (higher-order `aggregate`, codegen-friendly, no UDF):
    * the accumulator is the rewritten prefix; when it ends in symbol
    * `l` (whole-string or space-anchored — symbols never contain
    * spaces) and the next symbol is `r`, the trailing `l` is replaced
    * by the merged symbol. Fold order = scan order, so "a a a" under
    * pair (a,a) yields "aa a" — the Sennrich greedy semantics — and a
    * just-merged symbol can't re-match as `l` (l+r != l since r is
    * non-empty). The DuckDB twin runs the IDENTICAL fold via
    * list_reduce, so both engines rewrite every word byte-for-byte
    * alike.
    */
  private def bpeMergeFold(toksStr: Column, l: Column, r: Column): Column =
    mergeFoldWith(toksStr, l, r, concat(l, r))

  /** The fold above with the MERGED symbol as a parameter — WordPiece
    * merges the same (l, r) adjacency but writes `l + r-without-##`
    * (continuation symbols carry the `##` marker exactly once, on the
    * merged token's own prefix), so the rewrite engine is shared and
    * only the merged-symbol spelling differs per tokenizer family.
    */
  private def mergeFoldWith(toksStr: Column, l: Column, r: Column,
      merged: Column): Column = {
    val chars = split(toksStr, " ")
    val endsWithL = (acc: Column) => (acc === l) ||
      (length(acc) > length(l) &&
        acc.substr(length(acc) - length(l), length(l) + 1) ===
          concat(lit(" "), l))
    aggregate(
      slice(chars, lit(2), size(chars) - 1),
      element_at(chars, 1),
      (acc, x) =>
        when(endsWithL(acc) && (x === r),
          concat(acc.substr(lit(1), length(acc) - length(l)), merged))
          .otherwise(concat(acc, lit(" "), x)))
  }

  /** q134's trainer loop. One corpus scan builds the frequency-weighted
    * distinct-word table (the BPE working set — vocab-sized no matter
    * the corpus); each round then (a) counts adjacent symbol pairs
    * weighted by word frequency, (b) takes the single best pair under
    * the (n desc, lhs, rhs) total order, (c) broadcasts that 1-row
    * winner into the merge fold over every word. localCheckpoint after
    * every round pins the winner and truncates the vocab table's
    * lineage — without it round R's plan would embed round R-1's twice
    * (once via the winner, once via the rewrite) and the tree would
    * double per round.
    */
  private def bpeTrain(s: SparkSession, d: String, rounds: Int): DataFrame =
    bpeLoop(s, d, rounds)._1

  /** Memoized trained-BPE state per (session, data dir, rounds): the
    * trainer's localCheckpoint()s defeat CacheManager's canonicalized-
    * plan dedup (every build mints fresh checkpoint RDDs), so without
    * this q136's encode re-ran q134's full 10-round training in its own
    * plan — ~2 s of redundant corpus work per invocation at sf0.1
    * (round-6 verdict item 5). The lshPairs treatment, but keyed
    * explicitly because plan identity can't do the deduping here.
    * Cleared by releaseCaches(); checkpoint blocks free on GC. At
    * 100 TB the trained vocab is a corpus-size-independent table you'd
    * persist to parquet once and serve from — this memo is the
    * single-session analogue.
    */
  private val bpeMemo =
    new graft.KeyedMemo[(SparkSession, String, Int), (DataFrame, DataFrame)]

  private def bpeLoop(s: SparkSession, d: String,
      rounds: Int): (DataFrame, DataFrame) =
    bpeMemo.getOrBuild((s, d, rounds))(bpeLoopRaw(s, d, rounds))

  /** The trainer loop shared by q134 (merge list) and q136 (encoder):
    * returns (merge list, final vocabulary) where the vocabulary keeps
    * the ORIGINAL word alongside its space-delimited BPE symbols — the
    * lookup table the encode join needs.
    */
  private def bpeLoopRaw(s: SparkSession, d: String,
      rounds: Int): (DataFrame, DataFrame) = {
    var words = t(s, d, "documents")
      .select(explode(toks(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"),
        concat_ws(" ", transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1)))).as("toks"),
        col("freq"))
      .localCheckpoint()
    val bests = (1 to rounds).map { r =>
      val pairs = words
        .select(split(col("toks"), " ").as("c"), col("freq"))
        .filter(size(col("c")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("c")) - 1),
          i => struct(element_at(col("c"), i).as("lhs"),
            element_at(col("c"), i + 1).as("rhs")))).as("p"),
          col("freq"))
        .select(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"), col("freq"))
      // ONE action per merge round (the wordpiece round-18 fold): the
      // winner selection stays a lazy broadcast subtree of the rewrite
      // checkpoint, which carries (lhs, rhs, n) so the merge list
      // extracts from the checkpoint without re-running the aggregate;
      // the fold projects IN PLACE of toks (never store both symbol
      // strings). Expression-identical — and q134/q136's DuckDB twin
      // unrolls the same rounds, so the oracle pins every value.
      val best = pairs.groupBy(col("lhs"), col("rhs"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("lhs"), col("rhs"))
        .limit(1)
      val stepped = words.crossJoin(broadcast(best))
        .select(col("w"),
          bpeMergeFold(col("toks"), col("lhs"), col("rhs")).as("toks"),
          col("freq"), col("lhs"), col("rhs"), col("n"))
        .localCheckpoint()
      words = stepped.select(col("w"), col("toks"), col("freq"))
      stepped.limit(1)
        .select(lit(r).as("merge_round"), col("lhs"), col("rhs"),
          concat(col("lhs"), col("rhs")).as("merged"), col("n"))
    }
    (bests.reduce(_.unionAll(_)).orderBy(col("merge_round")), words)
  }

  /** DuckDB twin of `bpeLoop`'s CTE chain: the same rounds, unrolled as
    * generated SQL so Spark loop and SQL loop can never skew. t{r} is
    * MATERIALIZED — it is consumed twice (pair count and rewrite of
    * round r+1), mirroring the Spark-side checkpoint. The original word
    * rides along so the encode twin (q136) can join it back to docs.
    */
  private def bpeCtes(rounds: Int): String = {
    val mergeCase =
      "CASE WHEN (acc = b.lhs OR (length(acc) > length(b.lhs) " +
        "AND substr(acc, length(acc)-length(b.lhs), length(b.lhs)+1) = ' ' || b.lhs)) " +
        "AND x = b.rhs " +
        "THEN substr(acc, 1, length(acc)-length(b.lhs)) || b.lhs || b.rhs " +
        "ELSE acc || ' ' || x END"
    val head =
      "WITH w AS (SELECT unnest(string_split(text,' ')) AS w FROM documents), " +
        "wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM w " +
        "WHERE length(w) >= 1 GROUP BY w), " +
        "t0 AS (SELECT w, array_to_string(list_transform(range(1, length(w)+1), " +
        "i -> substr(w, i, 1)), ' ') AS toks, freq FROM wf)"
    val roundCtes = (1 to rounds).map { r =>
      s"p$r AS (SELECT c[i] AS lhs, c[i+1] AS rhs, freq FROM " +
        s"(SELECT string_split(toks,' ') AS c, freq FROM t${r - 1}), " +
        "UNNEST(range(1, len(c))) x(i)), " +
        s"g$r AS (SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS n " +
        s"FROM p$r GROUP BY lhs, rhs), " +
        s"b$r AS (SELECT lhs, rhs, n FROM g$r ORDER BY n DESC, lhs, rhs LIMIT 1), " +
        s"t$r AS MATERIALIZED (SELECT w, list_reduce(string_split(toks,' '), " +
        s"(acc, x) -> $mergeCase) AS toks, freq FROM t${r - 1}, b$r b)"
    }.mkString(", ", ", ", " ")
    head + roundCtes
  }

  private def bpeTrainSql(rounds: Int): String = {
    val union = (1 to rounds).map(r =>
      s"SELECT $r AS merge_round, lhs, rhs, lhs || rhs AS merged, n FROM b$r")
      .mkString(" UNION ALL ")
    bpeCtes(rounds) + s" SELECT * FROM ($union) ORDER BY merge_round"
  }

  private def bpeEncodeSql(rounds: Int): String =
    bpeCtes(rounds) +
      s", enc AS (SELECT w, len(string_split(toks,' ')) AS n_sym FROM t$rounds), " +
      "dw AS (SELECT source, unnest(string_split(text,' ')) AS w FROM documents) " +
      "SELECT source, CAST(count(*) AS BIGINT) AS n_words, " +
      "CAST(sum(length(dw.w)) AS BIGINT) AS n_chars, " +
      "CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens, " +
      "round(sum(n_sym)*1.0/sum(length(dw.w)), 6) AS tokens_per_char, " +
      "round(sum(n_sym)*1.0/count(*), 6) AS tokens_per_word " +
      "FROM dw JOIN enc ON dw.w = enc.w GROUP BY source ORDER BY source"

  /** q107's ordered filter cascade as a reusable column — the batch
    * query and the streaming twin (`StreamOps.funnelStream`) share this
    * single definition, so their verdicts can never drift. Pure per-row
    * codegen'd string/ratio math: stateless, watermark-free, applies
    * identically to a bounded corpus and a continuous feed. Ratio
    * thresholds compare against 6dp-ROUNDED values (the q46 rule) so
    * both engines and both modes agree at boundaries.
    */
  def funnelVerdict(text: Column, lang: Column): Column = {
    val tk = toks(text)
    val stopRatio = round(size(filter(tk, x =>
      x.isin("the", "a", "of", "and", "to", "in", "is", "it"))).cast("double")
      / size(tk), 6)
    val alphaRatio = round(length(regexp_replace(text, "[^a-z]", ""))
      .cast("double") / length(text), 6)
    when(size(tk) < 15, "too_short")
      .when(alphaRatio < 0.5, "low_alpha")
      .when(stopRatio > 0.4, "high_stop")
      .when(lang =!= "en", "non_english")
      .otherwise("kept")
  }

  /** q144's Gopher metric battery as a reusable projection — the batch
    * query and the streaming gate (`StreamOps.gopherGateStream`) share
    * these single definitions (the funnelVerdict sharing rule), so a
    * document's rule metrics can never differ between a live feed and
    * a backfill. Every metric is a per-row codegen'd string/array op:
    * stateless, watermark-free, 6dp-rounded ratios so thresholds gate
    * identically everywhere.
    */
  def gopherMetrics(text: Column): Seq[Column] = {
    val tk = toks(text)
    val lines = split(text, "\n")
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    Seq(
      size(tk).as("n_words"),
      round(length(translate(text, " ", "")).cast("double")
        / size(tk), 6).as("mean_word_len"),
      round((length(text)
        - length(translate(text, "#", ""))
        + regexp_count(text, lit("\\.\\.\\."))).cast("double")
        / size(tk), 6).as("symbol_ratio"),
      round(size(filter(tk, w => w.rlike("[a-z]"))).cast("double")
        / size(tk), 6).as("alpha_word_ratio"),
      size(filter(array_distinct(tk), x => x.isin(stop: _*)))
        .as("stop_hits"),
      round(size(filter(lines, l =>
        substring(ltrim(l), 1, 1).isin("-", "*", "•"))).cast("double")
        / size(lines), 6).as("bullet_share"),
      round(size(filter(lines, l =>
        rtrim(l).endsWith("...") || rtrim(l).endsWith("…")))
        .cast("double") / size(lines), 6).as("ellipsis_share"),
      round((size(lines) - size(array_distinct(lines))).cast("double")
        / size(lines), 6).as("dup_line_frac"),
      round((size(tk) - size(array_distinct(tk))).cast("double")
        / size(tk), 6).as("dup_word_frac"))
  }

  /** The q144 gate conjunction over `gopherMetrics` column names. */
  def gopherPass: Column =
    col("n_words").between(50, 100000) &&
      col("mean_word_len").between(3.0, 10.0) &&
      col("symbol_ratio") <= 0.1 &&
      col("alpha_word_ratio") >= 0.8 &&
      col("stop_hits") >= 2 &&
      col("bullet_share") <= 0.9 &&
      col("ellipsis_share") <= 0.3 &&
      col("dup_line_frac") <= 0.3

  /** Distributed min-label propagation over a BIDIRECTIONAL edge set
    * (src, dst): every vertex converges to the minimum vertex id of
    * its connected component. Each round is one join of edges to the
    * current labels plus a min aggregate, then a POINTER-JUMPING
    * compression (lbl := lbl(lbl), the shortcutting step of
    * large-star/small-star-family CC algorithms): label distance to
    * the component minimum better-than-halves per round, so rounds =
    * O(log diameter) — a diameter-2^60 chain converges inside the 64
    * cap — while near-dup graphs (tiny diameters: duplicates of a
    * duplicate are duplicates) still finish in ~3. The driver holds
    * only the convergence counter, and the cap FAILS LOUDLY instead of
    * returning silently-wrong clusters. Returns (v, lbl).
    *
    * Compression keeps the invariant lbl(v) ∈ component(v) ∧
    * lbl(v) ≤ v: every label IS a vertex id (so the lbl→v self-join
    * is total), lbl(u) ≤ u monotonically, and the fixpoint — stable
    * under neighbor-min across every bidirectional edge — forces
    * labels constant per component, pinned at the component minimum.
    */
  private[graft] def connectedLabels(edges: DataFrame): DataFrame = {
    // each round references the previous labels THREE times (neighbor
    // min, step, pointer jump), so lineage grows 3^rounds without
    // truncation — the eager localCheckpoint pins each generation as
    // plain partitions and keeps every per-round plan constant-size.
    // (On a real cluster the same loop sets a reliable checkpoint dir
    // for executor-loss tolerance; the shape is unchanged.)
    var labels = edges.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("lbl")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    val maxRounds = 64
    while (changed > 0 && rounds < maxRounds) {
      // every frame below derives from `labels`, so resolve columns
      // by RENAMED NAME, never dataset-qualified — qualified access
      // across shared lineage trips the ambiguous-self-join check
      val nbrMin = edges
        .join(labels.select(col("v").as("nv"), col("lbl").as("nlbl")),
          col("dst") === col("nv"))
        .groupBy(col("src")).agg(min(col("nlbl")).as("mn"))
        .select(col("src").as("mv"), col("mn"))
      val stepped = labels
        .join(nbrMin, col("v") === col("mv"), "left")
        .select(col("v"),
          least(col("lbl"), coalesce(col("mn"), col("lbl"))).as("lbl"),
          col("lbl").as("__prev"))
      // pointer jumping against the previous generation: follow the
      // stepped label to that vertex's previous label (always ≤ it,
      // same component) — one more key-hashed join per round that
      // turns linear-diameter convergence into logarithmic
      //
      // The convergence count rides the SAME pass (round-18, guide
      // §1.2): labels are keyed by v in both generations, so carrying
      // the previous label through the round and observing
      // sum(lbl != __prev) is exactly the former count of the
      // next-vs-labels self-join — which re-read both checkpoints as
      // its own action every round. A missed listener event falls
      // back to that join, value-identically.
      val nextPlan = stepped
        .join(labels.select(col("v").as("pv"), col("lbl").as("plbl")),
          col("lbl") === col("pv"))
        .select(col("v"), least(col("lbl"), col("plbl")).as("lbl"),
          col("__prev"))
      val (next, obsChanged) = Observed("label_prop", nextPlan,
        sum(when(col("lbl") =!= col("__prev"), 1L).otherwise(0L))) { o =>
        o.select(col("v"), col("lbl")).localCheckpoint()
      }
      changed = obsChanged.flatMap(r => Option(r.getAs[java.lang.Long](0)))
        .map(_.longValue).getOrElse(
        next.select(col("v").as("v2"), col("lbl").as("l2"))
          .join(labels.select(col("v").as("v3"), col("lbl").as("l3")),
            col("v2") === col("v3"))
          .filter(col("l2") =!= col("l3")).count())
      labels = next
      rounds += 1
    }
    require(changed == 0,
      s"connectedLabels did not converge in $maxRounds rounds " +
        s"($changed labels still moving) — component structure is " +
        "pathological; refusing to return wrong clusters")
    labels
  }

  /** Damped PageRank power iteration over a symmetrized edge list —
    * the q142 kernel, factored out so PageRankSpec can pin the
    * early-exit contract. `withDeg` is (da, db, deg) — the edge list
    * pre-joined with source out-degree; `deg` is (da, deg). Each round
    * is one key-hashed join of the edge list against the previous rank
    * table plus one groupBy on the destination key — Pregel's shape in
    * two shuffles, no driver-side rank state — and every round's ranks
    * are ROUNDED to 9dp (the q134 round-by-round pinning rule) so
    * Spark's and DuckDB's float summation order can never drift across
    * rounds.
    *
    * Lineage: each round references the previous rank frame, so an
    * un-truncated loop nests all `rounds` joins into one final plan
    * (with the edge subtree repeated per round), leaning on exchange
    * reuse and re-analysis of an O(2^rounds)-node tree — the
    * scale-killer the repo's other iterative kernels already solve.
    * The eager localCheckpoint pins each generation as plain
    * partitions (the bpeLoop/connectedLabels posture; a cluster
    * deployment would use a reliable checkpoint dir for executor-loss
    * tolerance), keeping every per-round plan constant-size at any
    * round count. The edge list is checkpointed ONCE up front — it is
    * the small output of the LSH kernel (dup-density-scale, never the
    * corpus), consumed by all rounds.
    *
    * Early exit (`tol`): when set, each round also computes
    * max |r_next − r_prev| (one small agg over the rank table, the
    * connectedLabels per-round-count posture) and stops once the
    * residual is ≤ tol. tol = 0.0 is the EXACT 9dp fixpoint test — a
    * round that reproduces the previous table bit-for-bit is a
    * fixpoint of the rounded deterministic iteration, so by induction
    * exiting early returns exactly the fixed-`rounds` result; on
    * degree-regular components (every copy pasted everywhere — the
    * common heavy dup shape) that fixpoint lands after ONE round.
    * Irregular components contract at the damping factor 0.85/round,
    * so a 9dp fixpoint needs ~130 rounds — which is why the ORACLE
    * path (q142) runs the fixed 8 rounds with tol = None and the
    * tolerance exit is the non-oracle serving option: callers that
    * only need the published 6dp output can pass a loose tol and an
    * adequate round budget, trading pinned round count for
    * convergence-bound cost. PageRankSpec pins both contracts:
    * tol 0.0 ≡ fixed-rounds bit-for-bit (and fires on a regular
    * graph), loose-tol ≡ fixed-rounds at the 6dp output rounding.
    */
  private[graft] def pageRankRanks(withDeg: DataFrame, deg: DataFrame,
      rounds: Int, tol: Option[Double]): DataFrame =
    pageRankRanksCounted(withDeg, deg, rounds, tol)._1

  /** pageRankRanks plus the number of rounds actually executed —
    * PageRankSpec uses the count to prove the early exit FIRES on a
    * convergent graph (not just that it happens to agree).
    */
  private[graft] def pageRankRanksCounted(withDeg: DataFrame,
      deg: DataFrame, rounds: Int, tol: Option[Double]): (DataFrame, Int) = {
    val edges = withDeg.localCheckpoint()
    var rank = deg.select(col("da").as("doc_id"), lit(1.0).as("r"))
      .localCheckpoint()
    var it = 0
    var converged = false
    while (it < rounds && !converged) {
      // round fusion (the graph-walk hop-fusion shape, round-18): with
      // no tolerance check there is no per-round driver decision, so
      // intermediate generations take LAZY local checkpoints — lineage
      // still truncates (constant-size plans, the reason this loop
      // checkpoints at all) but no job submits per round; the LAST
      // round's eager checkpoint materializes the chain in one action.
      // With a tolerance, the residual head() materializes each round
      // anyway, so those stay eager.
      val isLast = it == rounds - 1
      val nextPlan = edges.join(rank, edges("da") === rank("doc_id"))
        .select(col("db"), (col("r") / col("deg")).as("c"))
        .groupBy(col("db"))
        .agg(round(lit(0.15) + lit(0.85) * sum(col("c")), 9).as("r"))
        .select(col("db").as("doc_id"), col("r"))
      val next =
        if (tol.isEmpty && !isLast) nextPlan.localCheckpoint(eager = false)
        else nextPlan.localCheckpoint()
      tol.foreach { t =>
        val resid = next.select(col("doc_id").as("nid"), col("r").as("nr"))
          .join(rank.select(col("doc_id").as("pid"), col("r").as("pr")),
            col("nid") === col("pid"))
          .agg(coalesce(max(abs(col("nr") - col("pr"))), lit(0.0)))
          .head().getDouble(0)
        converged = resid <= t
      }
      rank = next
      it += 1
    }
    (rank, it)
  }

  /** Deterministic 0–99 bucket from the md5 of a key — the q68 trick
    * shared by the sampling/split queries: every engine and every rerun
    * derives the same bucket from the same id (unlike seeded RNGs,
    * which are partition-dependent — see RatingSynth).
    */
  private def md5Bucket(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 4), 16, 10).cast("long") % 100

  /** The q82 train/val/test assignment (90/5/5) as a reusable column.
    * Pure and stateless — a function of the stable id alone — so it
    * applies unchanged to a streaming corpus (no watermark, no state):
    * documents arriving incrementally get the same split they'd get in
    * a batch backfill, which is exactly the leakage-free property a
    * 100 TB ingest pipeline needs.
    */
  def splitFor(id: Column): Column =
    when(md5Bucket(id) < 90, "train")
      .when(md5Bucket(id) < 95, "val")
      .otherwise("test")

  /** First 8 hex digits of md5(c) as an unsigned 32-bit value in DuckDB
    * SQL (positional digit reconstruction, the md5BucketSql technique
    * widened to 8 digits) — the uniform-draw source for q94's weighted
    * sampling keys. Spark twin: conv(substring(md5(..),1,8),16,10).
    */
  private def md5U32Sql(c: String): String = {
    def digit(i: Int) =
      s"(instr('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)),$i,1))-1)"
    (1 to 8).map(i => s"${digit(i)}*${1L << (4 * (8 - i))}").mkString("(", " + ", ")")
  }

  /** The same bucket in DuckDB SQL (no conv() there: hex digits
    * reconstructed positionally via instr).
    */
  private def md5BucketSql(c: String): String = {
    def digit(i: Int) =
      s"(instr('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)),$i,1))-1)"
    s"(${digit(1)}*4096 + ${digit(2)}*256 + ${digit(3)}*16 + ${digit(4)}) % 100"
  }
}
