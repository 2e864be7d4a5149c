package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.Fns._
import graft.functions.CosineSimilarity

/** Similarity search over the embeddings fixture (Array[Float], 64-d).
  *
  * Scale design: the brute-force top-k (q50) broadcasts the small
  * *query* side, so the big corpus side streams through one codegen'd
  * stage — correct baseline at any corpus size as long as the query
  * set is small. The scale path for all-pairs-style workloads is
  * bucketed LSH (q51): sign-signature buckets → groupBy-sized joins,
  * never a cartesian product. IVF assignment (q52) is the other
  * standard ANN building block: route each vector to its nearest
  * centroid (centroid table broadcasts).
  *
  * All arithmetic is promoted to double before any multiply/sum so the
  * DuckDB oracle (which computes in DOUBLE[]) matches bit-for-bit;
  * ranking always happens on the 6-decimal-rounded similarity with a
  * vec_id tiebreak, so FP noise below 1e-6 cannot flip row order.
  */
object VectorOps {
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Served-index memo, keyed (session, data dir, kind): a production
    * vector store builds its index ONCE and serves every query from it —
    * rebuilding the IVF-PQ index (sample, driver-side quantizer
    * training, a compiled encode of the corpus) per registered query
    * (q133, then q139 again moments later in the same sweep) would price
    * the amortized build into every serving row. Same lifecycle convention
    * as TextOps' pinned kernels: whichever consumer runs first pays the
    * build, everyone else reads; released by `releaseCaches()` (Bench/
    * Verify/JobProfile call it after the sweep). Seeded fits make the
    * shared index identical to a per-query rebuild, so results are
    * unchanged. At 100 TB the analogue is `IvfPq.save`/`load` — the
    * index lives on disk across serving sessions; this memo is the
    * single-session stand-in.
    */
  private val servedIndexes =
    new graft.KeyedMemo[(SparkSession, String, String), AnyRef]

  private def served[T <: AnyRef](s: SparkSession, d: String, kind: String)(
      build: => T): T =
    servedIndexes.getOrBuild((s, d, kind))(build).asInstanceOf[T]

  /** Close every memoized index (unpersists their build-time caches).
    * Both memos release via `KeyedMemo.drain()`, which synchronizes
    * against in-flight `getOrBuild`s — a snapshot-then-clear here had
    * a window where a build completing between the two calls leaked a
    * persisted MEMORY_AND_DISK graph with no remaining release path
    * (the round-11 advice finding; Round17OpsSpec pins the drained
    * release).
    */
  def releaseCaches(): Unit = {
    servedIndexes.drain().foreach {
      case i: graft.ext.IvfPq.Index => i.close()
      case i: graft.ext.PqIndex.Index => i.close()
      case df: DataFrame => df.unpersist(blocking = false) // knn graph
      case _ => () // AnnIndex pins no cache; gbeam walks release below
    }
    // every checkpoint the graph walks made (input frames, adjacency,
    // per-hop scored states — the returned frames reference only the
    // LAST of these, so walking their plans would miss the rest)
    walkPinned.synchronized {
      walkPinned.foreach(graft.GraftEngine.unpinCheckpoints)
      walkPinned.clear()
    }
    // facade-built kNN graphs (knnGraphOf on caller frames) are
    // memoized outside servedIndexes — release them too
    // (double-unpersist of the fixture graph is a harmless no-op)
    graphMemo.drain().foreach(_.unpersist(blocking = false))
  }

  /** Facade kNN graphs memoized by (session, canonicalized input
    * plan): repeated `GraftEngine.mutualKnn`/`knnLabelAudit` calls on
    * the same frame in a long-lived session share ONE persisted graph
    * instead of stacking a new MEMORY_AND_DISK entry per call (the
    * round-10 advice finding — the only release was the global
    * `releaseCaches()`, which also drops every served ANN index).
    * Distinct frames still build distinct graphs; the memo is the
    * shingle-cache identity rule applied to the dense side.
    */
  private val graphMemo = new graft.KeyedMemo[
    (SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan),
    DataFrame]

  /** Explicit bench/session setup: build every served ANN index (IVF,
    * PQ, composed IVF-PQ) with the exact parameters the registered
    * queries use, so the sweep's per-query rows are serving-only and
    * the one-time builds are reported as their own bench line instead
    * of landing in whichever consumer happens to run first (the
    * TextOps.warmPairKernel rationale). Seeded fits make the warmed
    * index identical to a lazily-built one.
    */
  def warmIndexes(s: SparkSession, d: String): Unit = {
    val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    served(s, d, "ivfpq") {
      graft.ext.IvfPq.build(s, e, dim = 64, kCells = 16, kCodes = 64)
    }
    served(s, d, "ivf") { graft.ext.AnnIndex.build(s, e, k = 16) }
    served(s, d, "pq") { graft.ext.PqIndex.build(s, e, dim = 64) }
    ()
  }

  /** GraftEngine's ANN serving entry: arbitrary caller queries against
    * the session's shared IVF-PQ index over the embeddings fixture.
    * Same index the registered q133/q139 serve from (one build per
    * session); `queries`: (q_id long, q_emb array<float>). The result
    * is a local frame already in (q_id, rn) order (`IvfPq.search`).
    */
  def annTopK(s: SparkSession, d: String, queries: DataFrame, topK: Int,
      nProbe: Int, shortlist: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val index = served(s, d, "ivfpq") {
      graft.ext.IvfPq.build(s, e, dim = 64, kCells = 16, kCodes = 64)
    }
    graft.ext.IvfPq.search(index, e, queries, topK, nProbe, shortlist,
      excludeSelf)
  }

  /** == Recall-targeted ANN auto-tuning (round-16 item 5) ==
    * q147/q201 put the (method, regime, probe) → recall table on a
    * dashboard; this closes the loop. The calibration is MEASURED once
    * per (session, corpus, regime): the sampled query set (vec_id <
    * 10, the q147/q201 sample) runs through the REAL serving arm
    * (IvfPq.search — probe + ADC shortlist + exact re-rank, the path
    * every caller actually gets) at each grid nProbe, scored against
    * the exact cosine top-5 (the q50 kernel). The result is memoized
    * beside the served index — on disk it would be a small config
    * table next to `IvfPq.save`'s layout, re-measured on recalibration
    * like any production recall SLO. `annTuned` then picks the
    * CHEAPEST grid point meeting the caller's target instead of every
    * caller hard-coding 12/16; no grid point meeting it falls back to
    * the exact-probe configuration (all cells, unbounded shortlist —
    * recall 1.0 by construction, the honest answer when the index
    * geometry cannot deliver the target cheaply). Calibration cost is
    * sample-sized (10 queries × 6 grid points against a bucket-pruned
    * index), amortized over every subsequent serve — the price q201's
    * scaladoc already argues for.
    */
  val ProbeGrid: Seq[Int] = Seq(1, 2, 4, 8, 12, 16)

  /** The two calibration regimes: the fixture corpus (isotropic — the
    * recall floor) and q201's md5 mixture (clustered — where IVF
    * routing recovers). Each serves from its OWN session-shared index.
    */
  private def regimeCorpus(s: SparkSession, d: String,
      regime: String): DataFrame = regime match {
    case "isotropic" =>
      t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    case "clustered" =>
      synClustered(s, d).select(col("vec_id"), col("embedding"))
    case other => throw new IllegalArgumentException(
      s"unknown ANN calibration regime '$other'")
  }

  private def regimeIndex(s: SparkSession, d: String,
      regime: String): graft.ext.IvfPq.Index = {
    val kind = if (regime == "isotropic") "ivfpq" else s"ivfpq_$regime"
    served(s, d, kind) {
      graft.ext.IvfPq.build(s, regimeCorpus(s, d, regime),
        dim = 64, kCells = 16, kCodes = 64)
    }
  }

  /** Measured recall@5 of the full serving arm per grid nProbe —
    * ascending probe order, so `find` picks the cheapest point.
    */
  def annCalibration(s: SparkSession, d: String,
      regime: String): Seq[(Int, Double)] =
    served(s, d, s"anncal_$regime") {
      CosineSimilarity.ensureRegistered(s)
      val e = regimeCorpus(s, d, regime)
      val index = regimeIndex(s, d, regime)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      // the exact answer set is the shared memo (round-17 item 4) —
      // the calibration prices ONLY the probe-grid sweep, and the whole
      // grid is ONE search (IvfPq.searchGrid: one code pass scores every
      // grid point) whose per-p rows equal six sequential searches
      val exactSet = exactAnnTop5(s, d, regime)
        .map { case (qid, vid, _) => (qid, vid) }.toSet
      val gotAll = graft.ext.IvfPq.searchGrid(index, e, q, topK = 5,
          ProbeGrid, shortlist = 96)
        .select(col("p"), col("q_id"), col("vec_id")).collect()
        .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2))))
      ProbeGrid.map { p =>
        val got = gotAll.filter(_._1 == p).map(_._2).toSet
        p -> (got intersect exactSet).size.toDouble / exactSet.size
      }
    }

  /** Bench build step: measure both regimes' calibration tables (and
    * build the clustered index they need) so q225's row is
    * serving-priced — the warmPairKernel/graph_adj accounting rule;
    * without this line q225 absorbs the clustered IVF-PQ build + 12
    * calibration searches every sweep.
    */
  def warmAnnCalibration(s: SparkSession, d: String): Unit = {
    import scala.collection.parallel.CollectionConverters._
    // the two regimes are independent memo chains (isotropic reads the
    // session index; clustered builds its own) — run them as
    // concurrent driver jobs (guide §2.6) so the clustered build's
    // scheduling gaps back-fill with the isotropic sweep
    Seq("isotropic", "clustered").par.foreach(annCalibration(s, d, _))
    ()
  }

  /** The calibration sweep's exact serving shape, exposed for the
    * PlansInternal plan-audit main (measurement-only — same grid, same
    * shortlist, same projection + collect annCalibration runs).
    */
  def calibrationSweepForPlanAudit(index: graft.ext.IvfPq.Index,
      corpus: DataFrame, q: DataFrame): Unit = {
    graft.ext.IvfPq.searchGrid(index, corpus, q, topK = 5, ProbeGrid,
        shortlist = 96)
      .select(col("p"), col("q_id"), col("vec_id")).collect()
    ()
  }

  /** The tuned (nProbe, shortlist) for a recall target: cheapest grid
    * point whose measured recall meets it, else the exact-probe
    * fallback.
    */
  def annTuned(s: SparkSession, d: String, targetRecall: Double,
      regime: String = "isotropic"): (Int, Int) =
    annCalibration(s, d, regime).find(_._2 >= targetRecall)
      .map { case (p, _) => (p, 96) }
      .getOrElse((16, Int.MaxValue))

  /** GraftEngine's recall-targeted serving entry: annTopK with the
    * probe configuration the measured calibration says the target
    * needs (the fixture corpus is the isotropic regime).
    */
  def annTopKAuto(s: SparkSession, d: String, queries: DataFrame,
      topK: Int, targetRecall: Double,
      excludeSelf: Boolean = true): DataFrame = {
    val (p, sl) = annTuned(s, d, targetRecall, "isotropic")
    annTopK(s, d, queries, topK, p, sl, excludeSelf)
  }

  /** Adaptive sign-LSH width: the fixed 8-bit bucket of earlier rounds
    * made the within-bucket self-join ~n²/256 — quadratic in corpus
    * size. The bucket count now scales with the corpus: bits = the
    * smallest b in [8, 24] with n ≤ 32·2^b, so the expected bucket size
    * stays ≈≤32 and the candidate join does ~32·n comparisons — linear.
    * Derived with pure INTEGER comparisons (no log/float), so Spark and
    * the DuckDB oracle cannot disagree at a power-of-two boundary. The
    * 24-bit cap is the embedding's usable sign dims; past ~5·10⁸
    * vectors bucket sizes grow again, but only linearly (n/2^24).
    */
  private val MinBits = 8
  private val MaxBits = 24
  private val TargetBucket = 32L

  private def bitsFor(n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (MinBits until MaxBits).reverse.foldLeft(lit(MaxBits): org.apache.spark.sql.Column) {
      (acc, b) => when(n <= lit(TargetBucket << b), lit(b)).otherwise(acc)
    }

  private val bitsSql: String =
    (MinBits until MaxBits).reverse.foldLeft(MaxBits.toString) { (acc, b) =>
      s"(CASE WHEN n <= ${TargetBucket << b} THEN $b ELSE $acc END)"
    }

  /** Sign-signature LSH bucket over the first `bits` dims (bits is a
    * per-corpus column from `bitsFor`, constant across rows).
    */
  private def signBucket(emb: org.apache.spark.sql.Column,
      bits: org.apache.spark.sql.Column) =
    signBucketAt(emb, bits, 0)

  /** Sign bucket over the dim window starting at `offset` — distinct
    * hash FAMILIES for the graph-ANN adjacency (q210): each family
    * splits the corpus differently, and the union of per-family edges
    * connects neighborhoods a single family's bucket boundary cuts.
    */
  private def signBucketAt(emb: org.apache.spark.sql.Column,
      bits: org.apache.spark.sql.Column, offset: Int) =
    (0 until MaxBits).map { j =>
      when((lit(j) < bits) && (element_at(emb, offset + j + 1) > 0f),
        lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  private def signBucketSqlOver(arr: String): String =
    (0 until MaxBits).map { j =>
      s"(CASE WHEN $j < bits AND $arr[${j + 1}] > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")

  private val signBucketSql: String = signBucketSqlOver("embedding")

  /** First 8 hex digits of md5(<sql expr>) as an unsigned 32-bit value
    * (the TextOps md5U32Sql technique over an arbitrary expression) and
    * the derived uniform draw in (0,1) — q201's deterministic
    * cluster-synthesis source, identical arithmetic on both engines.
    */
  private def md5U32SqlExpr(e: String): String = {
    def digit(i: Int) =
      s"(instr('0123456789abcdef', substr(md5($e),$i,1))-1)"
    (1 to 8).map(i => s"${digit(i)}*${1L << (4 * (8 - i))}")
      .mkString("(", " + ", ")")
  }

  private def uSqlExpr(e: String): String =
    s"((${md5U32SqlExpr(e)} + 0.5) / 4294967296.0)"

  /** q201's clustered-corpus synthesis (8-cluster md5 mixture — every
    * value bit-identical on both engines), factored out so q210's
    * clustered regime walks the IDENTICAL frame q201 calibrates on
    * (the funnelVerdict sharing rule). Returns (vec_id, label,
    * embedding).
    */
  private[graft] def synClustered(s: SparkSession, d: String): DataFrame = {
    val grp = pmod(col("vec_id"), lit(8L))
    def u(e: org.apache.spark.sql.Column) =
      (conv(substring(md5(e), 1, 8), 16, 10).cast("double") + lit(0.5)) /
        lit(4294967296.0)
    val emb = transform(sequence(lit(1), lit(64)), i => {
      val c = u(concat(lit("c"), grp.cast("string"), lit("_"),
        i.cast("string"))) * 2 - 1
      val n = u(concat(lit("n"), col("vec_id").cast("string"), lit("_"),
        i.cast("string"))) * 2 - 1
      round(c + lit(0.15) * n, 6).cast("float")
    })
    t(s, d, "embeddings")
      .select(col("vec_id"), grp.as("label"), emb.as("embedding"))
  }

  /** q147/q201's shared recall@3 kernel (the funnelVerdict sharing
    * rule: one body, two regimes): `e` carries (vec_id, embedding,
    * bucket, cell); queries are vec_id < 10. For each query the exact
    * cosine top-3 compares against the same-bucket (LSH) and same-cell
    * (IVF) single-probe top-3; recall is an exact integer count over
    * deterministic 6dp-rounded-cosine rankings with vec_id tiebreaks.
    */
  /** Exact cosine top-5 per probe query (vec_id < 10), ONE memoized
    * corpus pass per (session, dir, regime) — the recall kernels
    * (q147/q201) and the nProbe calibration's exact arm all consume
    * PREFIXES of this one answer set (round-17 item 4: before this,
    * `build:ann_calibration` re-paid the exact arm q147/q201 had
    * already priced in the same session). Ordering is the engine-wide
    * deterministic rank: cosine rounded to 6dp descending, vec_id
    * tiebreak — so the prefix-3 rows are bit-identical to what the
    * kernels computed inline before.
    */
  private[graft] def exactAnnTop5(s: SparkSession, d: String,
      regime: String): Seq[(Long, Long, Int)] =
    served(s, d, s"annexact5_$regime") {
      CosineSimilarity.ensureRegistered(s)
      val e = regimeCorpus(s, d, regime)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_r").desc, col("vec_id"))
      e.join(broadcast(q), col("q_id") =!= col("vec_id"))
        .withColumn("cos_r", round(expr("cosine_sim(q_emb, embedding)"), 6))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("q_id"), col("vec_id"), col("rn")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    }

  private def annRecallOver(s: SparkSession, d: String, regime: String,
      e: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("bucket").as("q_bucket"), col("cell").as("q_cell"))
    def top3(cand: DataFrame) = {
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_r").desc, col("vec_id"))
      cand.withColumn("cos_r",
          round(expr("cosine_sim(q_emb, embedding)"), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("vec_id"))
    }
    // the exact reference is the memoized answer set's prefix-3 — same
    // ranking expression, same corpus, zero extra corpus passes
    val exact = {
      import s.implicits._
      exactAnnTop5(s, d, regime).filter(_._3 <= 3)
        .map { case (qid, vid, _) => (qid, vid) }.toDF("q_id", "vec_id")
    }
    def arm(name: String, cand: DataFrame) =
      exact.join(top3(cand).withColumn("hit", lit(1)),
          Seq("q_id", "vec_id"), "left")
        .select(lit(name).as("method"), col("q_id"),
          coalesce(col("hit"), lit(0)).as("hit"))
    val lsh = arm("lsh_bucket", e.join(broadcast(q),
      col("bucket") === col("q_bucket") && col("q_id") =!= col("vec_id")))
    val ivf = arm("ivf_cell", e.join(broadcast(q),
      col("cell") === col("q_cell") && col("q_id") =!= col("vec_id")))
    lsh.unionAll(ivf)
      .groupBy(col("method"), col("q_id"))
      .agg(sum(col("hit")).cast("long").as("n_hit"),
        round(sum(col("hit")).cast("double") / count(lit(1)), 6).as("recall"))
      .orderBy(col("method"), col("q_id"))
  }

  /** Corpus with its adaptive bucket: n is a broadcast 1-row aggregate
    * INSIDE the plan (no driver-side count), bits derives from it.
    */
  private def withBucket(e0: DataFrame): DataFrame = {
    val n = e0.groupBy().agg(count(lit(1)).as("n"))
    e0.crossJoin(broadcast(n))
      .withColumn("bucket", signBucket(col("embedding"), bitsFor(col("n"))))
      .drop("n")
  }

  /** DuckDB twin of `withBucket` as a CTE body over `embeddings`. */
  private val bucketCteSql: String =
    "nb AS (SELECT count(*) AS n FROM embeddings), " +
      s"bb AS (SELECT ($bitsSql) AS bits FROM nb), " +
      "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, " +
      s"($signBucketSql) AS bucket FROM embeddings, bb)"

  /** q52's nearest-centroid routing, shared with q140: per-label 6dp
    * centroids fit in-plan, every vector assigned to its squared-L2
    * nearest (smallest-label tiebreak). Returns (vec_id, label,
    * assigned). The centroid table is O(labels·dim) and broadcasts; the
    * per-vector distance agg shuffles on (vec_id, c_label) — at 100 TB
    * this is the trained-IVF `AnnIndex.build` path instead; this
    * label-centroid form exists because it IS SQL-expressible, so the
    * semantic-dedup built on it stays oracle-checkable.
    */
  /** The full (vec_id, label, c_label, d2) distance table behind
    * `labelCellAssign`, exposed because the silhouette audit (q149)
    * needs BOTH the assigned-cell distance and the runner-up distances
    * that the rn=1 filter discards.
    */
  private def labelCellDist(e: DataFrame): DataFrame = {
    val dims = e.select(col("vec_id"), col("label"),
      posexplode(asDouble(col("embedding"))).as(Seq("i", "v")))
    val cent = dims.groupBy(col("label").as("c_label"), col("i"))
      .agg(round(avg(col("v")), 6).as("c"))
    dims.join(broadcast(cent), Seq("i"))
      .groupBy(col("vec_id"), col("label"), col("c_label"))
      .agg(round(sum((col("v") - col("c")) * (col("v") - col("c"))), 6).as("d2"))
  }

  private def labelCellAssign(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("c_label"))
    labelCellDist(e).withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("c_label").as("assigned"))
  }

  /** DuckDB twin of `labelCellAssign` → CTE `asg(vec_id, cell)`. */
  private val assignCteSql: String =
    "dims AS (SELECT vec_id, label, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS v " +
      "FROM embeddings, UNNEST(range(1, 65)) t(i)), " +
      "cent AS (SELECT label AS c_label, i, round(avg(v), 6) AS c FROM dims GROUP BY c_label, i), " +
      "dist AS (SELECT vec_id, label, c_label, round(sum((v - c)*(v - c)), 6) AS d2 " +
      "FROM dims JOIN cent USING (i) GROUP BY vec_id, label, c_label), " +
      "rr AS (SELECT vec_id, label, c_label, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn FROM dist), " +
      "asg AS (SELECT vec_id, c_label AS cell FROM rr WHERE rn = 1)"

  /** Bucketed 3-NN graph kernel shared by q183/q184 (and warmed as the
    * bench's `knn_graph` build step): every vector's top-3 neighbors
    * within its adaptive sign-LSH bucket, ranked by (6dp-rounded cosine
    * desc, vec_id) — q51's candidate discipline, so the join volume
    * stays ~32·n at any corpus size. Served from the session memo and
    * persisted because each graph consumer reads it from 2–3 join
    * sides (mutuality self-join, shared-neighbor self-join, label
    * probe) — recomputing the bucketed candidate pass per side would
    * multiply the whole cosine join (the q129 double-evaluation
    * lesson). At 100 TB the graph is a one-time a_id-bucketed parquet
    * materialization, exactly like the TextOps pair kernel.
    */
  private[graft] def knnGraph(s: SparkSession, d: String): DataFrame =
    served(s, d, "knn3") {
      knnGraphOf(s, t(s, d, "embeddings").select(col("vec_id"), col("embedding")))
    }

  /** The kNN-graph kernel over ANY (vec_id, embedding) frame — ONE
    * implementation serving the registered queries (via the memo
    * above) and the `GraftEngine.mutualKnn`/`knnLabelAudit` facades
    * (the funnelVerdict sharing rule). Returns the persisted top-3
    * edge list (a_id, b_id, cos_r); the caller's consumers all read
    * the one cache entry, and REPEAT calls on the same frame (by
    * canonicalized plan) share it too — released by
    * `releaseCaches()`.
    */
  private[graft] def knnGraphOf(s: SparkSession, e0: DataFrame): DataFrame =
    graphMemo.getOrBuild((s, e0.queryExecution.analyzed.canonicalized)) {
      CosineSimilarity.ensureRegistered(s)
      val e = withBucket(e0.select(col("vec_id"), col("embedding")))
      val l = e.select(col("bucket"), col("vec_id").as("a_id"), col("embedding").as("a_emb"))
      val r = e.select(col("bucket"), col("vec_id").as("b_id"), col("embedding").as("b_emb"))
      val w = Window.partitionBy(col("a_id")).orderBy(col("cos_r").desc, col("b_id"))
      val k = l.join(r, Seq("bucket")).filter(col("a_id") =!= col("b_id"))
        .withColumn("cos_r", round(expr("cosine_sim(a_emb, b_emb)"), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("a_id"), col("b_id"), col("cos_r"))
      k.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      k
    }

  /** q183's body over a prebuilt kNN edge list: mutual edges (a<b)
    * annotated with the shared-top-3-neighbor count.
    */
  private[graft] def mutualKnnPairs(k: DataFrame): DataFrame = {
    val m = k
      .join(k.select(col("a_id").as("ya"), col("b_id").as("yb")),
        col("a_id") === col("yb") && col("b_id") === col("ya"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("cos_r"))
    val sn = k.select(col("a_id").as("n1a"), col("b_id").as("nb"))
      .join(k.select(col("a_id").as("n2a"), col("b_id").as("nb")), Seq("nb"))
      .filter(col("n1a") < col("n2a"))
      .groupBy(col("n1a").as("a_id"), col("n2a").as("b_id"))
      .agg(count(lit(1)).as("shared_n"))
    m.join(sn, Seq("a_id", "b_id"), "left")
      .select(col("a_id"), col("b_id"), col("cos_r"),
        coalesce(col("shared_n"), lit(0L)).as("shared_n"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** == Graph-based ANN serving (round-14, the HNSW-class arm) ==
    * Best-first BEAM SEARCH over the persisted kNN graph — the third
    * serving family beside bucketed LSH (q51) and IVF-PQ (q133):
    * navigable-graph engines (HNSW, NSG) answer queries by walking
    * neighbor links toward the query instead of probing partitions.
    * Spark-first shape: the q183 top-3 graph symmetrizes into an
    * adjacency list ONCE (graph construction is the indexing cost, as
    * in HNSW), then each query walks it in `hops` driver-coordinated
    * rounds — frontier ⋈ adjacency (expand), anti-join vs the visited
    * set (never re-score), broadcast-query cosine scoring of the new
    * candidates only, and a top-`beam` re-select over everything seen
    * (best-first, 6dp-rounded cosine + vec_id ties, so the walk is
    * deterministic and rerun-identical). Entry points are the
    * `entries` smallest vec_ids — fixed and oracle-portable, the
    * single-layer stand-in for HNSW's hierarchy. Candidates scored
    * per query are ≤ entries + hops·beam·degree — independent of the
    * corpus size, the property that makes graph ANN serve at 100 TB:
    * the walk touches O(beam·hops) adjacency rows (a key-pruned join
    * against the a_id-bucketed persisted graph), never a partition
    * scan. Returns (top-3 per query, every scored candidate) — the
    * second frame is the honest visited-count audit Round19OpsSpec
    * pins ≪ corpus.
    */
  private[graft] def graphBeamSearch(s: SparkSession, e0: DataFrame,
      beam: Int = 8, hops: Int = 4, entries: Int = 8,
      degree: Int = 8): (DataFrame, DataFrame) = {
    val (base, adj) = graphAdjGrouped(s,
      e0.select(lit(0).as("__grp"), col("vec_id"), col("embedding")), degree)
    val (topk, scored) = graphWalkGrid(s, base, adj, regimeQueries(base),
      Seq((beam, entries)), hops)
    (topk.drop("__gp", "__grp"), scored.drop("__gp", "__grp", "__beam"))
  }

  /** Checkpoints made by the graph walks, tracked for explicit release
    * (`releaseCaches`): the walk's RESULT frames reference only the
    * final scored checkpoint, so the adjacency and per-hop
    * intermediates would otherwise linger until GC.
    */
  private val walkPinned = scala.collection.mutable.ArrayBuffer[DataFrame]()

  /** Local checkpoint of a walk frame, tracked in `walkPinned`. A LAZY
    * one (`eager = false`, round-18 hop fusion) still truncates lineage
    * at a LogicalRDD leaf (per-hop plans stay shallow — the reason the
    * walk checkpoints at all), but submits no job: the chain
    * materializes inside the FIRST action that consumes it — the final
    * hop's EAGER checkpoint — so a 4-hop walk runs as one submitted
    * action instead of five. Intermediates cache when computed (the
    * lazy-checkpoint contract), so beam windows re-reading earlier
    * states never recompute them.
    */
  private def walkCkpt(df: DataFrame, eager: Boolean): DataFrame = {
    val c = df.localCheckpoint(eager)
    walkPinned.synchronized { walkPinned += c }
    c
  }

  /** Adjacency half: builds the navigable-small-world edge list for
    * every `__grp` corpus in `eg` and returns (base, adj) — both
    * checkpointed (base because three family joins, the entry select
    * and every hop's score() re-read it; adj because every hop
    * expands against it). The walk half re-walks these at ANY
    * (beam, entries) without re-paying this corpus-sized build — the
    * graph-arm calibration grid (q232) depends on that split.
    */
  private def graphAdjGrouped(s: SparkSession, eg: DataFrame,
      degree: Int): (DataFrame, DataFrame) = {
    CosineSimilarity.ensureRegistered(s)
    // the NAVIGATION graph: the q51/q183 bucketed kernel at `degree`
    // out-edges per node, built from THREE sign-hash FAMILIES (dim
    // windows at offsets 0/8/16) and unioned — a single family's
    // bucket boundaries are walls the walk cannot cross (edges exist
    // only within a bucket; measured: clustered recall 0.13 on the
    // single-family degree-8 graph), while different families split
    // the corpus differently, so their union links every neighborhood
    // a single boundary cuts — the multi-hash-table LSH idea, realized
    // as navigable-small-world edges (the role HNSW's long links
    // play). Candidate volume stays ~3·32·n; per-node out-degree
    // ≤ 3·degree.
    //
    // The input frame materializes ONCE: it feeds three family joins,
    // the entry select and a score() per hop — q210's clustered regime
    // synthesizes embeddings from 64 md5 draws per row, and re-deriving
    // that in every consumer was 6× the 10× row (53 s → 8.5 s).
    val base = walkCkpt(
      eg.select(col("__grp"), col("vec_id"), col("embedding")), eager = true)
    val nAgg = base.groupBy(col("__grp")).agg(count(lit(1)).as("n"))
    // CLUSTERED corpora concentrate whole clusters into a few sign
    // buckets (the point of LSH — and a quadratic trap for the
    // self-join: measured 26M pairs/family on the 8-cluster 10×
    // regime). Oversized buckets split into ~32-member SALT CELLS
    // (per-family salt, so the families cut differently): each node
    // meets only its cell, candidates stay ~32·n at ANY skew, and
    // in-cell neighbors are still in-bucket — near — so the graph
    // keeps its short links while the families' differing cells
    // supply the cross connectivity. The bucket-size side is
    // n/32-row metadata joined on the (fam, bucket) key (AQE
    // broadcasts it while it fits). All three families stack into ONE
    // tall frame keyed by `fam`, so the whole adjacency is one
    // size-agg + one join + one window — not three jobs (the walk's
    // cost is fixed protocol overhead at any corpus size; job count
    // IS the cost).
    val tall = Seq(0, 8, 16).map { off =>
      base.join(broadcast(nAgg), Seq("__grp"))
        .withColumn("fam", lit(off))
        .withColumn("bucket",
          signBucketAt(col("embedding"), bitsFor(col("n")), off))
        .drop("n")
    }.reduce(_.unionByName(_))
    val sz = tall.groupBy(col("__grp"), col("fam"), col("bucket"))
      .agg(count(lit(1)).as("bn"))
    val ec = tall.join(sz, Seq("__grp", "fam", "bucket"))
      .withColumn("cell", pmod(xxhash64(col("vec_id"), col("fam")),
        greatest(lit(1L), ceil(col("bn") / lit(32.0)).cast("long"))))
      .drop("bn")
    val le = ec.select(col("__grp"), col("fam"), col("bucket"), col("cell"),
      col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val re = ec.select(col("__grp"), col("fam"), col("bucket"), col("cell"),
      col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val we = Window.partitionBy(col("__grp"), col("fam"), col("a_id"))
      .orderBy(col("cos_r").desc, col("b_id"))
    val edges = le.join(re, Seq("__grp", "fam", "bucket", "cell"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("cos_r", round(expr("cosine_sim(a_emb, b_emb)"), 6))
      .withColumn("rn", row_number().over(we)).filter(col("rn") <= degree)
      .select(col("__grp"), col("a_id"), col("b_id"))
    // symmetrize: graph navigability needs the back links (NSG/HNSW
    // keep them explicitly)
    val adj = walkCkpt(
      edges.select(col("__grp"), col("a_id").as("src"),
          col("b_id").as("dst"))
        .union(edges.select(col("__grp"), col("b_id").as("src"),
          col("a_id").as("dst")))
        .distinct(), eager = true)
    (base, adj)
  }

  /** Walk half, the ONE graph-walk kernel: beam search over a prebuilt
    * (base, adj) pair for an arbitrary query frame `q` (`__grp`, q_id,
    * q_emb) at every (beam, entries) point of `grid`. The group tags on
    * `q` decide which corpora walk (joins key on `__grp`, so groups
    * with no queries cost nothing), and every grid point's beam state
    * co-walks in the SAME Spark jobs over the same adjacency — the
    * `__grp` co-walking trick applied a second time, on the GRID axis
    * (guide §2.4; round-17 verdict item 4: the calibration's (2,4) and
    * (4,8) walks were two full per-hop job chains over identical
    * adjacency). A single walk is the one-point grid `Seq((beam,
    * entries))`. State rows carry a `__gp` tag ("beam:entries") plus
    * the point's `__beam`; every window, dedup and anti-join is scoped
    * by (`__gp`, `__grp`, q_id), so a point's rows do not depend on
    * which other points share the walk (Round18OptSpec pins each point
    * against a reference single walk). Self-matches (vec_id = q_id)
    * always exclude, as in every serving arm's calibration. Returns
    * (top-`finalK` per point and query: `__gp`, `__grp`, q_id, vec_id,
    * cos_r; every scored candidate: `__gp`, `__grp`, `__beam`, q_id,
    * vec_id, cos_r) — the second frame's per-query row count IS the
    * walk's cost in distance evaluations, the unit the cross-arm tuner
    * compares on.
    */
  private[graft] def graphWalkGrid(s: SparkSession, base: DataFrame,
      adj: DataFrame, q: DataFrame, grid: Seq[(Int, Int)], hops: Int,
      finalK: Int = 3): (DataFrame, DataFrame) = {
    CosineSimilarity.ensureRegistered(s)
    def tag(b: Int, e: Int) = s"$b:$e"
    def topN(scored: DataFrame, n: Int): DataFrame = {
      val w = Window.partitionBy(col("__gp"), col("__grp"), col("q_id"))
        .orderBy(col("cos_r").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
        .select(col("__gp"), col("__grp"), col("q_id"), col("vec_id"),
          col("cos_r"))
    }
    val nAgg = base.groupBy(col("__grp")).agg(count(lit(1)).as("n"))
    // queries replicated per grid point, carrying the point's beam so
    // the per-hop cut can filter on a column instead of a constant
    val qAll = grid.map { case (b, e) =>
      q.withColumn("__gp", lit(tag(b, e))).withColumn("__beam", lit(b))
    }.reduce(_.unionByName(_))
    def score(cand: DataFrame): DataFrame =
      cand.join(base, Seq("__grp", "vec_id"))
        .join(broadcast(qAll), Seq("__gp", "__grp", "q_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos_r", round(expr("cosine_sim(q_emb, embedding)"), 6))
        .select(col("__gp"), col("__grp"), col("__beam"), col("q_id"),
          col("vec_id"), col("cos_r"))
    // the literal bound (the widest beam) lets Spark cut each window
    // group before its shuffle (WindowGroupLimit), which a column bound
    // alone does not; the per-point `__beam` cut stays exact
    val maxBeam = grid.map(_._1).max
    def topBeam(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("__gp"), col("__grp"), col("q_id"))
        .orderBy(col("cos_r").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= maxBeam && col("rn") <= col("__beam"))
        .select(col("__gp"), col("__grp"), col("q_id"), col("vec_id"))
    }
    // entry points are part of the INDEX, disjoint from the query set
    // (vec_id < 10): an entry that IS the query gets excluded from
    // scoring, which silently left those queries with no entry in
    // their own neighborhood (measured: recall 0.2 → healthy after).
    // Candidates come from a deterministic HASH PREFILTER (expected
    // ~4·entries ids per group) so the exact smallest-of pick sorts a
    // bounded set — a bare per-group row_number window funneled each
    // regime's whole id column through ONE task, a single-task
    // corpus-sized sort on a path whose pitch is corpus-independence.
    // The prefilter is id-determined (xxhash), so the entry SET is
    // rerun-stable; tiny corpora (n ≲ 4·entries) keep everything. The
    // modulus depends on `entries`, so each grid point computes its own
    // set (one point's set is NOT a prefix of another's).
    val wE = Window.partitionBy(col("__grp")).orderBy(col("vec_id"))
    val entryByGp = grid.map { case (b, e) =>
      base.filter(col("vec_id") >= 10)
        .join(broadcast(nAgg), Seq("__grp"))
        .filter(pmod(xxhash64(col("vec_id")),
          greatest(lit(1L), (col("n") / lit(4L * e)).cast("long"))) === 0L)
        .select(col("__grp"), col("vec_id"))
        .withColumn("rn", row_number().over(wE)).filter(col("rn") <= e)
        .drop("rn")
        .withColumn("__gp", lit(tag(b, e)))
    }.reduce(_.unionByName(_))
    val entry = qAll.select(col("__gp"), col("__grp"), col("q_id"))
      .join(entryByGp, Seq("__gp", "__grp"))
    // the per-hop state is grid·groups·queries·beam·degree rows —
    // single-partition frames, so each hop's checkpoint schedules 1
    // task per stage instead of shuffle.partitions of them (the walk's
    // cost is job/task overhead, not data). coalesce(1), not
    // repartition(1): the round-robin exchange per hop was one more
    // shuffle stage (and AQE job) per checkpoint on frames whose row
    // ORDER nothing depends on — every consumer re-sorts through a
    // window (guide §2.4: remove shuffles outright).
    // Hop fusion (round-18): intermediate states take LAZY local
    // checkpoints; the LAST hop's eager checkpoint materializes the
    // whole chain in one action (so build-vs-serve accounting is
    // unchanged: the walk still fully computes inside whichever step
    // runs it)
    var scored = walkCkpt(score(entry).coalesce(1), eager = hops == 0)
    var beamDf = topBeam(scored)
    (1 to hops).foreach { h =>
      val expand = beamDf.select(col("__gp"), col("__grp"), col("q_id"),
          col("vec_id").as("src"))
        .join(adj, Seq("__grp", "src"))
        .select(col("__gp"), col("__grp"), col("q_id"),
          col("dst").as("vec_id"))
        .distinct()
      val unseen = expand.join(
        scored.select(col("__gp"), col("__grp"), col("q_id"), col("vec_id")),
        Seq("__gp", "__grp", "q_id", "vec_id"), "left_anti")
      val next = scored.unionByName(score(unseen)).coalesce(1)
      scored = walkCkpt(next, eager = h == hops)
      beamDf = topBeam(scored)
    }
    (topN(scored, finalK), scored)
  }

  /** The two calibration regimes as ONE tagged (base, adj) pair,
    * memoized per (session, dir): q210/q215's production walk AND the
    * graph-arm calibration grid (q232) all re-walk this single
    * adjacency — the corpus-sized half of graph ANN is paid once per
    * session, exactly like the served IVF-PQ indexes. One tagged
    * frame, one grouped build: both regimes' adjacency runs in the
    * SAME jobs (the per-regime sequential form paid the whole
    * job-overhead bill twice). The checkpoint also pins the
    * md5-synthesized clustered frame for q210's exact recall arm.
    */
  private[graft] def regimeAdj(s: SparkSession,
      d: String): (DataFrame, DataFrame) =
    served(s, d, "gadj") {
      val tagged = Seq(
        ("clustered",
          synClustered(s, d).select(col("vec_id"), col("embedding"))),
        ("isotropic",
          t(s, d, "embeddings").select(col("vec_id"), col("embedding"))))
        .map { case (regime, f) => f.select(lit(regime).as("__grp"),
          col("vec_id"), col("embedding")) }
        .reduce(_.unionByName(_))
      graphAdjGrouped(s, tagged, degree = 8)
    }

  /** The fixture calibration query set (vec_id < 10) of every regime
    * in `base`, in the walk kernel's (`__grp`, q_id, q_emb) shape.
    */
  private def regimeQueries(base: DataFrame): DataFrame =
    base.filter(col("vec_id") < 10)
      .select(col("__grp"), col("vec_id").as("q_id"),
        col("embedding").as("q_emb"))

  /** Both regimes' graph-search results, memoized per (session, dir) —
    * q210 (recall) and q215 (state export) read the same walks.
    */
  private[graft] def graphBeamRegimes(s: SparkSession,
      d: String): Seq[(String, DataFrame, DataFrame, DataFrame)] =
    served(s, d, "gbeam") {
      val (base, adj) = regimeAdj(s, d)
      // 24 entry points (vs the kernel's default 8): entries are
      // hash-spread, not cluster-aware, so coverage of a corpus's
      // natural clusters is probabilistic — more entries is the
      // single-layer stand-in for HNSW's hierarchy, at one scored row
      // per query each (measured: 8 hash-picked entries covered 6-7 of
      // the 8 synthetic clusters and clustered recall read 0.8; 24
      // restores 1.0)
      val (topk, visited) = graphWalkGrid(s, base, adj,
        regimeQueries(base), Seq((8, 24)), hops = 4)
      Seq("clustered", "isotropic").map { regime =>
        (regime,
          base.filter(col("__grp") === regime).drop("__grp"),
          topk.filter(col("__grp") === regime).drop("__gp", "__grp"),
          visited.filter(col("__grp") === regime)
            .drop("__gp", "__grp", "__beam"))
      }
    }

  /** == Graph-arm calibration + cross-arm ANN auto-tuning (round-17
    * item 8, completing round-16's `annTuned`) ==
    * The IVF-PQ arm calibrates on an nProbe grid (q225); the graph
    * arm's dials are (beam, entries). This measures recall@3 of the
    * beam walk at each grid point against the exact cosine top-3 (the
    * shared `exactAnnTop5` memo) PLUS the walk's measured cost —
    * scored candidates per query, i.e. exact distance evaluations,
    * the unit every published recall-vs-cost ANN curve plots. All
    * grid walks re-use the ONE memoized (base, adj) pair; a grid
    * point costs queries·beam·degree·hops scored rows, never a
    * corpus pass. Both regimes and every grid point co-walk in one
    * `graphWalkGrid` call, so the whole grid is the production walk
    * plus one grid walk.
    */
  val GraphGrid: Seq[(Int, Int)] = Seq((2, 4), (4, 8), (8, 24))

  final case class GraphCal(beam: Int, entries: Int, recall: Double,
      avgVisited: Double)

  private def graphCalibrationAll(s: SparkSession,
      d: String): Map[String, Seq[GraphCal]] =
    served(s, d, "gcal") {
      val (base, adj) = regimeAdj(s, d)
      val q = regimeQueries(base)
      val regimes = Seq("clustered", "isotropic")
      val exact3 = regimes.map { r =>
        r -> exactAnnTop5(s, d, r).filter(_._3 <= 3)
          .map { case (qid, vid, _) => (qid, vid) }.toSet
      }.toMap
      val nQ = exact3.map { case (r, set) =>
        r -> set.map(_._1).size.toDouble }
      // Per ("beam:entries" tag, regime): the top-3 (q_id, vec_id)
      // pairs and the visited count. The (8,24) point IS the production
      // walk q210/q215 serve from — read the graphBeamRegimes memo
      // instead of re-walking (round-17 dedup); ALL remaining grid
      // points co-walk in ONE `graphWalkGrid` job chain (round-18: the
      // former per-point walks paid the full per-hop
      // planning/scheduling bill once per point over identical
      // adjacency). Both run on the caller's thread: two concurrent
      // walks' local checkpoints once deadlocked Spark's checkpoint
      // bookkeeping inside one Verify run.
      val prod = graphBeamRegimes(s, d)
      val (topk, scored) = graphWalkGrid(s, base, adj, q,
        GraphGrid.filterNot(_ == ((8, 24))), hops = 4)
      val got = prod.map { case (regime, _, ptopk, _) =>
        ("8:24", regime) -> ptopk.select(col("q_id"), col("vec_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }.toMap ++ topk
        .select(col("__gp"), col("__grp"), col("q_id"), col("vec_id"))
        .collect()
        .groupBy(r => (r.getString(0), r.getString(1)))
        .map { case (k, rs) =>
          k -> rs.map(r => (r.getLong(2), r.getLong(3))).toSet }
      val visited = prod.map { case (regime, _, _, vis) =>
        ("8:24", regime) -> vis.count()
      }.toMap ++ scored.groupBy(col("__gp"), col("__grp"))
        .agg(count(lit(1)).as("nv")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      regimes.map { regime =>
        val ex = exact3(regime)
        regime -> GraphGrid.map { case (beam, entries) =>
          val key = (s"$beam:$entries", regime)
          val g = got.getOrElse(key, Set.empty[(Long, Long)])
          GraphCal(beam, entries, (g intersect ex).size.toDouble / ex.size,
            visited.getOrElse(key, 0L) / nQ(regime))
        }
      }.toMap
    }

  /** Measured (beam, entries) → (recall@3, distance evals per query)
    * table for one regime — the graph arm's q225.
    */
  def graphCalibration(s: SparkSession, d: String,
      regime: String): Seq[GraphCal] =
    graphCalibrationAll(s, d)(regime)

  /** Cheapest measured grid point meeting the recall target — None
    * when the graph geometry cannot deliver it (the cross-arm tuner
    * then drops the arm instead of serving a config that misses SLO).
    */
  def graphTuned(s: SparkSession, d: String, targetRecall: Double,
      regime: String = "isotropic"): Option[(Int, Int)] =
    graphCalibration(s, d, regime).filter(_.recall >= targetRecall)
      .sortBy(_.avgVisited).headOption.map(c => (c.beam, c.entries))

  /** Measured IVF candidate volume per grid nProbe: the avg (over the
    * calibration query set) of the probed cells' member counts — the
    * rows the ADC stage actually scans per query, the IVF arm's
    * distance-evaluation count. Derived from the SERVED index's own
    * cell assignment + the centroid ranking `IvfPq.search` runs
    * (`IvfPq.probe`, on the driver; cosine is scale-invariant, so the
    * un-normalized queries rank cells identically), so the table
    * prices the real serving path. One query collect + one kCells-row
    * size agg — query-scale, collected once per (session, dir, regime).
    */
  private def ivfProbeCost(s: SparkSession, d: String,
      regime: String): Map[Int, Double] =
    served(s, d, s"ivfcost_$regime") {
      val index = regimeIndex(s, d, regime)
      val qs = regimeCorpus(s, d, regime).filter(col("vec_id") < 10)
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray)
      val sizes = index.cells.groupBy(col("cell"))
        .agg(count(lit(1)).as("cn")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      ProbeGrid.map { p =>
        p -> qs.map(q => graft.ext.IvfPq.probe(index, q, p)
          .map(sizes.getOrElse(_, 0L)).sum).sum / qs.length.toDouble
      }.toMap
    }

  /** One row of the cross-arm tuning table: an arm at one measured
    * grid point. `cost` is candidate rows touched per query —
    * distance evaluations for the exact and graph arms, ADC code
    * scans for the IVF arm (cheaper per row: 8 byte-table lookups vs
    * a 64-float cosine — so the unit slightly OVER-prices IVF; the
    * conservative direction, an IVF pick is never justified by
    * under-counting its work).
    */
  final case class AnnArm(arm: String, p1: Int, p2: Int,
      recall: Double, cost: Double)

  /** The full measured recall-vs-cost table across all three serving
    * arms — IVF-PQ at each nProbe grid point, the graph walk at each
    * (beam, entries) grid point, and the exact corpus scan (recall 1
    * by construction, cost = corpus size) — the curve every ANN
    * deployment plots before picking an operating point, now computed
    * by the engine per regime instead of hand-read off dashboards.
    */
  def annArmTable(s: SparkSession, d: String,
      regime: String): Seq[AnnArm] = {
    val ivfCost = ivfProbeCost(s, d, regime)
    val ivf = annCalibration(s, d, regime).map { case (p, r) =>
      AnnArm("ivfpq", p, 96, r, ivfCost(p)) }
    val graph = graphCalibration(s, d, regime).map(c =>
      AnnArm("graph", c.beam, c.entries, c.recall, c.avgVisited))
    val n = served(s, d, s"corpusn_$regime") {
      java.lang.Long.valueOf(regimeCorpus(s, d, regime).count())
    }.longValue.toDouble
    (ivf ++ graph) :+ AnnArm("exact", 0, 0, 1.0, n)
  }

  /** The cross-arm pick: the cheapest measured operating point (any
    * arm) meeting the recall target. Total — the exact arm qualifies
    * at every target, so the fallback when no approximate point
    * meets SLO is the honest full scan, same as `annTuned`'s
    * exact-probe fallback.
    */
  def annArmAuto(s: SparkSession, d: String, targetRecall: Double,
      regime: String = "isotropic"): AnnArm =
    annArmTable(s, d, regime).filter(_.recall >= targetRecall)
      .minBy(_.cost)

  /** Brute-force cosine top-k of an arbitrary query frame (q_id,
    * q_emb) — q50's kernel over external queries, the exact serving
    * arm the cross-arm tuner falls back to.
    */
  private[graft] def exactTopKOf(s: SparkSession, d: String,
      queries: DataFrame, topK: Int,
      excludeSelf: Boolean = true): DataFrame = {
    CosineSimilarity.ensureRegistered(s)
    val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val pairs = e.join(broadcast(queries),
      if (excludeSelf) col("q_id") =!= col("vec_id") else lit(true))
      .withColumn("cos_r", round(expr("cosine_sim(q_emb, embedding)"), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= topK)
      .select(col("q_id"), col("vec_id"), col("cos_r"), col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** Recall-targeted serving across ALL arms: serve `queries` from
    * whichever measured operating point `annArmAuto` picked on the
    * isotropic (fixture-corpus) calibration. The graph arm walks the
    * session's shared adjacency with the caller's queries (self-ids
    * always excluded — the walk's scorer drops vec_id = q_id);
    * output schema matches `annTopK`: (q_id, vec_id, cos_r, rn).
    */
  def annTopKArm(s: SparkSession, d: String, queries: DataFrame,
      topK: Int, targetRecall: Double,
      excludeSelf: Boolean = true): DataFrame = {
    val pick = annArmAuto(s, d, targetRecall, "isotropic")
    pick.arm match {
      case "ivfpq" =>
        annTopK(s, d, queries, topK, pick.p1, pick.p2, excludeSelf)
      case "exact" =>
        exactTopKOf(s, d, queries, topK, excludeSelf)
      case _ =>
        val (base, adj) = regimeAdj(s, d)
        val qg = queries.select(lit("isotropic").as("__grp"),
          col("q_id"), col("q_emb"))
        val (topk, _) = graphWalkGrid(s, base, adj, qg,
          Seq((pick.p1, pick.p2)), hops = 4, finalK = topK)
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_r").desc, col("vec_id"))
        topk.drop("__gp", "__grp")
          .withColumn("rn", row_number().over(w))
          .select(col("q_id"), col("vec_id"), col("cos_r"), col("rn"))
          .orderBy(col("q_id"), col("rn"))
    }
  }

  /** Bench build step for the cross-arm table: both regimes' graph
    * grid walks + IVF probe-cost tables (their prerequisites —
    * adjacency, indexes, nProbe calibration — are the ann_indexes /
    * ann_calibration / graph_adj steps' bills), so q232's row prices
    * reading the measured table + the pick, not building it.
    */
  def warmAnnArms(s: SparkSession, d: String): Unit =
    // sequential: the first table builds the graph grid memo, whose
    // walks take local checkpoints — a probe-cost job running beside
    // them is the pattern that deadlocked Spark's checkpoint bookkeeping
    Seq("isotropic", "clustered").foreach(annArmTable(s, d, _))

  /** q187's body over ANY (vec_id, embedding) frame — incremental
    * kNN-graph maintenance shared by the registered query and
    * `GraftEngine.incrementalKnn` (the funnelVerdict sharing rule):
    * `isIncrement` marks the newly-landed vectors; only the neighbor
    * lists of vectors sharing an LSH bucket with an increment vector
    * recompute (a bucket left-semi prune — at 100 TB, partition
    * pruning before any file opens), against the full corpus within
    * those buckets. The bucketer derives from the FULL corpus size and
    * is pinned across the refresh, as in production.
    */
  private[graft] def incrementalKnnOf(s: SparkSession, e0: DataFrame,
      isIncrement: Column): DataFrame =
    incrementalKnnFrom(s, e0, _.filter(isIncrement))

  /** Increment identified by a (vec_id) frame instead of a predicate —
    * the shape a streaming micro-batch supplies (no driver-side id
    * collection; the mark is a left-semi join).
    */
  private[graft] def incrementalKnnIds(s: SparkSession, e0: DataFrame,
      incrementIds: DataFrame): DataFrame =
    incrementalKnnFrom(s, e0,
      _.join(incrementIds.select(col("vec_id")), Seq("vec_id"), "left_semi"))

  private def incrementalKnnFrom(s: SparkSession, e0: DataFrame,
      pickIncrement: DataFrame => DataFrame): DataFrame = {
    CosineSimilarity.ensureRegistered(s)
    val e = withBucket(e0.select(col("vec_id"), col("embedding")))
    val affected = pickIncrement(e).select(col("bucket")).distinct()
    val members = e.join(affected, Seq("bucket"), "left_semi")
    val l = members.select(col("bucket"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"))
    val r = e.select(col("bucket"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"))
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cos_r").desc, col("b_id"))
    l.join(r, Seq("bucket")).filter(col("a_id") =!= col("b_id"))
      .withColumn("cos_r", round(expr("cosine_sim(a_emb, b_emb)"), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("a_id"), col("b_id"), col("cos_r"), col("rn"))
      .orderBy(col("a_id"), col("rn"))
  }

  /** q184's body over (vec_id, label) + a prebuilt kNN edge list:
    * per-label neighbor-vote agreement rollup.
    */
  private[graft] def knnLabelAuditOf(lbl: DataFrame, k: DataFrame): DataFrame = {
    val nb = k
      .join(lbl.select(col("vec_id").as("b_id"), col("label").as("b_label")),
        Seq("b_id"))
      .select(col("a_id"), col("b_label"))
    val pv = lbl.join(nb, lbl("vec_id") === nb("a_id"), "left")
      .groupBy(col("vec_id"), col("label"))
      .agg(count(col("b_label")).as("n_nbrs"),
        sum(when(col("b_label") === col("label"), 1L).otherwise(0L)).as("n_match"))
    pv.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("n_nbrs") === 0, 1L).otherwise(0L)).as("n_isolated"),
        sum(when(col("n_nbrs") > 0 && col("n_match") === 0, 1L).otherwise(0L))
          .as("n_suspect"),
        round(sum(col("n_match")) / nullif(sum(col("n_nbrs")), lit(0L)), 6)
          .as("match_rate"))
      .orderBy(col("label"))
  }

  /** Explicit bench setup for the shared 3-NN graph — the named build
    * step that keeps the graph's one-time cost out of whichever of
    * q183/q184 happens to run first (the warmPairKernel accounting
    * rule).
    */
  def warmKnnGraph(s: SparkSession, d: String): Unit =
    knnGraph(s, d).write.format("noop").mode("overwrite").save()

  /** Explicit bench setup for the graph-ANN walks (round-15 item 4):
    * both regimes' corpus synthesis, adjacency builds and beam walks
    * memoize per (session, dir) — the one shared artifact q210 (recall
    * calibration) and q215 (state export) both serve from, and the
    * most expensive build in the registry. Named `graph_adj` under the
    * bench accounting rule (the warmPairKernel pattern), so q210's row
    * prices the exact recall arms + calibration comparison only — the
    * serving cost, not two regimes' graph construction.
    */
  def warmGraphWalks(s: SparkSession, d: String): Unit = {
    graphBeamRegimes(s, d); ()
  }

  /** DuckDB twin of `knnGraph` as a CTE chain ending in
    * k(a_id, b_id, cos_r) — the top-3 in-bucket neighbor list.
    */
  private val knnCteSql: String =
    s"$bucketCteSql, " +
      "p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
      "round(list_inner_product(a.emb, b.emb)/" +
      "(sqrt(list_inner_product(a.emb, a.emb))*sqrt(list_inner_product(b.emb, b.emb))), 6) AS cos_r " +
      "FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id), " +
      "r AS (SELECT a_id, b_id, cos_r, " +
      "row_number() OVER (PARTITION BY a_id ORDER BY cos_r DESC, b_id) AS rn FROM p), " +
      "k AS (SELECT a_id, b_id, cos_r FROM r WHERE rn <= 3)"

  /** q187's DuckDB twin — also q219's: the CDC-driven refresh reads
    * the identical increment cohort from the log's delta segment, so
    * the refreshed lists must reproduce this oracle bit-for-bit.
    */
  private val incrementalKnnOracle: String =
    s"WITH $bucketCteSql, " +
      "aff AS (SELECT DISTINCT bucket FROM e WHERE " +
      "CAST((instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)),1,1))-1)*4096 " +
      "+ (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)),2,1))-1)*256 " +
      "+ (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)),3,1))-1)*16 " +
      "+ (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)),4,1))-1) " +
      "AS BIGINT) % 10 = 0), " +
      "m AS (SELECT e.* FROM e JOIN aff USING (bucket)), " +
      "p AS (SELECT m.vec_id AS a_id, b.vec_id AS b_id, " +
      "round(list_inner_product(m.emb, b.emb)/" +
      "(sqrt(list_inner_product(m.emb, m.emb))*sqrt(list_inner_product(b.emb, b.emb))), 6) AS cos_r " +
      "FROM m JOIN e b ON m.bucket = b.bucket AND m.vec_id <> b.vec_id), " +
      "r AS (SELECT a_id, b_id, cos_r, " +
      "CAST(row_number() OVER (PARTITION BY a_id ORDER BY cos_r DESC, b_id) AS INTEGER) AS rn FROM p) " +
      "SELECT a_id, b_id, cos_r, rn FROM r WHERE rn <= 3 " +
      "ORDER BY a_id, rn"

  /** q50's DuckDB twin — also the oracle for q139, whose full-probe
    * IVF-PQ search must reproduce the brute-force answer bit-for-bit.
    */
  private val exactTopkSql: String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
      "q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10), " +
      "p AS (SELECT q_id, e.vec_id, round(list_inner_product(q_emb, emb)/" +
      "(sqrt(list_inner_product(q_emb, q_emb))*sqrt(list_inner_product(emb, emb))), 6) AS cos_r " +
      "FROM q JOIN e ON e.vec_id <> q.q_id), " +
      "r AS (SELECT q_id, vec_id, cos_r, " +
      "CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) AS INTEGER) AS rn FROM p) " +
      "SELECT q_id, vec_id, cos_r, rn FROM r WHERE rn <= 5 ORDER BY q_id, rn"

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q50_cosine_topk",
      "Brute-force cosine top-5 for a small query set (vec_id < 10) against the full corpus: broadcast the queries, one pass over the corpus, per-query top-k via row_number window. The exact-ANN baseline.",
      (s, d) => {
        CosineSimilarity.ensureRegistered(s)
        val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val pairs = e.join(broadcast(q), col("q_id") =!= col("vec_id"))
          .withColumn("cos_r", round(expr("cosine_sim(q_emb, embedding)"), 6))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_r").desc, col("vec_id"))
        pairs.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("vec_id"), col("cos_r"), col("rn"))
          .orderBy(col("q_id"), col("rn"))
      },
      Some(exactTopkSql)),

    GraftQuery(
      "q51_ann_lsh_topk",
      "Bucketed ANN: sign-signature LSH whose bit width GROWS with the corpus (bits = smallest b in [8,24] with n <= 32*2^b, n a broadcast 1-row agg in the plan), then per-vector top-3 neighbors within the bucket. Expected bucket size stays ~<=32, so the candidate join is ~32n comparisons — linear in corpus size, and buckets shard naturally across executors.",
      (s, d) => {
        CosineSimilarity.ensureRegistered(s)
        val e = withBucket(t(s, d, "embeddings").select(col("vec_id"), col("embedding")))
        val l = e.select(col("bucket"), col("vec_id").as("a_id"), col("embedding").as("a_emb"))
        val r = e.select(col("bucket"), col("vec_id").as("b_id"), col("embedding").as("b_emb"))
        val pairs = l.join(r, Seq("bucket")).filter(col("a_id") =!= col("b_id"))
          .withColumn("cos_r", round(expr("cosine_sim(a_emb, b_emb)"), 6))
        val w = Window.partitionBy(col("a_id"))
          .orderBy(col("cos_r").desc, col("b_id"))
        pairs.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("a_id"), col("b_id"), col("cos_r"), col("rn"))
          .orderBy(col("a_id"), col("rn"))
      },
      Some(s"WITH $bucketCteSql, " +
        "p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        "round(list_inner_product(a.emb, b.emb)/" +
        "(sqrt(list_inner_product(a.emb, a.emb))*sqrt(list_inner_product(b.emb, b.emb))), 6) AS cos_r " +
        "FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id), " +
        "r AS (SELECT a_id, b_id, cos_r, " +
        "CAST(row_number() OVER (PARTITION BY a_id ORDER BY cos_r DESC, b_id) AS INTEGER) AS rn FROM p) " +
        "SELECT a_id, b_id, cos_r, rn FROM r WHERE rn <= 3 ORDER BY a_id, rn")),

    GraftQuery(
      "q54_embedding_neardup",
      "Embedding-cosine near-duplicate pairs: adaptive sign-bucket LSH candidates (same corpus-scaled blocking as q51), keep unordered pairs above a similarity floor — the semantic-dedup step of an embedding-indexed corpus. No all-pairs join at any scale; candidate volume stays ~32n.",
      (s, d) => {
        CosineSimilarity.ensureRegistered(s)
        val e = withBucket(t(s, d, "embeddings").select(col("vec_id"), col("embedding")))
        val l = e.select(col("bucket"), col("vec_id").as("da"), col("embedding").as("a_emb"))
        val r = e.select(col("bucket"), col("vec_id").as("db"), col("embedding").as("b_emb"))
        l.join(r, Seq("bucket")).filter(col("da") < col("db"))
          .withColumn("cos_r", round(expr("cosine_sim(a_emb, b_emb)"), 6))
          .filter(col("cos_r") >= 0.3)
          .select(col("da"), col("db"), col("cos_r"))
          .orderBy(col("da"), col("db"))
      },
      Some(s"WITH $bucketCteSql " +
        "SELECT a.vec_id AS da, b.vec_id AS db, " +
        "round(list_inner_product(a.emb, b.emb)/" +
        "(sqrt(list_inner_product(a.emb, a.emb))*sqrt(list_inner_product(b.emb, b.emb))), 6) AS cos_r " +
        "FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id " +
        "WHERE round(list_inner_product(a.emb, b.emb)/" +
        "(sqrt(list_inner_product(a.emb, a.emb))*sqrt(list_inner_product(b.emb, b.emb))), 6) >= 0.3 " +
        "ORDER BY da, db")),

    GraftQuery(
      "q147_ann_recall",
      "Measured recall@3 of the two SINGLE-PROBE ANN arms against the exact answer — the calibration table every ANN deployment reads before trading accuracy for speed: for each query vector (vec_id < 10), the exact cosine top-3 (q50's kernel) is compared against (a) the top-3 among SAME-SIGN-BUCKET candidates (q51's LSH arm) and (b) the top-3 among SAME-IVF-CELL candidates (q52's nearest-centroid routing arm), recall = |exact ∩ candidates| / 3 per (method, query). Both rankings round cosine to 6dp and tiebreak on vec_id, so rank boundaries are deterministic on both engines — recall is an exact integer count, not a float estimate. The honest measured result on this deliberately ISOTROPIC fixture is that BOTH single-probe arms recall poorly — which is precisely the number that justifies q133's production design (nProbe=12-of-16 multi-probe + exact re-rank, recall>=0.9 pinned in IvfPqSpec): this query puts that engineering decision on a dashboard instead of in a doc comment. Scale shape: the query set broadcasts to all three arms; the exact arm is ONE corpus pass (the price of calibration, amortized over recalibrations on a sampled query set), the LSH/IVF arms prune to the queries' buckets/cells; nothing is all-pairs.",
      (s, d) => {
        CosineSimilarity.ensureRegistered(s)
        val e0 = t(s, d, "embeddings")
        val e = withBucket(e0.select(col("vec_id"), col("embedding")))
          .join(labelCellAssign(e0)
            .select(col("vec_id"), col("assigned").as("cell")), Seq("vec_id"))
        annRecallOver(s, d, "isotropic", e)
      },
      Some {
        val cos = "round(list_inner_product(q_emb, emb)/" +
          "(sqrt(list_inner_product(q_emb, q_emb))*sqrt(list_inner_product(emb, emb))), 6)"
        s"WITH $bucketCteSql, $assignCteSql, " +
          "ee AS (SELECT e.vec_id, emb, bucket, cell FROM e JOIN asg ON e.vec_id = asg.vec_id), " +
          "q AS (SELECT vec_id AS q_id, emb AS q_emb, bucket AS q_bucket, cell AS q_cell " +
          "FROM ee WHERE vec_id < 10), " +
          s"exp AS (SELECT q_id, ee.vec_id, $cos AS cos_r FROM q JOIN ee ON ee.vec_id <> q.q_id), " +
          "ex AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id, " +
          "row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) AS rn " +
          "FROM exp) WHERE rn <= 3), " +
          s"lsp AS (SELECT q_id, ee.vec_id, $cos AS cos_r FROM q JOIN ee " +
          "ON ee.bucket = q.q_bucket AND ee.vec_id <> q.q_id), " +
          "ls AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id, " +
          "row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) AS rn " +
          "FROM lsp) WHERE rn <= 3), " +
          s"ivp AS (SELECT q_id, ee.vec_id, $cos AS cos_r FROM q JOIN ee " +
          "ON ee.cell = q.q_cell AND ee.vec_id <> q.q_id), " +
          "iv AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id, " +
          "row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) AS rn " +
          "FROM ivp) WHERE rn <= 3), " +
          "u AS (SELECT 'lsh_bucket' AS method, ex.q_id, " +
          "CASE WHEN ls.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit " +
          "FROM ex LEFT JOIN ls ON ex.q_id = ls.q_id AND ex.vec_id = ls.vec_id " +
          "UNION ALL SELECT 'ivf_cell' AS method, ex.q_id, " +
          "CASE WHEN iv.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit " +
          "FROM ex LEFT JOIN iv ON ex.q_id = iv.q_id AND ex.vec_id = iv.vec_id) " +
          "SELECT method, q_id, CAST(sum(hit) AS BIGINT) AS n_hit, " +
          "round(sum(hit)*1.0/count(*), 6) AS recall " +
          "FROM u GROUP BY method, q_id ORDER BY method, q_id"
      }),

    GraftQuery(
      "q149_cell_silhouette",
      "Simplified-silhouette audit of the IVF cell layout (the centroid-distance silhouette of Hruschka et al. — the O(n·k) variant production clustering evaluates instead of the O(n²) pairwise original): for each vector, a = distance to its ASSIGNED cell centroid, b = distance to the nearest OTHER centroid, s = (b−a)/max(a,b) ∈ [−1,1]; rolled up per cell. This is the health check behind every IVF/SemDeDup decision the engine serves (q52 routing, q140's cells, q79/q133 probes): cells with low avg silhouette have blurry boundaries — their vectors sit near a competing centroid, exactly where nProbe=1 recall collapses and where SemDeDup's within-cell blocking leaks cross-cell near-dups. Reuses labelCellDist's (vec_id × centroid) distance table: a and b fall out of ONE row_number window over it (rank 1 = assigned, min of the rest = runner-up), so the audit costs one window + one ~k-row rollup beyond what q52 already computes. Distances round to 6dp before sqrt (identical IEEE doubles on both engines), the ratio rounds to 6dp. At 100 TB: k centroids broadcast, the distance table shuffles (vec_id, cell) keys — linear in corpus × k, never pairwise.",
      (s, d) => {
        val dist = labelCellDist(t(s, d, "embeddings"))
        val w = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("c_label"))
        val r = dist.withColumn("dd", sqrt(col("d2")))
          .withColumn("rn", row_number().over(w))
        val ab = r.groupBy(col("vec_id"))
          .agg(max(when(col("rn") === 1, col("dd"))).as("a"),
            min(when(col("rn") > 1, col("dd"))).as("b"),
            max(when(col("rn") === 1, col("c_label"))).as("cell"))
        val sil = ab.withColumn("s",
          round(when(greatest(col("a"), col("b")) === 0, lit(0.0))
            .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))), 6))
        sil.groupBy(col("cell"))
          .agg(count(lit(1)).as("n_vecs"),
            round(avg(col("s")), 6).as("avg_sil"),
            min(col("s")).as("min_sil"),
            max(col("s")).as("max_sil"))
          .orderBy(col("cell"))
      },
      Some(s"WITH $assignCteSql, " +
        "rr2 AS (SELECT vec_id, c_label, sqrt(d2) AS dd, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn FROM dist), " +
        "ab AS (SELECT vec_id, max(CASE WHEN rn = 1 THEN dd END) AS a, " +
        "min(CASE WHEN rn > 1 THEN dd END) AS b, " +
        "max(CASE WHEN rn = 1 THEN c_label END) AS cell FROM rr2 GROUP BY vec_id), " +
        "sil AS (SELECT cell, round(CASE WHEN greatest(a, b) = 0 THEN 0.0 " +
        "ELSE (b - a)/greatest(a, b) END, 6) AS s FROM ab) " +
        "SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs, " +
        "round(avg(s), 6) AS avg_sil, min(s) AS min_sil, max(s) AS max_sil " +
        "FROM sil GROUP BY cell ORDER BY cell")),

    GraftQuery(
      "q157_ann_ndcg",
      "nDCG@10 of the exact dense ranking, relevance = label match — the graded-ranking quality metric (beside q147's flat recall) every retrieval deployment reports: for each query vector (vec_id < 10), the corpus ranks by 6dp-rounded cosine (the q50 kernel, self excluded), top-10 kept, rel(d) = 1 iff label(d) = label(q); DCG discounts by log2(rank+1); the IDEAL DCG uses the query's true relevant-set size (same-label corpus count minus self, from a broadcast label rollup) capped at the cutoff, so a query with only 3 relevant docs is not punished for 7 unfillable slots. Each 1/log2 term rounds at 6dp before summing (the shared ln/log2-ulp rule) and ranks are exact integers, so ndcg hashes bit-stable. The honest number on this isotropic fixture is near-zero — the same calibration story q147 tells for recall, now in the graded metric a dashboard actually plots. Scale: one broadcast-query corpus pass + a 10-key window for the ranking, a label-key rollup for the relevant-set sizes, and a 10-row grid join for IDCG — nothing beyond the q50 shapes.",
      (s, d) => {
        CosineSimilarity.ensureRegistered(s)
        val e = t(s, d, "embeddings").select(col("vec_id"), col("label"), col("embedding"))
        val labelN = e.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"),
            col("embedding").as("q_emb"))
        val top = e.join(broadcast(q), col("q_id") =!= col("vec_id"))
          .withColumn("cos_r", round(expr("cosine_sim(q_emb, embedding)"), 6))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("vec_id"))))
          .filter(col("rn") <= 10)
        val dcg = top
          .withColumn("rel", when(col("label") === col("q_label"), 1.0).otherwise(0.0))
          .groupBy(col("q_id"), col("q_label"))
          .agg(round(sum(round(col("rel") / log2(col("rn") + 1), 6)), 6).as("dcg"))
        val withR = dcg.join(broadcast(
            labelN.select(col("label").as("q_label"), col("n_label"))), Seq("q_label"))
          .withColumn("n_rel", (col("n_label") - 1).cast("long"))
        val grid = s.range(1, 11).select(col("id").as("i"))
        // LEFT join: a query whose label is unique in the corpus
        // (n_rel = 0) matches no grid row — it must still appear, with
        // idcg = 0 and ndcg = 0, not silently vanish from the report
        withR.join(broadcast(grid), col("i") <= least(lit(10L), col("n_rel")), "left")
          .groupBy(col("q_id"), col("q_label"), col("dcg"), col("n_rel"))
          .agg(coalesce(round(sum(round(lit(1.0) / log2(col("i") + 1), 6)), 6),
            lit(0.0)).as("idcg"))
          .select(col("q_id"), col("q_label").as("label"), col("n_rel"),
            col("dcg"), col("idcg"),
            round(when(col("idcg") > 0, col("dcg") / col("idcg"))
              .otherwise(lit(0.0)), 6).as("ndcg"))
          .orderBy(col("q_id"))
      },
      Some("WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), " +
        "lc AS (SELECT label, count(*) AS n_label FROM e GROUP BY label), " +
        "q AS (SELECT vec_id AS q_id, label AS q_label, emb AS q_emb FROM e WHERE vec_id < 10), " +
        "p AS (SELECT q_id, q_label, e.vec_id, e.label, " +
        "round(list_inner_product(q_emb, emb)/" +
        "(sqrt(list_inner_product(q_emb, q_emb))*sqrt(list_inner_product(emb, emb))), 6) AS cos_r " +
        "FROM q JOIN e ON e.vec_id <> q.q_id), " +
        "r AS (SELECT q_id, q_label, label, " +
        "CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) AS INTEGER) AS rn FROM p), " +
        "t AS (SELECT * FROM r WHERE rn <= 10), " +
        "dcg AS (SELECT q_id, q_label, round(sum(round(" +
        "(CASE WHEN label = q_label THEN 1.0 ELSE 0.0 END) / log2(rn + 1), 6)), 6) AS dcg " +
        "FROM t GROUP BY q_id, q_label), " +
        "wr AS (SELECT q_id, q_label, dcg, CAST(n_label - 1 AS BIGINT) AS n_rel " +
        "FROM dcg JOIN lc ON lc.label = dcg.q_label), " +
        "g AS (SELECT i FROM range(1, 11) t(i)), " +
        // LEFT JOIN + coalesce mirror the Spark side: an n_rel = 0
        // query emits idcg = 0 / ndcg = 0 instead of vanishing
        "idcg AS (SELECT q_id, q_label, dcg, n_rel, " +
        "coalesce(round(sum(round(1.0/log2(i + 1), 6)), 6), 0.0) AS idcg " +
        "FROM wr LEFT JOIN g ON g.i <= least(10, n_rel) GROUP BY q_id, q_label, dcg, n_rel) " +
        "SELECT q_id, q_label AS label, n_rel, dcg, idcg, " +
        "round(CASE WHEN idcg > 0 THEN dcg/idcg ELSE 0.0 END, 6) AS ndcg " +
        "FROM idcg ORDER BY q_id")),

    GraftQuery(
      "q155_rand_projection",
      "Johnson-Lindenstrauss random projection 64->16 with a measured distortion audit — the dimensionality-reduction step an embedding pipeline applies before a cheaper ANN tier or a visual index. The projection matrix is 1024 Rademacher +-1 entries derived from md5('rp_<i>_<j>') parity (seeded, engine-portable, never materialized off-plan: built from one range(1024)), broadcast against the posexploded corpus; each projected coordinate is sum(v*sgn)/sqrt(16), 6dp-rounded BEFORE any distance math so both engines square identical values. The audit half takes the vec_id<25 sample and compares pairwise squared L2 before vs after (ratio ~1 +- eps is the JL guarantee); distances on both sides run through the same exploded equi-join-on-dim shape, 6dp-rounded per the q74 summation rule. Scale shape: the PROJECTION is the production path — a broadcast 1024-row matrix, one explode pass, a (vec_id, j) groupBy with map-side combine, output 4x smaller than the input; linear at 100 TB. The all-pairs audit runs only on the fixed 25-vector sample (300 pairs), the price of calibration, never on the corpus.",
      (s, d) => {
        val mat = s.range(1024).select(
          (col("id") / 16).cast("long").as("i"),
          pmod(col("id"), lit(16L)).as("j"))
          .withColumn("sgn",
            when(conv(substring(md5(concat(lit("rp_"), col("i"), lit("_"), col("j"))),
              1, 1), 16, 10).cast("int") < 8, 1.0).otherwise(-1.0))
        val dims = t(s, d, "embeddings").filter(col("vec_id") < 25)
          .select(col("vec_id"), posexplode(asDouble(col("embedding"))).as(Seq("i", "v")))
        val proj = dims.join(broadcast(mat), Seq("i"))
          .groupBy(col("vec_id"), col("j"))
          .agg(round(sum(col("v") * col("sgn")) * 0.25, 6).as("pv"))
        val pa = proj.select(col("vec_id").as("id_a"), col("j"), col("pv").as("va"))
        val pb = proj.select(col("vec_id").as("id_b"), col("j"), col("pv").as("vb"))
        val d2p = pa.join(pb, Seq("j")).filter(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(round(sum((col("va") - col("vb")) * (col("va") - col("vb"))), 6).as("d2_proj"))
        val oa = dims.select(col("vec_id").as("id_a"), col("i"), col("v").as("va"))
        val ob = dims.select(col("vec_id").as("id_b"), col("i"), col("v").as("vb"))
        val d2o = oa.join(ob, Seq("i")).filter(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(round(sum((col("va") - col("vb")) * (col("va") - col("vb"))), 6).as("d2_orig"))
        d2o.join(d2p, Seq("id_a", "id_b"))
          .filter(col("d2_orig") > 0)
          .select(col("id_a"), col("id_b"), col("d2_orig"), col("d2_proj"),
            round(col("d2_proj") / col("d2_orig"), 6).as("ratio"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("WITH mat AS (SELECT t.k // 16 AS i, t.k % 16 AS j, " +
        "CASE WHEN (instr('0123456789abcdef', " +
        "substr(md5('rp_' || (t.k // 16) || '_' || (t.k % 16)), 1, 1)) - 1) < 8 " +
        "THEN 1.0 ELSE -1.0 END AS sgn FROM range(0, 1024) t(k)), " +
        "dims AS (SELECT vec_id, x.i - 1 AS i, CAST(embedding[x.i] AS DOUBLE) AS v " +
        "FROM embeddings, UNNEST(range(1, 65)) x(i) WHERE vec_id < 25), " +
        "proj AS (SELECT vec_id, j, round(sum(v * sgn) * 0.25, 6) AS pv " +
        "FROM dims JOIN mat USING (i) GROUP BY vec_id, j), " +
        "d2p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "round(sum((a.pv - b.pv) * (a.pv - b.pv)), 6) AS d2_proj " +
        "FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id GROUP BY 1, 2), " +
        "d2o AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "round(sum((a.v - b.v) * (a.v - b.v)), 6) AS d2_orig " +
        "FROM dims a JOIN dims b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, d2_orig, d2_proj, round(d2_proj / d2_orig, 6) AS ratio " +
        "FROM d2o JOIN d2p USING (id_a, id_b) WHERE d2_orig > 0 " +
        "ORDER BY id_a, id_b")),

    GraftQuery(
      "q150_dim_variance",
      "Embedding variance spectrum — per-dimension mean/variance across the corpus, ranked by variance with the cumulative share of total variance: the diagnostic read before EVERY quantization decision this engine serves (how many PQ sub-space bits the corpus can actually use, which dims q99's scalar quantizer should keep, how many sign-LSH bits carry signal — the 24-bit cap in q51's bucketing is exactly a claim about this table). A flat spectrum says the embedding is isotropic (PQ codebooks get equal work; this fixture); a cliff says train the codebooks on the head dims and truncate the tail. One exploded pass → a 64-row moment table (count/mean/E[x²] per dim, 6dp-rounded before the variance subtraction so both engines agree exactly); the ranking window runs over those 64 ROWS ONLY (the q89 offset-table posture — O(dims), never corpus-scale), with the total-variance broadcast as a 1-row agg. At 100 TB: the moment pass is map-side-combined on 64 keys; everything after is constant-size.",
      (s, d) => {
        val dims = t(s, d, "embeddings")
          .select(posexplode(asDouble(col("embedding"))).as(Seq("i", "v")))
        val st = dims.groupBy(col("i"))
          .agg(round(avg(col("v")), 6).as("mu"),
            round(avg(col("v") * col("v")), 6).as("m2"))
          .withColumn("variance", round(col("m2") - col("mu") * col("mu"), 6))
        val total = st.agg(sum(col("variance")).as("total"))
        val w = Window.orderBy(col("variance").desc, col("i"))
        st.crossJoin(broadcast(total))
          .withColumn("vrank", row_number().over(w))
          .withColumn("cum", sum(col("variance")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("vrank"), col("i").as("dim"), col("mu"), col("variance"),
            round(col("cum") / col("total"), 6).as("cum_share"))
          .orderBy(col("vrank"))
      },
      Some("WITH dims AS (SELECT i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS v " +
        "FROM embeddings, UNNEST(range(1, 65)) t(i)), " +
        "st AS (SELECT i, round(avg(v), 6) AS mu, round(avg(v*v), 6) AS m2 " +
        "FROM dims GROUP BY i), " +
        "vv AS (SELECT i, mu, round(m2 - mu*mu, 6) AS variance FROM st), " +
        "tt AS (SELECT sum(variance) AS total FROM vv), " +
        "r AS (SELECT i, mu, variance, " +
        "CAST(row_number() OVER (ORDER BY variance DESC, i) AS INTEGER) AS vrank, " +
        "sum(variance) OVER (ORDER BY variance DESC, i ROWS UNBOUNDED PRECEDING) AS cum " +
        "FROM vv) " +
        "SELECT vrank, i AS dim, mu, variance, round(cum/total, 6) AS cum_share " +
        "FROM r, tt ORDER BY vrank")),

    GraftQuery(
      "q52_ivf_assign",
      "IVF building block: per-label centroids (rounded to 6dp to pin FP), then nearest-centroid assignment by squared L2 — the routing step of an IVF index. Centroid table is tiny and broadcasts.",
      (s, d) => {
        val e = t(s, d, "embeddings")
        labelCellAssign(e)
          .select(col("vec_id"), col("label"), col("assigned"),
            (col("label") === col("assigned")).as("hit"))
          .orderBy(col("vec_id"))
      },
      Some("WITH dims AS (SELECT vec_id, label, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS v " +
        "FROM embeddings, UNNEST(range(1, 65)) t(i)), " +
        "cent AS (SELECT label AS c_label, i, round(avg(v), 6) AS c FROM dims GROUP BY c_label, i), " +
        "dist AS (SELECT vec_id, label, c_label, round(sum((v - c)*(v - c)), 6) AS d2 " +
        "FROM dims JOIN cent USING (i) GROUP BY vec_id, label, c_label), " +
        "r AS (SELECT vec_id, label, c_label, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn FROM dist) " +
        "SELECT vec_id, label, c_label AS assigned, label = c_label AS hit " +
        "FROM r WHERE rn = 1 ORDER BY vec_id")),

    GraftQuery(
      "q53_multimodal_meta",
      "Multimodal plumbing: treat content as an opaque binary column with typed metadata. 'Decode' is a deterministic stand-in (real image/audio codecs aren't in this container — SURVEY north star); the Spark-side schema, byte handling, and derived-metadata path are real.",
      (s, d) => {
        val blob = encode(col("text"), "UTF-8")
        t(s, d, "documents")
          .withColumn("hv", conv(substring(md5(col("text")), 1, 6), 16, 10).cast("long"))
          .select(col("doc_id"),
            length(blob).as("n_bytes"),
            (col("hv") % 1280).cast("int").as("fake_width"),
            expr("cast((hv div 1280) % 720 as int)").as("fake_height"))
          .orderBy(col("doc_id"))
      },
      Some("WITH h AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes, " +
        "((instr('0123456789abcdef', substr(md5(text),1,1))-1)*1048576 + " +
        "(instr('0123456789abcdef', substr(md5(text),2,1))-1)*65536 + " +
        "(instr('0123456789abcdef', substr(md5(text),3,1))-1)*4096 + " +
        "(instr('0123456789abcdef', substr(md5(text),4,1))-1)*256 + " +
        "(instr('0123456789abcdef', substr(md5(text),5,1))-1)*16 + " +
        "(instr('0123456789abcdef', substr(md5(text),6,1))-1)) AS hv FROM documents) " +
        "SELECT doc_id, CAST(n_bytes AS INTEGER) AS n_bytes, " +
        "CAST(hv % 1280 AS INTEGER) AS fake_width, " +
        "CAST((hv // 1280) % 720 AS INTEGER) AS fake_height FROM h ORDER BY doc_id")),

    GraftQuery(
      "q79_ivf_topk",
      "Trained-IVF ANN serving query (ext.AnnIndex): 16 seeded k-means centroids (k-means++ then Lloyd, trained on the driver from a sample of at most 256 vectors per centroid) partition the corpus into cells; each query (vec_id < 10) probes only its nProbe most-similar cells and ranks candidates exactly. The 100 TB ANN path: centroids broadcast, a probe touches ~nProbe/k of the corpus, and cell-partitioned persistence prunes files. No SQL oracle — k-means cell boundaries aren't SQL-expressible — so the driver records rows-only; AnnIndexSpec pins exact-equivalence at full probe and a recall floor vs the q50 brute-force baseline (recall@5 at nProbe=8 observed 0.80 at sf0.001, 0.78 at sf0.01).",
      (s, d) => {
        val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val index = served(s, d, "ivf") { graft.ext.AnnIndex.build(s, e, k = 16) }
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        graft.ext.AnnIndex.search(index, q, topK = 5, nProbe = 8)
          .orderBy(col("q_id"), col("rn"))
      },
      None),

    GraftQuery(
      "q109_pq_topk",
      "Product-quantization ANN serving query (ext.PqIndex): 8 seeded per-subspace k-means codebooks of exactly 16 centroids each (trained on the driver from one bounded sample) compress each 64-d float vector to 8 one-byte codes (32×); the candidate scan ranks by asymmetric distance — one broadcast m×k lookup table per query over CODES (8 B/vector, never raw vectors) — and only the ADC shortlist (25/query) fetches raw embeddings for exact re-ranking, the standard production PQ pipeline. This is the memory-bandwidth answer at 100 TB (and composes with q79's IVF cells as standard IVF-PQ). No SQL oracle — k-means codebooks aren't SQL-expressible — so the driver records rows-only; PqIndexSpec pins the ADC relative-error bound and a recall floor vs an exact-L2 baseline (exact-L2 recall@5 observed 0.48 at sf0.001, 0.58 at sf0.01).",
      (s, d) => {
        val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        // memoized: the codes cache lives for the session and is
        // unpersisted by releaseCaches(), not per invocation
        val index = served(s, d, "pq") { graft.ext.PqIndex.build(s, e, dim = 64) }
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        graft.ext.PqIndex.searchReRanked(index, e, q, topK = 5)
          .orderBy(col("q_id"), col("rn"))
      },
      None),

    GraftQuery(
      "q133_ivfpq_topk",
      "Composed IVF-PQ production-ANN serving query (ext.IvfPq — the full IVFADC layout of Jégou et al. 2011, per-cell RESIDUAL codes): q79's cell pruning AND q109's code compression in ONE search over L2-NORMALIZED vectors (unit sphere ⇒ ADC's L2 order is monotone with the cosine serving metric — the normalize-before-PQ rule; skipping it cost 12 recall points on this fixture). Each query probes its nProbe=12 of 16 nearest cells (centroid rank on the driver), scores ONLY those cells' PQ codes in one pass by asymmetric distance against a per-(query,cell) residual lookup table built on the driver from the m=8×k=64 codebooks and broadcast (8 code bytes per candidate, never raw vectors), and exact-cosine re-ranks the 96-deep ADC shortlist — at most 3 Spark jobs per search. Persisted cell-partitioned, a probe prunes index FILES (IvfPqSpec pins the static cell PartitionFilter and that only the probed cells' files are read, recall>=0.9 vs the q50 exact baseline — observed 0.94 at sf0.001 and 0.92 at sf0.01, and 0.90 / 0.92 for the flat non-residual mode on this deliberately isotropic fixture where residuals have no cluster structure to exploit — and exact-equivalence at full probe in BOTH modes). Both quantizers train on the driver from one bounded sample and one compiled map encodes the corpus, so the build is a handful of Spark jobs. No SQL oracle — k-means boundaries aren't SQL-expressible — so the driver records rows-only.",
      (s, d) => {
        // the shared serving entry (memoized index, reused by q139 and
        // GraftEngine.annTopK) at the registered serving configuration
        val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        annTopK(s, d, q, topK = 5, nProbe = 12, shortlist = 96)
      },
      None),

    GraftQuery(
      "q139_ivfpq_exact",
      "IVF-PQ VERIFICATION mode with a SQL oracle: the q133 index searched exhaustively — nProbe = every cell, shortlist = the whole corpus — so the ADC stage prunes nothing and the exact-cosine re-rank must reproduce the q50 brute-force top-5 bit-for-bit. This is the one ANN entry DuckDB can check by hash (k-means boundaries never enter the result at full probe), closing the loop the rows-only q79/q109/q133 entries leave open: if the composed index's plumbing — cell routing, residual codes, shortlist, re-rank — corrupted anything, this query's hash would diverge. Deliberately NOT the serving configuration (probing every cell reads the whole index); its job is proving the index is lossless when not approximating, per the round-6 verdict. The exhaustive shortlist is Int.MaxValue — shortlist is only an upper rank bound, so no count of the corpus is ever taken and the builder stays action-free.",
      (s, d) => {
        val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val index = served(s, d, "ivfpq") {
          graft.ext.IvfPq.build(s, e, dim = 64, kCells = 16, kCodes = 64)
        }
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        // exhaustive shortlist: `srn <= shortlist` only needs an upper
        // bound, so Int.MaxValue covers any corpus without the eager
        // count() job (and without the Long→Int overflow past 2^31
        // rows) the previous corpus-count approach paid per call
        graft.ext.IvfPq.search(index, e, q, topK = 5,
          nProbe = index.kCells, shortlist = Int.MaxValue)
      },
      Some(exactTopkSql)),

    GraftQuery(
      "q140_semdedup",
      "Semantic dedup (the SemDeDup shape, Abbas et al. 2023): route every embedding to its nearest semantic cell (q52's shared nearest-centroid assignment — the SQL-expressible stand-in for the trained IVF router, so the whole operator stays oracle-checkable), generate near-dup candidates only within (cell, adaptive-LSH-bucket) blocks — the same corpus-scaled sign-bucket as q51/q54, so candidate volume stays ~32n even though a cell is corpus/k sized and a bare within-cell self-join would be quadratic — and under keep-lowest-vec_id remove any vector with a >=0.3-cosine predecessor in its block. Output is the per-cell dedup yield (kept/removed/rate), the table a curation run reads to decide how hard semantic dedup bites per region of embedding space. At 100 TB: assignment and bucketing are broadcast-driven codegen'd maps, the block join shuffles on (cell, bucket), and the rollup is k rows.",
      (s, d) => {
        CosineSimilarity.ensureRegistered(s)
        val e0 = t(s, d, "embeddings")
        val asg = labelCellAssign(e0).select(col("vec_id"), col("assigned").as("cell"))
        val v = withBucket(e0.select(col("vec_id"), col("embedding")))
          .join(asg, Seq("vec_id"))
        val a = v.select(col("cell"), col("bucket"),
          col("vec_id").as("da"), col("embedding").as("a_emb"))
        val b = v.select(col("cell"), col("bucket"),
          col("vec_id").as("db"), col("embedding").as("b_emb"))
        val removed = a.join(b, Seq("cell", "bucket"))
          .filter(col("da") < col("db"))
          .filter(round(expr("cosine_sim(a_emb, b_emb)"), 6) >= 0.3)
          .select(col("db")).distinct()
        v.join(removed, v("vec_id") === removed("db"), "left")
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("db").isNotNull, 1L).otherwise(0L)).as("n_removed"),
            sum(when(col("db").isNull, 1L).otherwise(0L)).as("n_kept"),
            round(sum(when(col("db").isNotNull, 1.0).otherwise(0.0))
              / count(lit(1)), 6).as("removal_rate"))
          .orderBy(col("cell"))
      },
      Some(s"WITH $assignCteSql, $bucketCteSql, " +
        "v AS (SELECT e.vec_id, emb, bucket, cell FROM e JOIN asg USING (vec_id)), " +
        "rem AS (SELECT DISTINCT b.vec_id FROM v a JOIN v b " +
        "ON a.cell = b.cell AND a.bucket = b.bucket AND a.vec_id < b.vec_id " +
        "WHERE round(list_inner_product(a.emb, b.emb)/" +
        "(sqrt(list_inner_product(a.emb, a.emb))*sqrt(list_inner_product(b.emb, b.emb))), 6) >= 0.3), " +
        "f AS (SELECT v.vec_id, v.cell, CASE WHEN rem.vec_id IS NULL THEN 0 ELSE 1 END AS removed " +
        "FROM v LEFT JOIN rem ON v.vec_id = rem.vec_id) " +
        "SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs, " +
        "CAST(sum(removed) AS BIGINT) AS n_removed, " +
        "CAST(count(*) - sum(removed) AS BIGINT) AS n_kept, " +
        "round(sum(removed) * 1.0 / count(*), 6) AS removal_rate " +
        "FROM f GROUP BY cell ORDER BY cell")),

    GraftQuery(
      "q99_quantize_embed",
      "Int8 scalar quantization audit — the 4x-compression step an embedding store applies before ANN serving: each vector gets a symmetric per-vector scale (max|x|/127), elements round to the nearest of 255 levels via floor(x/s + 0.5) (floor is exact in both engines — no round-half dialect risk), and the reconstruction error sums per vector. Per-label output pins mean and max squared error, i.e. how much recall the compression can cost. Pure narrow map over the corpus — no shuffle until the ~10-row label rollup; at 100 TB the quantized vectors (64 B vs 256 B) are what the IVF cells would persist.",
      (s, d) => {
        val scale = array_max(transform(col("embedding"), x => abs(x)))
          .cast("double") / lit(127.0)
        def sqErr(x: Column): Column = {
          val d = x.cast("double") -
            col("scale") * floor(x.cast("double") / col("scale") + lit(0.5))
          d * d
        }
        t(s, d, "embeddings")
          .withColumn("scale", scale)
          .withColumn("err",
            when(col("scale") === 0.0, 0.0)
              .otherwise(aggregate(col("embedding"), lit(0.0), (acc, x) => acc + sqErr(x))))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            round(avg(col("err")), 6).as("avg_sq_err"),
            round(max(col("err")), 6).as("max_sq_err"))
          .orderBy(col("label"))
      },
      Some("WITH s AS (SELECT label, embedding, " +
        "list_max(list_transform(embedding, x -> abs(x))) / 127.0 AS scale FROM embeddings), " +
        "e AS (SELECT label, CASE WHEN scale = 0 THEN 0.0 ELSE " +
        "list_sum(list_transform(embedding, x -> " +
        "(x - scale*floor(x/scale + 0.5)) * (x - scale*floor(x/scale + 0.5)))) " +
        "END AS err FROM s) " +
        "SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, " +
        "round(avg(err), 6) AS avg_sq_err, round(max(err), 6) AS max_sq_err " +
        "FROM e GROUP BY label ORDER BY label")),

    GraftQuery(
      "q104_dim_stats",
      "Per-dimension embedding statistics — the feature-normalization / whitening pass (mean, sample stddev, min, max per coordinate) an embedding pipeline fits before training or indexing, and the drift monitor it re-runs per batch. posexplode turns each vector into (dim, value) rows map-side; the only shuffle is a hash agg on exactly 64 dim keys, and map-side partial aggregation reduces each task to 64 rows before it — at 100 TB every executor ships 64 accumulators, nothing else. min/max pass through un-rounded (float→double widening is exact in both engines); mean/std round at 4dp, far above distributed-summation-order noise (the q74 rule).",
      (s, d) => {
        t(s, d, "embeddings")
          .select(posexplode(col("embedding")))
          .select((col("pos") + 1).cast("long").as("dim"),
            col("col").cast("double").as("v"))
          .groupBy(col("dim"))
          .agg(count(lit(1)).as("n"),
            round(avg(col("v")), 4).as("mean"),
            round(stddev_samp(col("v")), 4).as("sd"),
            min(col("v")).as("mn"),
            max(col("v")).as("mx"))
          .orderBy(col("dim"))
      },
      Some("WITH e AS (SELECT i AS dim, CAST(embedding[i] AS DOUBLE) AS v " +
        "FROM embeddings, UNNEST(range(1, len(embedding)+1)) x(i)) " +
        "SELECT dim, CAST(count(*) AS BIGINT) AS n, round(avg(v), 4) AS mean, " +
        "round(stddev_samp(v), 4) AS sd, min(v) AS mn, max(v) AS mx " +
        "FROM e GROUP BY dim ORDER BY dim")),

    GraftQuery(
      "q106_embedding_outliers",
      "Embedding outlier audit — the vector-space data-quality gate run before index build or training: fit per-dimension mean/sd (the q104 stats) inside the plan, z-score every coordinate against them, and report per label how many vectors have any coordinate beyond 4σ plus the worst z seen. Two passes over the exploded coordinates — a 64-key stats agg, then a rejoin against the broadcast 64-row stats table — so nothing but (dim → 2 doubles) crosses executors between them; the per-vector max-|z| agg shuffles on vec_id. The flag compares the 6dp-ROUNDED max-z so sub-ulp accumulation noise in the fitted moments cannot flip a vector across the threshold.",
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("label"), posexplode(col("embedding")))
          .select(col("vec_id"), col("label"),
            (col("pos") + 1).cast("long").as("dim"), col("col").cast("double").as("v"))
        val st = e.groupBy(col("dim"))
          .agg(avg(col("v")).as("m"), stddev_samp(col("v")).as("sd"))
        val z = e.join(broadcast(st), Seq("dim"))
          .groupBy(col("vec_id"), col("label"))
          .agg(round(max(abs((col("v") - col("m")) / col("sd"))), 6).as("maxz"))
        z.groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("maxz") >= 4.0, 1L).otherwise(0L)).as("n_outliers"),
            round(max(col("maxz")), 4).as("max_z"))
          .orderBy(col("label"))
      },
      Some("WITH e AS (SELECT vec_id, label, i AS dim, CAST(embedding[i] AS DOUBLE) AS v " +
        "FROM embeddings, UNNEST(range(1, len(embedding)+1)) x(i)), " +
        "st AS (SELECT dim, avg(v) AS m, stddev_samp(v) AS sd FROM e GROUP BY dim), " +
        "z AS (SELECT vec_id, label, round(max(abs((v - m)/sd)), 6) AS maxz " +
        "FROM e JOIN st USING (dim) GROUP BY vec_id, label) " +
        "SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, " +
        "CAST(sum(CASE WHEN maxz >= 4.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers, " +
        "round(max(maxz), 4) AS max_z " +
        "FROM z GROUP BY label ORDER BY label")),

    GraftQuery(
      "q124_label_cohesion",
      "Per-label cluster-cohesion audit — the SemDeDup/clustered-index health check run before trusting labels as dedup or sampling cells: fit each label's centroid IN the plan (a 64·labels-row aggregate over the exploded coordinates), then score every member's cosine to its OWN centroid and roll up avg/min/max per label. Low cohesion (as in this fixture: labels are not geometric clusters) tells the pipeline its cells won't localize near-dups and an IVF re-train is needed — the audit's job. Centroid components ROUND to 6dp before any cosine so distributed-sum order in the avg can't leak into the comparison (the q104/q74 rule); member cosines fold in array order via the shared double-precision kernel, deterministic on both engines. The member pass joins a broadcast ~10-row centroid table — one corpus scan, one tiny agg, nothing collected.",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val cent = e
          .select(col("label"), posexplode(col("embedding")))
          .select(col("label"), col("pos").as("dim"), col("col").cast("double").as("v"))
          .groupBy(col("label"), col("dim"))
          .agg(round(avg(col("v")), 6).as("c"))
          .groupBy(col("label"))
          .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("pairs"))
          .select(col("label"), transform(col("pairs"), p => p("c")).as("centroid"))
        e.join(broadcast(cent), Seq("label"))
          .select(col("label"),
            round(cosine(col("embedding"), col("centroid")), 6).as("cos_c"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            round(avg(col("cos_c")), 6).as("avg_cos"),
            min(col("cos_c")).as("min_cos"),
            max(col("cos_c")).as("max_cos"))
          .orderBy(col("label"))
      },
      Some("WITH d AS (SELECT vec_id, label, i AS dim, CAST(embedding[i] AS DOUBLE) AS v " +
        "FROM embeddings, UNNEST(range(1, len(embedding)+1)) x(i)), " +
        "cp AS (SELECT label, dim, round(avg(v), 6) AS c FROM d GROUP BY label, dim), " +
        "cent AS (SELECT label, list(c ORDER BY dim) AS centroid FROM cp GROUP BY label), " +
        "m AS (SELECT e.label, round(list_inner_product(CAST(e.embedding AS DOUBLE[]), centroid)/" +
        "(sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))*" +
        "sqrt(list_inner_product(centroid, centroid))), 6) AS cos_c " +
        "FROM embeddings e JOIN cent ON e.label = cent.label) " +
        "SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, round(avg(cos_c), 6) AS avg_cos, " +
        "min(cos_c) AS min_cos, max(cos_c) AS max_cos " +
        "FROM m GROUP BY label ORDER BY label"))
  )

  /** Prototypicality ranking shared by q174 and
    * `GraftEngine.prunePrototypical` (the funnelVerdict sharing rule):
    * input is ANY (vec_id, label, embedding) frame; output per vector
    * adds (cos_c, rn, n, pruned) — cosine to the in-plan fitted own-
    * label centroid (6dp-rounded components, broadcast back), rank
    * within label on (rounded cos desc, vec_id), pruned = top
    * `prunePct`% most prototypical (Sorscher 2022's abundant-data
    * policy). Two corpus passes; per-label rank windows — labels are
    * the parallelism unit.
    */
  private[graft] def prototypicalityRank(e: DataFrame,
      prunePct: Int): DataFrame = {
    val cent = e
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos").as("dim"), col("col").cast("double").as("v"))
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("v")), 6).as("c"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("pairs"))
      .select(col("label"), transform(col("pairs"), p => p("c")).as("centroid"))
    e.join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("centroid")), 6).as("cos_c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("label"))
          .orderBy(col("cos_c").desc, col("vec_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("label"))))
      .withColumn("pruned", col("rn") <= expr(s"n * $prunePct div 100"))
  }

  /** Round-13 vector curation surface. */
  val queriesRound13: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q174_difficulty_prune",
      "Prototypicality-based data pruning (Sorscher 2022, 'Beyond neural scaling laws': with abundant data, drop the EASIEST — most prototypical — examples): score every vector's cosine to its own label centroid (the q124 cohesion kernel: centroid fitted in-plan, 6dp-rounded, broadcast back), rank within label on (rounded cos desc, vec_id tiebreak), and prune the top 20%. Per label: sizes, the pruning-boundary cosine, and the mean cosine of what survives — the curation report a self-supervised pruning pass emits before training. The corpus makes two passes (centroid fit, scoring); ranking runs in per-label windows, so labels are the unit of parallelism — a pathologically skewed label would take RangeRank's bucketed two-pass form, same values.",
      (s, d) => {
        prototypicalityRank(t(s, d, "embeddings"), prunePct = 20)
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("pruned"), 1L).otherwise(0L)).as("n_pruned"),
            min(when(col("pruned"), col("cos_c"))).as("cut_cos"),
            round(avg(when(!col("pruned"), col("cos_c"))), 6).as("avg_kept_cos"))
          .orderBy(col("label"))
      },
      Some("WITH d AS (SELECT vec_id, label, i AS dim, CAST(embedding[i] AS DOUBLE) AS v " +
        "FROM embeddings, UNNEST(range(1, len(embedding)+1)) x(i)), " +
        "cp AS (SELECT label, dim, round(avg(v), 6) AS c FROM d GROUP BY label, dim), " +
        "cent AS (SELECT label, list(c ORDER BY dim) AS centroid FROM cp GROUP BY label), " +
        "m AS (SELECT e.vec_id, e.label, " +
        "round(list_inner_product(CAST(e.embedding AS DOUBLE[]), centroid)/" +
        "(sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))*" +
        "sqrt(list_inner_product(centroid, centroid))), 6) AS cos_c " +
        "FROM embeddings e JOIN cent ON e.label = cent.label), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY label ORDER BY cos_c DESC, vec_id) AS rn, " +
        "count(*) OVER (PARTITION BY label) AS n FROM m), " +
        "f AS (SELECT *, rn <= (n*20)//100 AS pruned FROM r) " +
        "SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, " +
        "CAST(sum(CASE WHEN pruned THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned, " +
        "min(CASE WHEN pruned THEN cos_c END) AS cut_cos, " +
        "round(avg(CASE WHEN NOT pruned THEN cos_c END), 6) AS avg_kept_cos " +
        "FROM f GROUP BY label ORDER BY label")),

    GraftQuery(
      "q183_mutual_knn",
      "Mutual-kNN graph with shared-neighbor strength — the graph-construction step " +
        "density-based embedding clustering (SNN / HDBSCAN-style) runs before community " +
        "detection: from the shared bucketed 3-NN graph (q51's adaptive sign-LSH candidate " +
        "discipline, ~32·n comparisons at any corpus size), keep only MUTUAL edges (a in " +
        "b's top-3 AND b in a's top-3 — the standard noise filter: one-directional " +
        "neighbors are usually hub artifacts) and annotate each surviving pair with its " +
        "shared-neighbor count (how many third vectors list BOTH endpoints in their top-3 " +
        "— the SNN edge weight). All three reads (both mutuality sides, the " +
        "shared-neighbor rollup) serve from the ONE persisted kernel, so the candidate " +
        "cosine pass is priced once; the self-joins shuffle (a_id, b_id) pairs only — " +
        "3·n rows, never embeddings. At 100 TB the graph is an a_id-bucketed parquet " +
        "table and both self-joins are co-partitioned merges.",
      (s, d) => mutualKnnPairs(knnGraph(s, d)),
      Some(s"WITH $knnCteSql, " +
        "m AS (SELECT x.a_id, x.b_id, x.cos_r FROM k x JOIN k y " +
        "ON x.a_id = y.b_id AND x.b_id = y.a_id WHERE x.a_id < x.b_id), " +
        "sn AS (SELECT n1.a_id AS a_id, n2.a_id AS b_id, " +
        "CAST(count(*) AS BIGINT) AS shared_n FROM k n1 JOIN k n2 " +
        "ON n1.b_id = n2.b_id AND n1.a_id < n2.a_id GROUP BY 1, 2) " +
        "SELECT m.a_id, m.b_id, m.cos_r, " +
        "COALESCE(sn.shared_n, 0) AS shared_n " +
        "FROM m LEFT JOIN sn ON m.a_id = sn.a_id AND m.b_id = sn.b_id " +
        "ORDER BY m.a_id, m.b_id")),

    GraftQuery(
      "q184_knn_label_audit",
      "Neighbor-vote label audit — the confident-learning-style mislabel screen " +
        "(Northcutt 2021) a curation pipeline runs before trusting labels for stratified " +
        "sampling or eval splits: each vector's 3 bucketed nearest neighbors (the shared " +
        "q183 kernel) vote with their labels; a vector NONE of whose neighbors share its " +
        "label is a mislabel suspect. Per label: vector count, isolated count (singleton " +
        "bucket — no evidence either way), suspect count, and the micro-averaged " +
        "neighbor-agreement rate (Σ matches / Σ neighbors — a ratio of two integer " +
        "aggregates, so the 6dp round is engine-exact by construction, never a " +
        "float-sum-order artifact). Distinct mechanism from q124's centroid cohesion: " +
        "this is LOCAL evidence (neighbor votes survive non-convex label regions where " +
        "centroids are meaningless). One broadcast-scale label probe joined to the " +
        "persisted 3·n-row graph, then a labels-sized rollup — no embedding ever " +
        "shuffles.",
      (s, d) => knnLabelAuditOf(
        t(s, d, "embeddings").select(col("vec_id"), col("label")),
        knnGraph(s, d)),
      Some(s"WITH $knnCteSql, " +
        "nlb AS (SELECT k.a_id, e2.label AS b_label FROM k " +
        "JOIN embeddings e2 ON k.b_id = e2.vec_id), " +
        "pv AS (SELECT e.vec_id, e.label, count(b_label) AS n_nbrs, " +
        "sum(CASE WHEN b_label = e.label THEN 1 ELSE 0 END) AS n_match " +
        "FROM embeddings e LEFT JOIN nlb ON nlb.a_id = e.vec_id " +
        "GROUP BY e.vec_id, e.label) " +
        "SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, " +
        "CAST(sum(CASE WHEN n_nbrs = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_isolated, " +
        "CAST(sum(CASE WHEN n_nbrs > 0 AND n_match = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect, " +
        "round(sum(n_match) / nullif(sum(n_nbrs), 0), 6) AS match_rate " +
        "FROM pv GROUP BY label ORDER BY label")),

    GraftQuery(
      "q187_incremental_knn",
      "Incremental kNN-graph maintenance — the nightly index refresh a production " +
        "vector store runs instead of rebuilding: an increment batch lands (the ~10% of " +
        "vectors whose md5 bucket is 0 — the q82 deterministic-split discipline), and " +
        "ONLY the neighbor lists of vectors sharing an LSH bucket with an increment " +
        "vector are recomputed; every untouched bucket's lists are not even read — at " +
        "100 TB the graph is bucket-partitioned parquet and the refresh prunes to " +
        "affected partitions before any file opens. The bucketer (sign-LSH width from " +
        "the FULL corpus size) is pinned across the refresh, as in production: the hash " +
        "family never re-derives per batch, or every list would be 'affected'. Output " +
        "is the updated top-3 lists — by construction exactly the full-rebuild answer " +
        "restricted to affected buckets (Round15OpsSpec proves that equivalence on the " +
        "fixture; candidate volume stays ~32 per recomputed vector).",
      (s, d) => incrementalKnnOf(s,
        t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        conv(substring(md5(col("vec_id").cast("string")), 1, 4),
          16, 10).cast("long") % 10 === 0),
      Some(incrementalKnnOracle)),

    GraftQuery(
      "q219_incremental_knn_cdc",
      "CDC-DRIVEN incremental kNN (round-15 item 5): q187's nightly refresh with " +
        "the increment wired to the REAL change feed instead of an md5-split " +
        "predicate — the embeddings corpus lives in a versioned snapshot log " +
        "(v0 = the standing corpus, v1 = the newly-landed batch, the SAME md5 " +
        "cohort q187 marks, so both share one oracle), and the refresh consumes " +
        "`readChanges(0, 1)`: the increment ids come from scanning ONLY the " +
        "delta segment (never standing history — Round20OpsSpec pins the " +
        "row-count identity), flow into `incrementalKnnIds` as a left-semi " +
        "mark (no driver-side id collection), and only the LSH buckets those " +
        "vectors land in recompute against the full v1 corpus. Output is " +
        "bit-identical to the full-rebuild answer restricted to affected " +
        "buckets — the q187 oracle verbatim, now proving the log-driven path. " +
        "At 100 TB this is the production wiring: the vector store's ingest " +
        "commits through the log, and the index maintenance job reads the " +
        "version window it last processed — the q189 CDC-gate pattern applied " +
        "to ANN maintenance, with `GraftEngine.incrementalKnnFromLog` as the " +
        "facade.",
      (s, d) => {
        import graft.ext.SnapshotLog
        // the shared pid-scoped scratch recipe (the q207 rule)
        val dir = Relational.logTmpDir("graft-knnlog", d)
        SnapshotLog.reset(dir, checkpointInterval = 3)
        val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val isIncrement = conv(
          substring(md5(col("vec_id").cast("string")), 1, 4),
          16, 10).cast("long") % 10 === 0
        SnapshotLog.append(e.filter(!isIncrement), dir, col("vec_id")) // v0
        SnapshotLog.append(e.filter(isIncrement), dir, col("vec_id")) // v1
        val corpus = SnapshotLog.readAsOf(s, dir, 1)
          .select(col("vec_id"), col("embedding"))
        val ids = SnapshotLog.readChanges(s, dir, 0, 1).select(col("vec_id"))
        incrementalKnnIds(s, corpus, ids)
      },
      Some(incrementalKnnOracle)),

    GraftQuery(
      "q191_matryoshka_audit",
      "Dimension-truncation retrieval audit — the measurement behind Matryoshka-style " +
        "embedding serving (Kusupati 2022: index the first d' dims, re-rank with the " +
        "rest): for the q50 query set, exact cosine top-3 under the FULL 64 dims vs " +
        "under only the FIRST 16, reporting per query the top-3 overlap and whether " +
        "the rank-1 neighbor survives. Every candidate row carries BOTH ranks from " +
        "the same two windows over ONE broadcast-join pass, so the overlap is a " +
        "conditional aggregate — no top-k self-join, no second scan, nothing " +
        "re-evaluated (the q129 rule applied at design time). The answer prices the " +
        "recall an operator gives up by building the ANN index (or the IVF router) " +
        "over a 4x-cheaper prefix — the decision this audit exists to inform. At " +
        "100 TB: same shape as q50, one corpus pass against a broadcast query set.",
      (s, d) => {
        CosineSimilarity.ensureRegistered(s)
        val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val wF = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_full").desc, col("vec_id"))
        val wT = Window.partitionBy(col("q_id"))
          .orderBy(col("cos_trunc").desc, col("vec_id"))
        e.join(broadcast(q), col("q_id") =!= col("vec_id"))
          .withColumn("cos_full",
            round(expr("cosine_sim(q_emb, embedding)"), 6))
          .withColumn("cos_trunc",
            round(expr("cosine_sim(slice(q_emb, 1, 16), slice(embedding, 1, 16))"), 6))
          .withColumn("rf", row_number().over(wF))
          .withColumn("rt", row_number().over(wT))
          .groupBy(col("q_id"))
          .agg(sum(when(col("rf") <= 3 && col("rt") <= 3, 1L).otherwise(0L))
            .as("overlap3"),
            (max(when(col("rf") === 1, col("vec_id"))) ===
              max(when(col("rt") === 1, col("vec_id")))).as("rank1_same"))
          .orderBy(col("q_id"))
      },
      Some("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb " +
        "FROM embeddings), " +
        "q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10), " +
        "p AS (SELECT q_id, e.vec_id, " +
        "round(list_inner_product(q_emb, emb)/" +
        "(sqrt(list_inner_product(q_emb, q_emb))*sqrt(list_inner_product(emb, emb))), 6) AS cos_full, " +
        "round(list_inner_product(q_emb[1:16], emb[1:16])/" +
        "(sqrt(list_inner_product(q_emb[1:16], q_emb[1:16]))*" +
        "sqrt(list_inner_product(emb[1:16], emb[1:16]))), 6) AS cos_trunc " +
        "FROM q JOIN e ON e.vec_id <> q.q_id), " +
        "r AS (SELECT *, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY cos_full DESC, vec_id) AS rf, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY cos_trunc DESC, vec_id) AS rt " +
        "FROM p) " +
        "SELECT q_id, " +
        "CAST(sum(CASE WHEN rf <= 3 AND rt <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS overlap3, " +
        "max(CASE WHEN rf = 1 THEN vec_id END) = max(CASE WHEN rt = 1 THEN vec_id END) AS rank1_same " +
        "FROM r GROUP BY q_id ORDER BY q_id")),

    GraftQuery(
      "q201_ann_recall_clustered",
      "Single-probe ANN recall on an ANISOTROPIC (clustered) corpus — q147's " +
        "second regime (round-13 item 7): the fixture embeddings are deliberately " +
        "isotropic, so q147's honest near-zero single-probe recall is partly a " +
        "fixture artifact; real embedding corpora are CLUSTERED, and nProbe is " +
        "tuned against recall measured in that regime. This query synthesizes a " +
        "mixture-of-Gaussians corpus IN-PLAN from md5 seeds (8 clusters: center " +
        "dims and per-vector noise are uniform draws from the first 8 hex digits " +
        "of md5 over ('c'|group|dim) / ('n'|vec|dim) strings, center + 0.15*noise, " +
        "6dp-rounded then float32-quantized — every value bit-identical on both " +
        "engines, so the whole synthesis is DuckDB-reproducible and the row is " +
        "ORACLE-GREEN, unlike anything built on rand() or a trained KMeans) and " +
        "runs the IDENTICAL recall kernel q147 runs (annRecallOver — one body, " +
        "two regimes): exact cosine top-3 vs same-sign-bucket (LSH) and " +
        "same-cell (IVF over the true-group centroids) candidates. Together the " +
        "pair is the calibration table an operator actually tunes against: " +
        "isotropic = the floor, clustered = the regime where single-probe IVF " +
        "recall recovers. Scale shape identical to q147 — broadcast query set, " +
        "one corpus pass on the exact arm, bucket/cell-pruned probe arms.",
      (s, d) => {
        CosineSimilarity.ensureRegistered(s)
        val syn = synClustered(s, d)
        val e = withBucket(syn.select(col("vec_id"), col("embedding")))
          .join(labelCellAssign(syn)
            .select(col("vec_id"), col("assigned").as("cell")), Seq("vec_id"))
        annRecallOver(s, d, "clustered", e)
          .select(col("method"), lit("clustered").as("regime"), col("q_id"),
            col("n_hit"), col("recall"))
      },
      Some {
        val uC = uSqlExpr(
          "'c' || CAST(label AS VARCHAR) || '_' || CAST(i AS VARCHAR)")
        val uN = uSqlExpr(
          "'n' || CAST(vec_id AS VARCHAR) || '_' || CAST(i AS VARCHAR)")
        val cos = "round(list_inner_product(q_emb, emb)/" +
          "(sqrt(list_inner_product(q_emb, q_emb))*sqrt(list_inner_product(emb, emb))), 6)"
        "WITH vv AS (SELECT vec_id, vec_id % 8 AS label FROM embeddings), " +
          "sy AS (SELECT vec_id, label, list_transform(range(1, 65), i -> " +
          s"CAST(CAST(round(($uC * 2 - 1) + 0.15 * ($uN * 2 - 1), 6) " +
          "AS FLOAT) AS DOUBLE)) AS emb FROM vv), " +
          "nb2 AS (SELECT count(*) AS n FROM sy), " +
          s"bb2 AS (SELECT ($bitsSql) AS bits FROM nb2), " +
          "se AS (SELECT vec_id, label, emb, " +
          s"(${signBucketSqlOver("emb")}) AS bucket FROM sy, bb2), " +
          "dims2 AS (SELECT vec_id, label, i - 1 AS i, emb[i] AS v " +
          "FROM sy, UNNEST(range(1, 65)) t(i)), " +
          "cent2 AS (SELECT label AS c_label, i, round(avg(v), 6) AS c " +
          "FROM dims2 GROUP BY c_label, i), " +
          "dist2 AS (SELECT vec_id, label, c_label, " +
          "round(sum((v - c)*(v - c)), 6) AS d2 " +
          "FROM dims2 JOIN cent2 USING (i) GROUP BY vec_id, label, c_label), " +
          "rrb AS (SELECT vec_id, c_label, " +
          "row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn " +
          "FROM dist2), " +
          "asg2 AS (SELECT vec_id, c_label AS cell FROM rrb WHERE rn = 1), " +
          "ee AS (SELECT se.vec_id, emb, bucket, cell " +
          "FROM se JOIN asg2 ON se.vec_id = asg2.vec_id), " +
          "q AS (SELECT vec_id AS q_id, emb AS q_emb, bucket AS q_bucket, " +
          "cell AS q_cell FROM ee WHERE vec_id < 10), " +
          s"exp AS (SELECT q_id, ee.vec_id, $cos AS cos_r FROM q " +
          "JOIN ee ON ee.vec_id <> q.q_id), " +
          "ex AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id, " +
          "row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) AS rn " +
          "FROM exp) WHERE rn <= 3), " +
          s"lsp AS (SELECT q_id, ee.vec_id, $cos AS cos_r FROM q JOIN ee " +
          "ON ee.bucket = q.q_bucket AND ee.vec_id <> q.q_id), " +
          "ls AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id, " +
          "row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) AS rn " +
          "FROM lsp) WHERE rn <= 3), " +
          s"ivp AS (SELECT q_id, ee.vec_id, $cos AS cos_r FROM q JOIN ee " +
          "ON ee.cell = q.q_cell AND ee.vec_id <> q.q_id), " +
          "iv AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id, " +
          "row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) AS rn " +
          "FROM ivp) WHERE rn <= 3), " +
          "u AS (SELECT 'lsh_bucket' AS method, ex.q_id, " +
          "CASE WHEN ls.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit " +
          "FROM ex LEFT JOIN ls ON ex.q_id = ls.q_id AND ex.vec_id = ls.vec_id " +
          "UNION ALL SELECT 'ivf_cell' AS method, ex.q_id, " +
          "CASE WHEN iv.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit " +
          "FROM ex LEFT JOIN iv ON ex.q_id = iv.q_id AND ex.vec_id = iv.vec_id) " +
          "SELECT method, 'clustered' AS regime, q_id, " +
          "CAST(sum(hit) AS BIGINT) AS n_hit, " +
          "round(sum(hit)*1.0/count(*), 6) AS recall " +
          "FROM u GROUP BY method, q_id ORDER BY method, q_id"
      }),

    GraftQuery(
      "q210_graph_ann_recall",
      "Graph-based ANN serving (the HNSW-class arm, round-14) with measured " +
        "recall@3 on BOTH q201 regimes — the third serving family beside " +
        "bucketed LSH (q51) and IVF-PQ (q133): best-first beam search over " +
        "the symmetrized q183 kNN graph (8 fixed smallest-id entry points, " +
        "beam 8, 4 hops; every ranking 6dp-rounded-cosine + vec_id ties, so " +
        "the walk is deterministic and rerun-identical). Per hop: frontier ⋈ " +
        "adjacency, anti-join vs the visited set (never re-score), broadcast-" +
        "query scoring of ONLY the new candidates — per-query work is " +
        "entries + hops·beam·degree, independent of corpus size (the " +
        "property that makes graph ANN serve at 100 TB; Round19OpsSpec pins " +
        "candidates-visited ≪ corpus). Recall is measured against the exact " +
        "q50 kernel on the SAME frames, isotropic (the honest floor — a " +
        "navigable graph cannot beat geometry with no structure) and " +
        "clustered (where the walk climbs its cluster and recall recovers) " +
        "— the two calibration rows an operator compares against q147/q201 " +
        "before picking a serving arm. ORACLE-CHECKED via the exported-state " +
        "pattern: DuckDB recomputes the exact top-3 for both regimes from " +
        "scratch (the md5 synthesis is bit-identical cross-engine) and " +
        "scores q215's dumped walk results against them — the recall " +
        "arithmetic AND the exact arm are cross-engine, only the walk " +
        "itself is taken from the export.",
      (s, d) => {
        CosineSimilarity.ensureRegistered(s)
        graphBeamRegimes(s, d).map { case (regime, e0, topk, _) =>
          val q = e0.filter(col("vec_id") < 10)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
          val pairs = e0.join(broadcast(q), col("q_id") =!= col("vec_id"))
            .withColumn("cos_r",
              round(expr("cosine_sim(q_emb, embedding)"), 6))
          val w = Window.partitionBy(col("q_id"))
            .orderBy(col("cos_r").desc, col("vec_id"))
          val exact = pairs.withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 3).select(col("q_id"), col("vec_id"))
          exact.join(topk.select(col("q_id"), col("vec_id"))
              .withColumn("hit", lit(1)), Seq("q_id", "vec_id"), "left")
            .groupBy(col("q_id"))
            .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"),
              round(sum(coalesce(col("hit"), lit(0))).cast("double") /
                count(lit(1)), 6).as("recall"))
            .select(lit(regime).as("regime"), col("q_id"), col("n_hit"),
              col("recall"))
        }.reduce(_.unionByName(_)).orderBy(col("regime"), col("q_id"))
      },
      Some {
        val cos = "round(list_inner_product(q_emb, emb)/" +
          "(sqrt(list_inner_product(q_emb, q_emb))*" +
          "sqrt(list_inner_product(emb, emb))), 6)"
        val uC = uSqlExpr(
          "'c' || CAST(label AS VARCHAR) || '_' || CAST(i AS VARCHAR)")
        val uN = uSqlExpr(
          "'n' || CAST(vec_id AS VARCHAR) || '_' || CAST(i AS VARCHAR)")
        "WITH g AS (SELECT regime, q_id, vec_id FROM " +
          "read_parquet('__OUTDIR__/q215_graph_ann_topk/*.parquet')), " +
          "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb " +
          "FROM embeddings), " +
          "q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e " +
          "WHERE vec_id < 10), " +
          s"exp AS (SELECT q_id, e.vec_id, $cos AS cos_r FROM q " +
          "JOIN e ON e.vec_id <> q.q_id), " +
          "exi AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id, " +
          "row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) " +
          "AS rn FROM exp) WHERE rn <= 3), " +
          "vv AS (SELECT vec_id, vec_id % 8 AS label FROM embeddings), " +
          "sy AS (SELECT vec_id, list_transform(range(1, 65), i -> " +
          s"CAST(CAST(round(($uC * 2 - 1) + 0.15 * ($uN * 2 - 1), 6) " +
          "AS FLOAT) AS DOUBLE)) AS emb FROM vv), " +
          "q2 AS (SELECT vec_id AS q_id, emb AS q_emb FROM sy " +
          "WHERE vec_id < 10), " +
          s"exp2 AS (SELECT q_id, sy.vec_id, $cos AS cos_r FROM q2 q " +
          "JOIN sy ON sy.vec_id <> q.q_id), " +
          "exc AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id, " +
          "row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) " +
          "AS rn FROM exp2) WHERE rn <= 3), " +
          "exall AS (SELECT 'isotropic' AS regime, q_id, vec_id FROM exi " +
          "UNION ALL SELECT 'clustered', q_id, vec_id FROM exc), " +
          "u AS (SELECT exall.regime, exall.q_id, " +
          "CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit " +
          "FROM exall LEFT JOIN g ON g.regime = exall.regime " +
          "AND g.q_id = exall.q_id AND g.vec_id = exall.vec_id) " +
          "SELECT regime, q_id, CAST(sum(hit) AS BIGINT) AS n_hit, " +
          "round(sum(hit)*1.0/count(*), 6) AS recall " +
          "FROM u GROUP BY regime, q_id ORDER BY regime, q_id"
      }),

    GraftQuery(
      "q215_graph_ann_topk",
      "Graph-ANN WALK-RESULT EXPORT (the q204/q214 exported-state pattern " +
        "applied to serving): the final per-query top-3 of q210's beam " +
        "search on both regimes, as the table a serving deployment would " +
        "persist — and the fixture-side input that makes q210's recall " +
        "oracle possible (DuckDB scores THIS dump against exact top-3 it " +
        "recomputes from scratch). Rows-only by contract: the walk order is " +
        "graph-topology-driven and not SQL-expressible, but everything " +
        "computable FROM it — the recall table — is cross-engine-checked " +
        "by q210's oracle-green row; Round19OpsSpec pins determinism and " +
        "the visited ≪ corpus bound.",
      (s, d) =>
        graphBeamRegimes(s, d).map { case (regime, _, topk, _) =>
          topk.select(lit(regime).as("regime"), col("q_id"), col("vec_id"),
            col("cos_r"))
        }.reduce(_.unionByName(_))
          .orderBy(col("regime"), col("q_id"), col("cos_r").desc,
            col("vec_id")),
      None),

    GraftQuery(
      "q225_ann_autotune",
      "Recall-targeted ANN AUTO-TUNING (round-16 item 5 — closing the " +
        "q147/q201 calibration loop): instead of callers hard-coding " +
        "nProbe = 12/16, the engine MEASURES recall@5 of the full IVF-PQ " +
        "serving arm (probe + ADC shortlist + exact re-rank — the path " +
        "every caller gets) at each grid point {1,2,4,8,12,16} against " +
        "the exact cosine top-5, per regime (isotropic fixture corpus = " +
        "the floor; q201's md5-clustered mixture = where routing " +
        "recovers), stores the table beside the served index, and " +
        "`GraftEngine.annTopK(targetRecall = 0.9)` picks the CHEAPEST " +
        "point meeting the target (exact-probe fallback when none does). " +
        "The output IS that stored config table plus the tuner's pick " +
        "per regime. Rows-only by the §5.2 contract (the PQ-ADC walk is " +
        "not SQL-expressible; q133/q139's exactness-at-full-probe specs " +
        "and AnnIndexSpec pin the arm itself) — Round21OpsSpec pins that " +
        "the pick meets the target at minimal probe cost on BOTH " +
        "regimes and that the facade default is unchanged. Calibration " +
        "cost is sample-sized and amortized over every subsequent " +
        "serve; at 100 TB the table is the per-index recall SLO record " +
        "every production vector store keeps.",
      (s, d) => {
        import s.implicits._
        Seq("clustered", "isotropic").map { regime =>
          val cal = annCalibration(s, d, regime)
          val (pick, _) = annTuned(s, d, 0.9, regime)
          cal.map { case (np, r) =>
            (regime, np.toLong, math.round(r * 1e6) / 1e6.toDouble,
              if (np == pick) 1L else 0L)
          }.toDF("regime", "n_probe", "recall", "chosen_at_090")
        }.reduce(_.unionByName(_))
          .orderBy(col("regime"), col("n_probe"))
      },
      None),

    GraftQuery(
      "q232_ann_arm_autotune",
      "CROSS-ARM ANN auto-tuning (round-17 item 8 — q225 extended to " +
        "every serving arm): the engine MEASURES, per regime, the full " +
        "recall-vs-cost curve of all three serving arms — IVF-PQ at " +
        "each grid nProbe (recall@5 from q225's calibration; cost = avg " +
        "probed-cell member rows per query, the ADC scan volume, read " +
        "off the served index's own cell sizes under the identical " +
        "centroid-probe ranking IvfPq.search runs), the GRAPH beam walk " +
        "at each (beam, entries) grid point (recall@3 vs the shared " +
        "exact memo; cost = scored candidates per query — the walk's " +
        "actual distance evaluations, measured, not modeled), and the " +
        "EXACT scan (recall 1.0, cost = corpus size) — then " +
        "`annArmAuto` picks the cheapest operating point meeting the " +
        "target across ALL of them, and `GraftEngine.annTopKArm` " +
        "serves from that pick. The output IS the measured table with " +
        "the 0.9-target pick flagged. Every grid walk re-uses the ONE " +
        "memoized adjacency (the round-17 build/walk split), so the " +
        "graph grid costs 3 query-scale walks, never 3 graph builds. " +
        "Rows-only by the §5.2 contract (KMeans cells and beam walks " +
        "aren't SQL-expressible); Round22OpsSpec pins that the graph " +
        "tuner meets the target at minimal measured walk cost, that " +
        "the cross-arm pick is the global cost minimum among " +
        "qualifying points, and that annTopKArm's serve matches the " +
        "picked arm's direct serve row-for-row. At 100 TB this table " +
        "is the per-index operating-point record every vector-store " +
        "deployment keeps — recalibrated on the sampled query set, " +
        "amortized over every serve.",
      (s, d) => {
        import s.implicits._
        Seq("clustered", "isotropic").map { regime =>
          val table = annArmTable(s, d, regime)
          val pick = annArmAuto(s, d, 0.9, regime)
          table.map { a =>
            (regime, a.arm, a.p1.toLong, a.p2.toLong,
              math.round(a.recall * 1e6) / 1e6,
              math.round(a.cost * 100) / 100.0,
              if (a == pick) 1L else 0L)
          }.toDF("regime", "arm", "p1", "p2", "recall", "cost_rows",
            "chosen_at_090")
        }.reduce(_.unionByName(_))
          .orderBy(col("regime"), col("arm"), col("p1"), col("p2"))
      },
      None)
  )
}
