package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.SnapshotLog
import graft.queries.{TextOps, VectorOps}

/** Round-18 optimization invariants: every structural change this
  * round made to a query path is pinned VALUE-IDENTICAL to the shape
  * it replaced.
  *
  *  - WordPiece trainer: the per-round best-pair selection now rides
  *    the merge-rewrite job as a lazy broadcast subtree (one action
  *    per EM round instead of two) — pinned against an INDEPENDENT
  *    pure-driver reference implementation of the identical algorithm.
  *  - Graph-ANN calibration: every grid point walks in ONE
  *    `graphWalkGrid` call (the only walk kernel, a driver beam search)
  *    — pinned per point against a reference single-point Spark walk
  *    kept here, and bounded in Spark jobs.
  *  - Observed folds (segment stats, delete-vector counts, EM loss,
  *    label-propagation convergence): each site's fallback is forced
  *    through `Observed.suppress`, must bump that site's counter once
  *    per observed action, and must give the folded path's output.
  */
class Round18OptSpec extends SparkSpec {

  // == WordPiece trainer: one-action rounds == reference two-pass EM ==

  /** The production merge fold's semantics in pure Scala: greedy
    * leftmost non-overlapping rewrite of adjacent (l, r) to `merged`;
    * a just-merged symbol never re-matches as `l` of the next pair
    * (the Sennrich order mergeFoldWith's string fold implements).
    */
  private def foldMerge(toks: Array[String], l: String, r: String,
      merged: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
        out += merged; i += 2
      } else { out += toks(i); i += 1 }
    }
    out.toArray
  }

  test("wordpiece one-action rounds reproduce the reference EM exactly") {
    try {
      val (mergesDf, _) = TextOps.wordpieceLoop(spark, sfDir, rounds = 10)
      val got = mergesDf.collect().map(r => (r.getInt(0), r.getString(1),
        r.getString(2), r.getString(3), r.getLong(4), r.getDouble(5)))

      // independent reference: collect the word-frequency table once,
      // then run the identical 10-round EM on the driver
      var words: Array[(Array[String], Long)] =
        Tables.load(spark, sfDir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 1)
          .groupBy(col("w")).agg(count(lit(1)).as("freq"))
          .collect()
          .map { r =>
            val w = r.getString(0)
            val toks = w.toCharArray.zipWithIndex.map { case (c, i) =>
              if (i == 0) c.toString else s"##$c"
            }
            (toks, r.getLong(1))
          }
      val ref = (1 to 10).map { round =>
        val symFreq = scala.collection.mutable.Map.empty[String, Long]
        val pairN = scala.collection.mutable.Map.empty[(String, String), Long]
        words.foreach { case (toks, freq) =>
          toks.foreach(sym =>
            symFreq(sym) = symFreq.getOrElse(sym, 0L) + freq)
          if (toks.length >= 2)
            (0 until toks.length - 1).foreach { i =>
              val k = (toks(i), toks(i + 1))
              pairN(k) = pairN.getOrElse(k, 0L) + freq
            }
        }
        val scoredPairs = pairN.toSeq.map { case ((l, r), n) =>
          (l, r, n, n / (symFreq(l).toDouble * symFreq(r).toDouble))
        }
        // orderBy(score desc, lhs, rhs) limit 1 — the exact tiebreak
        val (lhs, rhs, n, score) = scoredPairs
          .sortBy { case (l, r, _, s) => (-s, l, r) }.head
        val merged = lhs + rhs.stripPrefix("##")
        words = words.map { case (toks, freq) =>
          (foldMerge(toks, lhs, rhs, merged), freq)
        }
        val rounded = BigDecimal(score)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        (round, lhs, rhs, merged, n, rounded)
      }
      assert(got.sortBy(_._1).toSeq === ref,
        s"trained merges diverged from the reference EM")
    } finally TextOps.releaseCaches()
  }

  // == Graph calibration: grid walk == per-point single walks ==

  /** Reference single walk: the per-point beam search `graphWalkGrid`
    * replaced, kept here as the independent check of its per-point
    * rows. Input `q` is (`__grp`, q_id, q_emb); returns (top-`finalK`:
    * `__grp`, q_id, vec_id, cos_r; every scored candidate). Its local
    * checkpoints are added to `pinned` for the caller to release.
    */
  private def referenceWalk(base: DataFrame, adj: DataFrame, q: DataFrame,
      beam: Int, hops: Int, entries: Int, finalK: Int,
      pinned: ArrayBuffer[DataFrame]): (DataFrame, DataFrame) = {
    graft.functions.CosineSimilarity.ensureRegistered(spark)
    def ckpt(df: DataFrame, eager: Boolean): DataFrame = {
      val c = df.localCheckpoint(eager)
      pinned += c
      c
    }
    def topN(scored: DataFrame, n: Int): DataFrame = {
      val w = Window.partitionBy(col("__grp"), col("q_id"))
        .orderBy(col("cos_r").desc, col("vec_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
        .select(col("__grp"), col("q_id"), col("vec_id"), col("cos_r"))
    }
    val nAgg = base.groupBy(col("__grp")).agg(count(lit(1)).as("n"))
    def score(cand: DataFrame): DataFrame =
      cand.join(base, Seq("__grp", "vec_id"))
        .join(broadcast(q), Seq("__grp", "q_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos_r", round(expr("cosine_sim(q_emb, embedding)"), 6))
        .select(col("__grp"), col("q_id"), col("vec_id"), col("cos_r"))
    val wE = Window.partitionBy(col("__grp")).orderBy(col("vec_id"))
    val entryIds = base.filter(col("vec_id") >= 10)
      .join(broadcast(nAgg), Seq("__grp"))
      .filter(pmod(xxhash64(col("vec_id")),
        greatest(lit(1L), (col("n") / lit(4L * entries)).cast("long"))) === 0L)
      .select(col("__grp"), col("vec_id"))
      .withColumn("rn", row_number().over(wE)).filter(col("rn") <= entries)
      .drop("rn")
    val entry = q.select(col("__grp"), col("q_id"))
      .join(entryIds, Seq("__grp"))
    var scored = ckpt(score(entry).coalesce(1), eager = hops == 0)
    var beamDf = topN(scored, beam)
    (1 to hops).foreach { h =>
      val expand = beamDf.select(col("__grp"), col("q_id"),
          col("vec_id").as("src"))
        .join(adj, Seq("__grp", "src"))
        .select(col("__grp"), col("q_id"), col("dst").as("vec_id"))
        .distinct()
      val unseen = expand.join(
        scored.select(col("__grp"), col("q_id"), col("vec_id")),
        Seq("__grp", "q_id", "vec_id"), "left_anti")
      scored = ckpt(scored.unionByName(score(unseen)).coalesce(1),
        eager = h == hops)
      beamDf = topN(scored, beam)
    }
    (topN(scored, finalK), scored)
  }

  test("graphWalkGrid reproduces each grid point's single walk exactly") {
    val pinned = ArrayBuffer.empty[DataFrame]
    try {
      val (base, adj) = VectorOps.regimeAdj(spark, sfDir)
      val q = base.filter(col("vec_id") < 10)
        .select(col("__grp"), col("vec_id").as("q_id"),
          col("embedding").as("q_emb"))
      // the calibration grid (incl. the production (8, 24) point) at
      // the served depth, then a no-hop walk with a wider final cut
      val grid = Seq((2, 4), (4, 8), (8, 24))
      // external queries whose ids (>= 10) ARE entry ids, as a caller's
      // id space can collide with the corpus's (annTopKArm): each is the
      // corpus vector of the entry it collides with, so a self-match the
      // walk failed to exclude would score 1.0. Entry ids are read off
      // the reference's no-hop walks (their scored rows are the entries)
      val entryIds = grid.map { case (b, e) =>
        referenceWalk(base, adj, q, beam = b, hops = 0, entries = e,
          finalK = 1, pinned)._2.select(col("__grp"), col("vec_id"))
      }.reduce(_.union(_)).distinct()
      val qEntry = base.join(entryIds, Seq("__grp", "vec_id"))
        .select(col("__grp"), col("vec_id").as("q_id"),
          col("embedding").as("q_emb"))
      assert(qEntry.filter(col("q_id") < 10).isEmpty)
      assert(!qEntry.isEmpty, "no entry-id queries")
      for {
        (qName, qf) <- Seq("regime queries" -> q, "entry-id queries" -> qEntry)
        (hops, finalK) <- Seq((4, 3), (0, 5))
      } {
        val (mTopk, mScored) = VectorOps.graphWalkGrid(spark, base, adj, qf,
          grid, hops = hops, finalK = finalK)
        val mTopkRows = mTopk.collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getLong(3), r.getDouble(4)))
        val mVisited = mScored.groupBy(col("__gp"), col("__grp"))
          .agg(count(lit(1)).as("nv")).collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        grid.foreach { case (b, e) =>
          val tag = s"$b:$e"
          val at = s"($b, $e), hops $hops, finalK $finalK, $qName"
          val (sTopk, sScored) = referenceWalk(base, adj, qf, beam = b,
            hops = hops, entries = e, finalK = finalK, pinned)
          val sRows = sTopk.collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
              r.getDouble(3))).toSet
          val gRows = mTopkRows.filter(_._1 == tag)
            .map { case (_, g, qi, v, c) => (g, qi, v, c) }.toSet
          assert(gRows.nonEmpty, s"no top-k rows at $at")
          assert(gRows === sRows, s"top-k diverged at $at")
          val sVisited = sScored.groupBy(col("__grp"))
            .agg(count(lit(1)).as("nv")).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          sVisited.foreach { case (grp, nv) =>
            assert(mVisited.getOrElse((tag, grp), 0L) === nv,
              s"visited count diverged at $at regime $grp")
          }
        }
      }
    } finally {
      pinned.foreach(GraftEngine.unpinCheckpoints)
      VectorOps.releaseCaches()
    }
  }

  test("a 4-hop calibration-grid walk runs at most 12 Spark jobs, the same on every rep") {
    try {
      val (base, adj) = VectorOps.regimeAdj(spark, sfDir)
      val q = base.filter(col("vec_id") < 10)
        .select(col("__grp"), col("vec_id").as("q_id"),
          col("embedding").as("q_emb"))
      val jobs = (1 to 3).map(_ => jobsOf(VectorOps.graphWalkGrid(spark,
        base, adj, q, VectorOps.GraphGrid, hops = 4))._2)
      assert(jobs.forall(_ <= 12), s"graphWalkGrid ran $jobs Spark jobs")
      assert(jobs.distinct.size === 1, s"job count moved across reps: $jobs")
    } finally VectorOps.releaseCaches()
  }

  // == Observed fallbacks: forced at every site, counted, identical ==

  /** Runs `body` with every observed metrics row suppressed and checks
    * that `site`'s fallback counter rose by exactly `calls` — one per
    * observed action the body runs. The hook returns at once, so no
    * case waits out `Observed.TimeoutSeconds`.
    */
  private def forced[A](site: String, calls: Long)(body: => A): A = {
    val before = Observed.fallbacks(site)
    val out = Observed.suppress(body)
    assert(Observed.fallbacks(site) === before + calls,
      s"forced miss at $site did not bump its fallback counter by $calls")
    out
  }

  private def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-foldback-$tag").toString

  private def orders = Tables.load(spark, sfDir, "orders")
    .select(col("o_orderkey"), col("o_totalprice"))

  private def tableRows(dir: String): Seq[String] =
    SnapshotLog.readAsOf(spark, dir, SnapshotLog.version(dir))
      .collect().map(_.toString).sorted.toSeq

  test("forced observe-fold fallback re-reads, counts, and matches the folded stats") {
    def zoneStats(dir: String): Seq[String] = {
      val root = java.nio.file.Paths.get(dir)
      val found = scala.collection.mutable.ArrayBuffer.empty[String]
      java.nio.file.Files.walk(root).forEach { p =>
        if (p.getFileName != null && p.getFileName.toString == "_zonestats")
          found += new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8)
      }
      found.toSeq.sorted
    }
    val (dirA, dirB) = (tempDir("a"), tempDir("b"))
    SnapshotLog.reset(dirA, checkpointInterval = 3)
    SnapshotLog.reset(dirB, checkpointInterval = 3)
    SnapshotLog.append(orders, dirA, col("o_orderkey"))
    forced("segstats", 1)(SnapshotLog.append(orders, dirB, col("o_orderkey")))
    // the fallback's recorded stats are byte-identical to the folded
    // path's (same aggregate over the same persisted rows)
    assert(zoneStats(dirB) === zoneStats(dirA))
    // and the committed table reads identically
    assert(tableRows(dirB) === tableRows(dirA))
  }

  test("forced delete-vector count fallback commits the same MoR deletes") {
    def dvSegs(dir: String): Long = java.nio.file.Files.list(
      java.nio.file.Paths.get(dir))
      .filter(_.getFileName.toString.contains("-dv-")).count()
    val (dirA, dirB) = (tempDir("dva"), tempDir("dvb"))
    Seq(dirA, dirB).foreach { d =>
      SnapshotLog.reset(d)
      SnapshotLog.append(orders, d, col("o_orderkey"))
    }
    // one delete that matches rows (commits a DV) and one that matches
    // none (commits nothing and leaves no DV segment)
    def deletes(dir: String): Seq[Int] = Seq(
      SnapshotLog.deleteMor(spark, dir, pmod(col("o_orderkey"), lit(7L)) === 3L),
      SnapshotLog.deleteMor(spark, dir, col("o_orderkey") < 0L))
    val folded = deletes(dirA)
    assert(folded(1) === folded(0), "an empty delete must not commit")
    assert(forced("dvcount", 2)(deletes(dirB)) === folded)
    assert(dvSegs(dirA) === 1L)
    assert(dvSegs(dirB) === dvSegs(dirA))
    assert(tableRows(dirB) === tableRows(dirA))
  }

  test("forced EM-loss fallback reproduces the unigram trainer exactly") {
    TextOps.releaseCaches()
    try {
      val (pieces, losses, _) = TextOps.unigramLoop(spark, sfDir, rounds = 2)
      TextOps.releaseCaches()
      val (pieces2, losses2, _) =
        forced("em_loss", 2)(TextOps.unigramLoop(spark, sfDir, rounds = 2))
      assert(losses2 === losses)
      assert(pieces2 === pieces)
    } finally TextOps.releaseCaches()
  }

  test("forced label-propagation fallback converges to the same labels") {
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L)).toDF("src", "dst")
    val edges = und.unionAll(und.select(col("dst").as("src"), col("src").as("dst")))
    def labels(): Map[Long, Long] = TextOps.connectedLabels(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val folded = labels()
    assert(folded === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // round 1 moves every label to its component minimum, round 2
    // observes no change: two observed actions
    assert(forced("label_prop", 2)(labels()) === folded)
  }
}
