package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.SnapshotLog
import graft.streaming.SnapshotSource

/** Round-17 advice regressions + continuations: merge-discovery
  * pruning refuses current-time-family stats, cloneShallow unwinds a
  * failed walk, maintainView's churn gate canonicalizes top-level map
  * columns (and falls back — instead of throwing — on maps nested
  * inside arrays/structs).
  */
class Round22OpsSpec extends SparkSpec {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-r22-$tag").toString

  private def rows(n: Int, from: Int = 0) = {
    import spark.implicits._
    (from until from + n).map(k => (k.toLong, k.toLong % 7, s"r$k"))
      .toDF("k", "m", "s")
  }

  private def sortedRows(df: DataFrame): Seq[(Long, Long, String)] =
    df.select(col("k"), col("m"), col("s")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted

  /** Three key-clustered segments: k in [0,100), [100,200), [200,300). */
  private def keyClusteredLog(tag: String,
      statsCols: Seq[(String, String)]): (String, Seq[String]) = {
    val dir = tmp(tag)
    SnapshotLog.reset(dir, checkpointInterval = 4, statsCols = statsCols)
    SnapshotLog.append(rows(100), dir, col("k"))
    SnapshotLog.append(rows(100, from = 100), dir, col("k"))
    SnapshotLog.append(rows(100, from = 200), dir, col("k"))
    (dir, SnapshotLog.segments(dir, 2).map(_.relPath))
  }

  // == merge discovery vs current-time-family stats (round-17 advice) ==

  test("merge discovery refuses to prune on a current-time-family stat") {
    // deterministic=true but drifts between segment-write time and
    // merge time: a stale range could wrongly skip a matched segment
    val (dir, segs) = keyClusteredLog("tprune",
      Seq("kt" -> "k + unix_date(current_date())"))
    val src = rows(11, from = 120)
    val cand = SnapshotLog.mergeCandidateSegs(spark, dir, 2, "k", src)
    // the ONLY stat is time-dependent: full discovery, nothing skipped
    assert(cand.map(_.relPath) === segs)
  }

  test("a rejected time-dependent stat falls through to a clean key stat") {
    val (dir, segs) = keyClusteredLog("tfall",
      Seq("kt" -> "k + unix_date(current_date())", "k" -> "k"))
    val src = rows(11, from = 120).withColumn("s", lit("upd"))
    val cand = SnapshotLog.mergeCandidateSegs(spark, dir, 2, "k", src)
    // pruning survives: the second (time-free) stat prunes to the
    // middle segment exactly as if the poisoned stat were absent
    assert(cand.map(_.relPath) === Seq(segs(1)))
    // and the merge answer is unchanged by the refusal
    val vM = SnapshotLog.merge(spark, src, dir, "k", col("k"))
    val out = sortedRows(SnapshotLog.readAsOf(spark, dir, vM))
    assert(out.size === 300 && out.count(_._3 == "upd") === 11)
  }

  // == cloneShallow failure unwind (round-17 advice) ==

  test("a clone that dies mid-walk unwinds its partial target") {
    val src = tmp("cl-src"); val dst = tmp("cl-dst") + "/t"
    SnapshotLog.reset(src, checkpointInterval = 4,
      statsCols = Seq("k" -> "k"))
    SnapshotLog.append(rows(50), src, col("k"))
    SnapshotLog.append(rows(50, from = 50), src, col("k"))
    val segs = SnapshotLog.segments(src, 1).map(_.relPath)
    // sabotage the SECOND segment's target path with a plain file:
    // the walk links segment 0, then dies on segment 1
    val conflict = Paths.get(dst, segs(1))
    Files.createDirectories(conflict.getParent)
    Files.write(conflict, "in the way".getBytes)
    intercept[java.io.IOException] {
      SnapshotLog.cloneShallow(src, dst)
    }
    // no manifest published, and segment 0's partial links are gone —
    // the fresh-target precondition cannot dead-end a retry
    assert(SnapshotLog.version(dst) < 0)
    assert(Files.notExists(Paths.get(dst, segs(0))))
    // the saboteur file was NOT ours to delete
    assert(Files.exists(conflict))
    Files.delete(conflict)
    assert(SnapshotLog.cloneShallow(src, dst) === 0)
    assert(sortedRows(SnapshotLog.readAsOf(spark, dst, 0)) ===
      sortedRows(SnapshotLog.readAsOf(spark, src, 1)))
  }

  // == maintainView churn gate over map columns (round-17 item 6 +
  // advice: nested maps fall back instead of throwing) ==

  test("churn gate canonicalizes top-level maps: map churn refreshes zero groups") {
    import spark.implicits._
    val base = tmp("ivm-map")
    val src = s"$base/src"; val ck = s"$base/ck"; val view = s"$base/view"
    SnapshotLog.reset(src, checkpointInterval = 4)
    SnapshotLog.reset(view, checkpointInterval = 4)
    def mapRows(n: Int, from: Int = 0) =
      (from until from + n).map(k =>
        (k.toLong, k.toLong % 5, Map("a" -> k.toLong, "b" -> k.toLong % 3)))
        .toDF("k", "m", "mp")
    def refresh(): Unit = {
      SnapshotSource.maintainView(spark, src, ck, view, "grp",
        col("m"), col("n"))(
        _.groupBy(col("grp")).agg(count(lit(1)).as("n"),
          sum(element_at(col("mp"), "a")).as("sum_a")))
      ()
    }
    SnapshotLog.append(mapRows(60), src, col("k"))
    refresh()
    val v0 = SnapshotLog.version(view)
    // churn-only: UPDATE SET mp = mp — pre-round-17 the map column
    // forced every-key-affected; canonicalized it nets to zero
    SnapshotLog.updateMor(spark, src, col("m") === 1,
      Seq("mp" -> col("mp")), col("k"))
    refresh()
    assert(SnapshotLog.version(view) === v0)
    // a REAL map change refreshes exactly its group
    SnapshotLog.updateMor(spark, src, col("m") === 2,
      Seq("mp" -> map_from_arrays(array(lit("a")), array(lit(999L)))),
      col("k"))
    refresh()
    val vAfter = SnapshotLog.version(view)
    assert(vAfter > v0)
    val touched = SnapshotLog.readCdc(spark, view, v0, vAfter)
      .select(col("grp")).distinct().collect().map(_.getLong(0)).toSet
    assert(touched === Set(2L))
    // content ≡ from-scratch recompute
    val got = SnapshotLog.readAsOf(spark, view, vAfter)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val fresh = SnapshotLog.readAsOf(spark, src, SnapshotLog.version(src))
      .groupBy(col("m")).agg(count(lit(1)).as("n"),
        sum(element_at(col("mp"), "a")).as("sa"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got === fresh)
  }

  // == Column rename via stable column ids (round-17 item 2 — the
  // ARCHITECTURE.md design note, built) ==

  test("rename: zero copy, old versions keep old names, new reads new") {
    val dir = tmp("ren")
    SnapshotLog.reset(dir, checkpointInterval = 4,
      statsCols = Seq("k" -> "k"))
    SnapshotLog.append(rows(100), dir, col("k"))
    SnapshotLog.append(rows(100, from = 100), dir, col("k"))
    val segsBefore = SnapshotLog.segments(dir, 1).map(_.relPath)
    val vR = SnapshotLog.renameColumn(spark, dir, "s", "txt")
    assert(vR === 2)
    // zero-copy: every segment carried by reference
    assert(SnapshotLog.segments(dir, vR).map(_.relPath) === segsBefore)
    // the head reads under the new name…
    val now = SnapshotLog.readAsOf(spark, dir, vR)
    assert(now.columns.toSeq === Seq("k", "m", "txt"))
    assert(now.filter(col("txt") === "r5").count() === 1L)
    // …and time travel still reads the old one
    val old = SnapshotLog.readAsOf(spark, dir, 1)
    assert(old.columns.toSeq === Seq("k", "m", "s"))
    assert(now.select(col("k"), col("m"), col("txt").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq.sorted ===
      old.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSeq.sorted)
    // post-rename writers use the new name; the stale name is a drop
    SnapshotLog.append(
      rows(50, from = 200).withColumnRenamed("s", "txt"), dir, col("k"))
    val head = SnapshotLog.readAsOf(spark, dir, SnapshotLog.version(dir))
    assert(head.count() === 250L)
    // mixed name-epochs in ONE snapshot read: pre-rename segments
    // resolve physically-old, post-rename physically-new
    assert(head.filter(col("txt") === "r205").count() === 1L)
    assert(head.filter(col("txt") === "r5").count() === 1L)
    val e = intercept[IllegalArgumentException] {
      SnapshotLog.append(rows(5, from = 300), dir, col("k"))
    }
    assert(e.getMessage.contains("drops column"))
    // history reports the op
    assert(SnapshotLog.history(dir).map(_.opType).contains(Some("rename")))
  }

  test("rename: merge discovery still prunes on the renamed key") {
    val (dir, segs) = keyClusteredLog("renprune", Seq("k" -> "k"))
    SnapshotLog.renameColumn(spark, dir, "k", "kid")
    val src = rows(11, from = 120).withColumn("s", lit("upd"))
      .withColumnRenamed("k", "kid")
    // the stat expression was re-bound (k -> kid) and the sidecar
    // ranges recorded under the STAT name survive: 1-of-3 opens
    val cand = SnapshotLog.mergeCandidateSegs(spark, dir, 3, "kid", src)
    assert(cand.map(_.relPath) === Seq(segs(1)))
    val vM = SnapshotLog.merge(spark, src, dir, "kid", col("kid"))
    val out = SnapshotLog.readAsOf(spark, dir, vM)
      .select(col("kid"), col("m"), col("s")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted
    assert(out.size === 300)
    assert(out.count(_._3 == "upd") === 11)
    assert(out.filter(r => r._1 >= 120 && r._1 <= 130).forall(_._3 == "upd"))
  }

  test("rename: CDC, MoR update/delete and restore cross the rename") {
    val dir = tmp("rencdc")
    SnapshotLog.reset(dir, checkpointInterval = 4)
    SnapshotLog.append(rows(30), dir, col("k"))
    val v0 = SnapshotLog.version(dir)
    val vPre = SnapshotLog.append(rows(30, from = 30), dir, col("k"))
    SnapshotLog.renameColumn(spark, dir, "s", "txt")
    // typed update on the NEW name over OLD-named segments
    SnapshotLog.updateMor(spark, dir, col("m") === 2,
      Seq("txt" -> lit("upd")), col("k"))
    SnapshotLog.deleteMor(spark, dir, col("m") === 5)
    val head = SnapshotLog.version(dir)
    // the feed surfaces the whole window under the HEAD's names —
    // including the v1 insert segment written under the OLD name
    val cdc = SnapshotLog.readCdc(spark, dir, v0, head)
    assert(cdc.columns.contains("txt") && !cdc.columns.contains("s"))
    val ins = cdc.filter(col("_change_type") === "insert")
    assert(ins.count() === 30L)
    assert(ins.filter(col("txt") === "r35").count() === 1L)
    val posts = cdc.filter(col("_change_type") === "update_postimage")
    assert(posts.count() === rows(60).filter(col("m") === 2).count())
    assert(posts.filter(col("txt") === "upd").count() === posts.count())
    // content ≡ the same ops replayed on a rename-free twin
    val twin = tmp("rencdc-twin")
    SnapshotLog.reset(twin, checkpointInterval = 4)
    SnapshotLog.append(rows(60), twin, col("k"))
    SnapshotLog.updateMor(spark, twin, col("m") === 2,
      Seq("s" -> lit("upd")), col("k"))
    SnapshotLog.deleteMor(spark, twin, col("m") === 5)
    def state(d: String, nameS: String) =
      SnapshotLog.readAsOf(spark, d, SnapshotLog.version(d))
        .select(col("k"), col("m"), col(nameS)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted
    assert(state(dir, "txt") === state(twin, "s"))
    // restore to the PRE-RENAME version keeps the CURRENT (renamed)
    // schema — add-only evolution never narrows a reader — and the
    // content is v's exactly
    val vRest = SnapshotLog.restore(spark, dir, vPre, col("k"))
    val restored = SnapshotLog.readAsOf(spark, dir, vRest)
    assert(restored.columns.toSeq === Seq("k", "m", "txt"))
    assert(restored.select(col("k"), col("m"), col("txt")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted
      === sortedRows(SnapshotLog.readAsOf(spark, dir, vPre)))
  }

  test("rename-back and old-name reuse stay disambiguated by id") {
    val dir = tmp("renback")
    SnapshotLog.reset(dir, checkpointInterval = 4)
    SnapshotLog.append(rows(30), dir, col("k"))
    SnapshotLog.renameColumn(spark, dir, "s", "txt")
    SnapshotLog.append(
      rows(30, from = 100).withColumnRenamed("s", "txt"), dir, col("k"))
    // rename BACK: cur == orig again, but the middle segment's
    // physical name is 'txt' — only the id history tells them apart
    SnapshotLog.renameColumn(spark, dir, "txt", "s")
    val back = SnapshotLog.readAsOf(spark, dir, SnapshotLog.version(dir))
    assert(back.columns.toSeq === Seq("k", "m", "s"))
    assert(back.filter(col("s").isNull).count() === 0L)
    assert(back.filter(col("s") === "r105").count() === 1L)
    assert(back.filter(col("s") === "r5").count() === 1L)
    // rename away again and RE-ADD a fresh column under the old name:
    // same string, brand-new id — old text stays under txt2, the new
    // 's' null-fills every pre-add row
    SnapshotLog.renameColumn(spark, dir, "s", "txt2")
    import spark.implicits._
    val withNewS = (200 until 230).map(k =>
      (k.toLong, k.toLong % 7, s"r$k", s"fresh$k"))
      .toDF("k", "m", "txt2", "s")
    SnapshotLog.append(withNewS, dir, col("k"))
    val fin = SnapshotLog.readAsOf(spark, dir, SnapshotLog.version(dir))
    assert(fin.columns.toSeq === Seq("k", "m", "txt2", "s"))
    assert(fin.filter(col("txt2") === "r5" && col("s").isNull).count() === 1L)
    assert(fin.filter(col("s") === "fresh205" &&
      col("txt2") === "r205").count() === 1L)
  }

  test("a clone carries the rename history of its source") {
    val src = tmp("rencl-src"); val dst = tmp("rencl-dst") + "/t"
    SnapshotLog.reset(src, checkpointInterval = 4,
      statsCols = Seq("k" -> "k"))
    SnapshotLog.append(rows(40), src, col("k"))
    SnapshotLog.renameColumn(spark, src, "s", "txt")
    SnapshotLog.append(
      rows(10, from = 100).withColumnRenamed("s", "txt"), src, col("k"))
    assert(SnapshotLog.cloneShallow(src, dst) === 0)
    val got = SnapshotLog.readAsOf(spark, dst, 0)
    assert(got.columns.toSeq === Seq("k", "m", "txt"))
    assert(got.count() === 50L)
    assert(got.filter(col("txt") === "r5").count() === 1L)
    assert(got.filter(col("txt") === "r105").count() === 1L)
  }

  // == Declared clustering spec (round-17 item 7) ==

  test("declared clustering: policy optimize, spec evolution, rename re-bind") {
    val dir = tmp("clby")
    SnapshotLog.reset(dir, checkpointInterval = 4,
      statsCols = Seq("k" -> "k"))
    SnapshotLog.append(rows(100), dir, col("k"))
    SnapshotLog.append(rows(100, from = 100), dir, col("k"))
    // no spec and no dims: refused loudly, not a silent no-op
    val e = intercept[IllegalArgumentException] {
      SnapshotLog.optimize(spark, dir, col("k"))
    }
    assert(e.getMessage.contains("no declared clustering spec"))
    SnapshotLog.setClusterBy(spark, dir, Seq("m"))
    assert(SnapshotLog.clusterByOf(dir) === Seq("m"))
    val before = sortedRows(SnapshotLog.readAsOf(spark, dir, 1))
    val v1 = SnapshotLog.optimize(spark, dir, col("k"))
    // content exact, and history reports BOTH the op and the spec used
    assert(sortedRows(SnapshotLog.readAsOf(spark, dir, v1)) === before)
    val h1 = SnapshotLog.history(dir).last
    assert(h1.opType === Some("optimize") && h1.clusterBy === Some("m"))
    // spec EVOLUTION: replace wholesale; old layouts keep reading
    SnapshotLog.setClusterBy(spark, dir, Seq("k"))
    assert(SnapshotLog.clusterByOf(dir) === Seq("k"))
    val v2 = SnapshotLog.optimize(spark, dir, col("k"))
    assert(SnapshotLog.history(dir).last.clusterBy === Some("k"))
    assert(sortedRows(SnapshotLog.readAsOf(spark, dir, v2)) === before)
    // renameColumn re-binds the declared spec like every other config
    // expression — the policy survives the rename
    SnapshotLog.renameColumn(spark, dir, "k", "kid")
    val spec = SnapshotLog.clusterByOf(dir)
    assert(spec.size === 1 && spec.head.contains("kid"))
    val v3 = SnapshotLog.optimize(spark, dir, col("kid"))
    assert(SnapshotLog.readAsOf(spark, dir, v3)
      .select(col("kid"), col("m"), col("s")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq.sorted === before)
    // a bad expression is refused before anything lands
    intercept[IllegalArgumentException] {
      SnapshotLog.setClusterBy(spark, dir, Seq("not a ( parseable"))
    }
  }

  test("nested maps fall back to every-key-affected instead of throwing") {
    import spark.implicits._
    val base = tmp("ivm-nested")
    val src = s"$base/src"; val ck = s"$base/ck"; val view = s"$base/view"
    SnapshotLog.reset(src, checkpointInterval = 4)
    SnapshotLog.reset(view, checkpointInterval = 4)
    // array<map<...>> passed the old top-level-only check, then blew up
    // in the groupBy at runtime (GROUP_EXPRESSION_TYPE_IS_NOT_ORDERABLE)
    def nestedRows(n: Int, from: Int = 0) =
      (from until from + n).map(k =>
        (k.toLong, k.toLong % 4, Seq(Map("t" -> s"v$k"))))
        .toDF("k", "m", "am")
    def refresh(): Unit = {
      SnapshotSource.maintainView(spark, src, ck, view, "grp",
        col("m"), col("n"))(
        _.groupBy(col("grp")).agg(count(lit(1)).as("n")))
      ()
    }
    SnapshotLog.append(nestedRows(40), src, col("k"))
    refresh() // the round-16 code threw HERE
    // churn still converges (fallback refreshes all groups — safe,
    // just not minimal) and a real delete retires its group
    SnapshotLog.updateMor(spark, src, col("m") === 1,
      Seq("am" -> col("am")), col("k"))
    refresh()
    SnapshotLog.deleteMor(spark, src, col("m") === 3)
    refresh()
    val got = SnapshotLog.readAsOf(spark, view, SnapshotLog.version(view))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fresh = SnapshotLog.readAsOf(spark, src, SnapshotLog.version(src))
      .groupBy(col("m")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === fresh)
    assert(!got.contains(3L))
  }

  // == graph-arm calibration + cross-arm auto-tune (round-17 item 8) ==

  test("graphTuned meets the recall target at minimal measured walk cost") {
    import graft.queries.VectorOps
    Seq("clustered", "isotropic").foreach { regime =>
      val cal = VectorOps.graphCalibration(spark, sfDir, regime)
      assert(cal.map(c => (c.beam, c.entries)) === VectorOps.GraphGrid)
      assert(cal.forall(c => c.recall >= 0.0 && c.recall <= 1.0))
      assert(cal.forall(_.avgVisited > 0.0))
      // measured cost grows with the (beam, entries) dial — the grid
      // is genuinely ascending-cost, so "first qualifying" = cheapest
      assert(cal.map(_.avgVisited) === cal.map(_.avgVisited).sorted)
      val qualifying = cal.filter(_.recall >= 0.9)
      VectorOps.graphTuned(spark, sfDir, 0.9, regime) match {
        case Some((b, e)) =>
          val picked = cal.find(c => c.beam == b && c.entries == e).get
          assert(picked.recall >= 0.9)
          assert(qualifying.forall(_.avgVisited >= picked.avgVisited))
        case None =>
          assert(qualifying.isEmpty)
      }
      // a zero target always tunes to the cheapest grid point
      assert(VectorOps.graphTuned(spark, sfDir, 0.0, regime) ===
        Some(VectorOps.GraphGrid.head))
    }
    // the fixture geometry: the clustered regime's walk reaches the
    // 0.9 SLO within the grid (q210 pins 1.0 at the production dial);
    // the deliberately isotropic corpus does not — the honest miss
    // that sends the cross-arm tuner to IVF/exact
    assert(VectorOps.graphTuned(spark, sfDir, 0.9, "clustered").nonEmpty)
    assert(VectorOps.graphTuned(spark, sfDir, 0.9, "isotropic").isEmpty)
  }

  test("annArmAuto picks the global cost minimum among qualifying arms") {
    import graft.queries.VectorOps
    Seq("clustered", "isotropic").foreach { regime =>
      val table = VectorOps.annArmTable(spark, sfDir, regime)
      assert(table.map(_.arm).toSet === Set("ivfpq", "graph", "exact"))
      val exact = table.filter(_.arm == "exact")
      assert(exact.size === 1)
      assert(exact.head.recall === 1.0)
      // exact cost = corpus size: the 100 TB number every other row
      // is measured against
      assert(exact.head.cost ===
        graft.Tables.load(spark, sfDir, "embeddings").count().toDouble)
      Seq(0.5, 0.9, 0.99).foreach { target =>
        val pick = VectorOps.annArmAuto(spark, sfDir, target, regime)
        assert(pick.recall >= target)
        val qualifying = table.filter(_.recall >= target)
        assert(qualifying.forall(_.cost >= pick.cost))
      }
      // an impossible-to-approximate target falls back to exact
      assert(VectorOps.annArmAuto(spark, sfDir, 1.0, regime).cost <=
        exact.head.cost)
    }
  }

  test("annTopKArm serves row-for-row from the arm the tuner picked") {
    import graft.queries.VectorOps
    val queries = graft.Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def rowsOf(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    // target 0.9 on the isotropic serving corpus: the pick is an
    // IVF point (graph misses SLO there, exact costs the corpus) —
    // the serve must equal the fixed-dial annTopK at that point
    val pick90 = VectorOps.annArmAuto(spark, sfDir, 0.9, "isotropic")
    assert(pick90.arm === "ivfpq")
    assert(rowsOf(VectorOps.annTopKArm(spark, sfDir, queries, 5, 0.9)) ===
      rowsOf(VectorOps.annTopK(spark, sfDir, queries, 5,
        pick90.p1, pick90.p2)))
    // a floor target picks the walk (corpus-independent cost, the
    // cheapest measured row) — exercising the external-query graph
    // serve: right shape, self excluded, deterministic across calls
    val pick0 = VectorOps.annArmAuto(spark, sfDir, 0.0, "isotropic")
    assert(pick0.arm === "graph")
    val g1 = rowsOf(VectorOps.annTopKArm(spark, sfDir, queries, 3, 0.0))
    assert(g1.nonEmpty)
    assert(g1.forall { case (q, v, _, rn) => v != q && rn >= 1 && rn <= 3 })
    g1.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._4).sorted === (1 to rs.size))
      // rn order is cos_r descending (vec_id tiebreak)
      assert(rs.sortBy(_._4).map(_._3).reverse.sorted ===
        rs.sortBy(_._4).map(_._3).reverse)
    }
    assert(rowsOf(VectorOps.annTopKArm(spark, sfDir, queries, 3, 0.0)) === g1)
    // the facade cross-arm entry is the same serve; the IVF-only
    // facade default (annTopKAuto, Round21OpsSpec) is untouched
    val eng = new GraftEngine(spark, sfDir)
    assert(rowsOf(eng.annTopKArm(queries, 3, 0.0)) === g1)
  }

  test("a graph-arm annTopKArm serve ranks the walk on the driver: the windowed ranking's rows, at most 12 Spark jobs") {
    import graft.queries.VectorOps
    import org.apache.spark.sql.expressions.Window
    val queries = graft.Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def rowsOf(rs: Array[org.apache.spark.sql.Row]) = rs.toSeq.map(r => (r.getLong(0),
      r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
    val pick0 = VectorOps.annArmAuto(spark, sfDir, 0.0, "isotropic")
    assert(pick0.arm === "graph")
    // the replaced ranking: a row_number window over the walk's top-k
    val (base, adj) = VectorOps.regimeAdj(spark, sfDir)
    val (topk, _) = VectorOps.graphWalkGrid(spark, base, adj,
      queries.select(lit("isotropic").as("__grp"), col("q_id"), col("q_emb")),
      Seq((pick0.p1, pick0.p2)), hops = 4, finalK = 3)
    val reference = rowsOf(topk.drop("__gp", "__grp")
      .withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("cos_r").desc, col("vec_id"))))
      .select(col("q_id"), col("vec_id"), col("cos_r"), col("rn"))
      .orderBy(col("q_id"), col("rn")).collect())
    val reps = (1 to 3).map(_ =>
      jobsOf(VectorOps.annTopKArm(spark, sfDir, queries, 3, 0.0).collect()))
    info(s"jobs per rep: ${reps.map(_._2)}")
    assert(reps.forall(_._2 <= 12), s"jobs per rep: ${reps.map(_._2)}")
    reps.foreach(r => assert(rowsOf(r._1) === reference))
  }
}
